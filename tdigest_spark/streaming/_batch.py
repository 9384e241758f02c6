"""Shared foreachBatch plumbing for the exactly-once sinks: the
snapshot-table protocol every sketch table commits through.

A snapshot table is a one-symlink Iceberg-style table: ``table_dir`` is
a symlink to ``{table_dir}.snapshots/v{id}`` (or ``v{id}.{rev}`` for a
revision that consumes no id). Each snapshot directory holds the
parquet data AND a ``_meta.json`` recording ``last_batch`` (Spark
readers skip ``_``-prefixed files), and a commit atomically repoints
the symlink with ``os.replace``. Data and the last-merged-batch marker
therefore commit in ONE step: a crash at any point leaves either the
old snapshot (a replay re-merges — correct) or the new one (a replay is
skipped — correct). ``spark.read.parquet(table_dir)`` keeps working
(the symlink resolves transparently).

A missing table is detected explicitly via the pointer, never by
swallowing read errors (a transient read failure must fail the batch,
not silently reset history). Each commit keeps the current snapshot
plus its predecessor and prunes anything older — a reader that
resolved the pointer just before a commit finishes its scan on the
grace generation; it is deleted one commit later, never under a live
reader.

Writers go through :func:`snapshot_upsert` (one replay check, one
incremental merge, one commit) and, when streaming,
:func:`snapshot_sink` (which drains every replayed micro-batch).

Scope: the pointer lives on the driver-local filesystem (or NFS shared
with it), the deployment shape of a foreachBatch driver callback; for
object-storage tables use the Iceberg path in ``sources.catalog``,
whose commit protocol does this natively.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

__all__ = ["drain_batch", "snapshot_sink", "snapshot_upsert", "snapshot_version"]

_META = "_meta.json"


def drain_batch(batch_df: DataFrame) -> None:
    """Fully consume a micro-batch without writing anything.

    An exactly-once sink that detects a replayed (already-committed)
    batch must still PROCESS every partition before skipping its own
    writes: when the upstream query holds a stateful operator
    (``streaming_bloom_dedup``, watermarked windows, ...), Spark only
    commits that operator's per-partition state stores as the batch's
    partitions are consumed, and Spark 4's commit validation fails the
    batch outright (``STATE_STORE_COMMIT_VALIDATION_FAILED``) if the
    sink returns early. The built-in ``noop`` datasource is the
    cheapest full consumer — every partition is computed, nothing is
    serialized or stored.
    """
    batch_df.write.format("noop").mode("overwrite").save()


def _last_committed_batch(table_dir: str) -> int | None:
    """Resolve the snapshot pointer: the last-merged batch id, or None
    if the table doesn't exist yet."""
    if os.path.lexists(table_dir) and not os.path.islink(table_dir):
        raise ValueError(
            f"snapshot sink: {table_dir!r} exists as a plain directory "
            "(pre-snapshot-pointer layout); move it aside or start a "
            "new table_dir"
        )
    if not os.path.lexists(table_dir):
        return None
    with open(os.path.join(table_dir, _META)) as f:
        return json.load(f)["last_batch"]


def _parse_snap(name: str) -> tuple[int, int] | None:
    """Snapshot dir name -> (batch_id, rev); ``v7`` -> (7, 0),
    ``v7.2`` -> (7, 2); None for anything else."""
    if not name.startswith("v"):
        return None
    id_s, _, rev_s = name[1:].partition(".")
    if not id_s.isdigit() or (rev_s and not rev_s.isdigit()):
        return None
    return (int(id_s), int(rev_s or 0))


def snapshot_version(table_dir: str) -> tuple[int, int] | None:
    """``(last_batch, rev)`` of the snapshot the pointer resolves to
    (rev 0 for a plain ``v{id}`` dir), or None if there is no table."""
    last = _last_committed_batch(table_dir)
    if last is None:
        return None
    parsed = _parse_snap(os.path.basename(os.readlink(table_dir)))
    if parsed is None:  # pragma: no cover - foreign symlink target
        raise ValueError(f"{table_dir!r} does not point at a snapshot dir")
    return last, parsed[1]


def _split_touched(old: DataFrame, keys_df: DataFrame, by: Sequence[str]):
    """(touched, untouched) split of ``old`` by membership of its key
    tuple in ``keys_df`` — NULL-SAFE: a plain ``join(keys, by)`` uses
    NULL-unequal semantics, so a NULL-keyed group would never match
    the semi side and a duplicate row would be appended on every
    batch (one row per ingest instead of one per group).

    The key side is re-aliased to fresh names first: when ``keys_df``
    derives from the same plan as ``old`` (e.g. a filter split of one
    table), same-name refs would resolve to the SAME attribute —
    trivially-true predicates at best, AnalysisException at worst."""
    keys_df = keys_df.select([keys_df[c].alias(f"_k_{c}") for c in by])
    cond = None
    for c in by:
        eq = old[c].eqNullSafe(keys_df[f"_k_{c}"])
        cond = eq if cond is None else (cond & eq)
    return (
        old.join(keys_df, cond, "left_semi"),
        old.join(keys_df, cond, "left_anti"),
    )


def _commit_snapshot(
    merged: DataFrame, table_dir: str, batch_id: int, rev: int = 0
) -> None:
    """Write ``merged`` as snapshot ``v{batch_id}[.{rev}]`` and
    atomically repoint ``table_dir`` at it, then prune all but the new
    snapshot and its predecessor.

    ``rev`` > 0 commits a REVISION of an existing batch id — same
    marker, fresh directory: writing under a NEW path keeps the plan's
    lazy reads of the current snapshot valid (overwriting ``v{batch_id}``
    in place would delete the very files the merge job is still
    scanning through the symlink) and keeps the commit atomic."""
    snap_root = f"{table_dir}.snapshots"
    snap = os.path.join(snap_root, f"v{batch_id}" + (f".{rev}" if rev else ""))
    merged.write.mode("overwrite").parquet(snap)
    with open(os.path.join(snap, _META), "w") as f:
        json.dump({"last_batch": batch_id}, f)
    # the commit point: one atomic pointer swap (data + marker)
    tmplink = f"{table_dir}.lnk.tmp"
    if os.path.lexists(tmplink):
        os.remove(tmplink)
    os.symlink(os.path.abspath(snap), tmplink)
    os.replace(tmplink, table_dir)
    gens = sorted(
        (p, s) for s in os.listdir(snap_root) if (p := _parse_snap(s)) is not None
    )
    for _, old in gens[:-2]:
        shutil.rmtree(os.path.join(snap_root, old), ignore_errors=True)


def snapshot_upsert(
    spark: SparkSession,
    table_dir: str,
    keys: Sequence[str],
    build: Callable[[DataFrame | None], tuple[DataFrame | None, DataFrame]],
    merge: Callable[[DataFrame, list[str]], DataFrame],
    ingest_id: int | None = None,
    bump_id: bool = True,
) -> int | None:
    """Fold one batch into the snapshot table; returns the committed
    ingest id, or None if ``ingest_id`` was already committed (replay
    no-op — nothing is built or written).

    ``build(old)`` gets the committed table (None before the first
    commit) and returns ``(base, new)``: the rows to carry forward
    (usually ``old`` itself) and the rows to fold in. Only the groups
    of ``base`` whose ``keys`` appear in ``new`` go through
    ``merge(df, keys)`` together with ``new``; every other row passes
    through byte-identical, so per-batch work is O(touched groups).
    Keyless tables merge ``base`` and ``new`` whole. The result keeps
    ``base``'s column order.

    ``ingest_id`` defaults to the next id (0 for a new table).
    ``bump_id=False`` re-commits the CURRENT id of an existing table as
    a fresh revision instead of consuming one — for maintenance passes
    over a table whose id chain a streaming checkpoint owns."""
    keys = list(keys)
    ver = snapshot_version(table_dir)
    last = None if ver is None else ver[0]
    rev = 0
    if not bump_id:
        if ingest_id is not None:
            raise ValueError("ingest_id and bump_id=False are mutually exclusive")
        ingest_id, rev = last, ver[1] + 1
    elif ingest_id is None:
        ingest_id = 0 if last is None else last + 1
    elif last is not None and ingest_id <= last:
        return None
    base, new = build(None if last is None else spark.read.parquet(table_dir))
    if base is None:
        merged = new
    elif keys:
        # `new` feeds both the key set and the merge: build it once
        new = new.localCheckpoint(eager=True)
        touched, untouched = _split_touched(base, new.select(*keys).distinct(), keys)
        merged = merge(touched.unionByName(new), keys).unionByName(untouched)
    else:
        merged = merge(base.unionByName(new), keys)
    if base is not None:
        merged = merged.select(*base.columns)
    _commit_snapshot(merged, table_dir, ingest_id, rev)
    return ingest_id


def snapshot_sink(
    stream: DataFrame,
    checkpoint_dir: str,
    upsert: Callable[[DataFrame, int], int | None],
):
    """Start a ``foreachBatch`` query where each micro-batch is
    ``upsert(batch_df, batch_id)`` — a :func:`snapshot_upsert` at the
    stream's batch id. A replayed batch (upsert returns None) is
    drained, so upstream state stores still commit. Returns the
    StreamingQuery."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if upsert(batch_df, batch_id) is None:
            drain_batch(batch_df)  # replayed batch: already merged

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
