"""Streaming near-duplicate ingest: a continuous crawl deduplicating
against everything already indexed, with exactly-once index commits.

:mod:`tdigest_spark.operators.neardup_index` gives a recurring crawl
the persisted MinHash-LSH band index; this module closes the loop for
*streaming* ingest, where ``foreachBatch`` may replay a micro-batch
after a failure. A replayed plain ``append_neardup_index`` would
double the batch's shingle rows — and ``jaccard_verify`` counts rows,
so doubled shingles silently corrupt every later Jaccard involving
those ids. The sink therefore commits LSM-style:

- each micro-batch writes its (band, shard)-partitioned band rows and
  hashed shingles into its OWN segment directory
  (``batches/b<batch_id>``) with ``mode=overwrite`` — a replay rewrites
  the same deterministic content, never doubles it;
- a ``_manifest.json`` listing the committed segments is swapped in
  via write-temp + ``os.replace`` — the ONE atomic step. A crash
  before the swap leaves an unreferenced directory the replay
  overwrites; after it, the replay is skipped by the batch-id marker.
  Either way: exactly-once.
- :func:`compact_neardup_segments` folds the accumulated per-batch
  segments (plus an optional pre-existing
  :func:`~tdigest_spark.operators.neardup_index.build_neardup_index`
  base) into one segment and repoints the manifest — the standard
  LSM / lakehouse answer to small-file buildup from streaming ingest.

Dedup semantics per micro-batch: candidates come from the band join of
the batch against (committed segments ∪ the batch itself), verified
with exact shingle Jaccard — so a crawl that fetches the same page
twice in one batch collapses it too, not just across batches. With
``drop_matched=True`` (the keep-first policy) a batch doc matching the
index is dropped, and of a within-batch pair the larger id is dropped;
only survivors enter the index, so the index stays duplicate-free and
later batches dedup against canonical copies.

Scale shape: each batch pays ONE shingle+signature pass; the probe
join carries 8-byte band hashes and prunes the segment scans with the
batch's touched (band, shard) partitions (same IN-list filter as
``neardup_pairs_indexed``); verify touches only candidate ids'
shingles. Segment count is bounded by compaction cadence. The manifest
lives on the driver-local filesystem (or NFS shared with it) — the
deployment shape of a ``foreachBatch`` driver callback, same scope
note as ``digest_stream.digest_sink``; object-storage tables get this
commit protocol natively from the Iceberg path in ``sources.catalog``.

No reference counterpart (the reference is a numeric-sketch library,
``tdigest/src/Data/TDigest/Internal.hs:4-7``); public-algorithm basis:
Broder 1997 (MinHash), MMDS ch. 3 (banded LSH), the LSM/manifest
commit pattern of Iceberg/Delta streaming sinks.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from tdigest_spark.operators.dedup import jaccard_verify
from tdigest_spark.streaming._batch import drain_batch
from tdigest_spark.operators.neardup_index import (
    _BANDS_SUB,
    _PARAMS_FILE,
    _SHINGLES_SUB,
    _index_rows,
    _load_params,
    _replace_json,
)

__all__ = [
    "neardup_ingest_sink",
    "compact_neardup_segments",
    "read_neardup_pairs",
]

_MANIFEST_FILE = "_manifest.json"
_BATCHES_SUB = "batches"
_COMPACT_SUB = "compacted"


def _manifest_path(index_dir: str) -> str:
    return os.path.join(index_dir, _MANIFEST_FILE)


def _load_manifest(index_dir: str) -> dict:
    p = _manifest_path(index_dir)
    if not os.path.exists(p):
        # a pre-existing build_neardup_index base (params + tables,
        # no manifest yet) enters as segment "." — the streaming sink
        # composes with the batch operator's index transparently
        segs = []
        if os.path.isdir(os.path.join(index_dir, _BANDS_SUB)):
            segs = ["."]
        return {"last_batch": None, "segments": segs}
    with open(p) as f:
        return json.load(f)


def _commit_manifest(index_dir: str, manifest: dict) -> None:
    """Atomic manifest swap: write-temp + ``os.replace`` — data dirs
    and the replay marker become visible in one step."""
    _replace_json(_manifest_path(index_dir), manifest)


def _ensure_params(index_dir: str, **params) -> dict:
    """Pin hash parameters on first use; later batches (and appends via
    the batch operator) must band identically, so an existing sidecar
    always wins."""
    path = os.path.join(index_dir, _PARAMS_FILE)
    if os.path.exists(path):
        return _load_params(index_dir)
    os.makedirs(index_dir, exist_ok=True)
    _replace_json(path, params)
    return params


def _segment_tables(
    spark: SparkSession, index_dir: str, segments: list[str], fmt: str | None
) -> tuple[DataFrame | None, DataFrame | None]:
    """(bands, shingles) as unions over the manifest's segments; None
    when the index is empty (first batch ever)."""
    from tdigest_spark.sources.catalog import read_table

    bands = sh = None
    for seg in segments:
        base = os.path.normpath(os.path.join(index_dir, seg))
        b = read_table(spark, os.path.join(base, _BANDS_SUB), fmt=fmt)
        s = read_table(spark, os.path.join(base, _SHINGLES_SUB), fmt=fmt)
        bands = b if bands is None else bands.unionByName(b)
        sh = s if sh is None else sh.unionByName(s)
    return bands, sh


def _prune_probe(
    idx_bands: DataFrame, q_bands: DataFrame, max_probe_partitions: int
) -> DataFrame:
    """Push the batch's distinct (band, shard) set as an IN-list
    partition filter — a driver-side collect of partition KEYS, never
    rows (bounded by bands x n_shards; same rule as
    ``neardup_pairs_indexed``)."""
    probed = [
        (int(r["band"]), int(r["shard"]))
        for r in q_bands.select("band", "shard").distinct().collect()
    ]
    if 0 < len(probed) <= max_probe_partitions:
        cond = None
        for b, s in probed:
            leg = (F.col("band") == b) & (F.col("shard") == s)
            cond = leg if cond is None else (cond | leg)
        idx_bands = idx_bands.where(cond)
    return idx_bands


def neardup_ingest_sink(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.6,
    shingle_k: int = 3,
    n_hashes: int = 64,
    bands: int = 16,
    n_shards: int = 32,
    drop_matched: bool = True,
    max_probe_partitions: int = 512,
    on_survivors=None,
):
    """foreachBatch sink: near-dup-check each micro-batch against the
    index (and against itself), emit verified pairs, index the
    survivors, commit exactly-once. Returns the StreamingQuery.

    ``on_survivors(survivors_df, batch_id)``: optional hook receiving
    the batch's surviving ORIGINAL rows (full input schema) before the
    manifest commit — downstream writes made here (idempotent ones:
    deterministic per-batch overwrite, like the sink's own tables)
    inherit the sink's exactly-once guarantee, because a crash after
    the hook but before the commit replays the whole batch. This is
    the composition point for ingest pipelines (see
    ``jobs.crawl_ingest``).

    Pairs land under ``pairs_dir/b<batch_id>`` with schema
    ``(batch_doc, matched_doc, jaccard, matched_in_batch)`` —
    ``matched_doc`` is the canonical copy (an indexed doc, or with
    ``matched_in_batch=true`` the smaller-id member of a within-batch
    pair) and ``batch_doc`` the non-canonical duplicate on both pair
    kinds. Read them back with :func:`read_neardup_pairs`. With
    ``drop_matched=True`` every ``batch_doc`` is excluded from the
    index (keep-first); with ``False`` everything is indexed and pairs
    are advisory.

    Batch ids must be globally unique across the stream (the same
    contract as ``append_neardup_index``) and orderable (the
    within-batch keep-first policy keeps the smaller id).
    """
    if n_hashes % bands:
        raise ValueError("neardup_ingest_sink: bands must divide n_hashes")
    from pyspark import StorageLevel

    from tdigest_spark.sources.catalog import write_table

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        manifest = _load_manifest(index_dir)
        if manifest["last_batch"] is not None and batch_id <= manifest["last_batch"]:
            drain_batch(batch_df)  # replayed batch: already committed
            return
        p = _ensure_params(
            index_dir,
            id_col=id_col,
            shingle_k=shingle_k,
            n_hashes=n_hashes,
            bands=bands,
            n_shards=n_shards,
            fmt=None,
        )
        q_bands, q_sh = _index_rows(
            batch_df, id_col, text_col,
            p["shingle_k"], p["n_hashes"], p["bands"], p["n_shards"],
        )
        # every pin is released on every path: a micro-batch that fails
        # must not leave CacheManager entries for the life of the session
        pins = [
            q_bands.persist(StorageLevel.MEMORY_AND_DISK),
            q_sh.persist(StorageLevel.MEMORY_AND_DISK),
        ]
        try:
            idx_bands, idx_sh = _segment_tables(
                spark, index_dir, manifest["segments"], p.get("fmt")
            )
            # probe side = committed index ∪ the batch itself, flagged —
            # the same page fetched twice in one batch must collapse too
            probe = q_bands.withColumn("is_new", F.lit(True))
            if idx_bands is not None:
                probe = probe.unionByName(
                    _prune_probe(idx_bands, q_bands, max_probe_partitions)
                    .withColumn("is_new", F.lit(False))
                )
            cands = (
                q_bands.alias("q")
                .join(
                    probe.alias("x"),
                    (F.col("q.band") == F.col("x.band"))
                    & (F.col("q.bh") == F.col("x.bh")),
                )
                .select(
                    F.col(f"q.{id_col}").alias("id_a"),
                    F.col(f"x.{id_col}").alias("id_b"),
                    F.col("x.is_new").alias("is_new"),
                )
                .where(F.col("id_a") != F.col("id_b"))
                # within-batch pairs arrive in both orientations — keep the
                # (larger, smaller) one so id_a is the non-canonical doc on
                # BOTH pair kinds; cross pairs keep (batch, index) as-is
                .where((~F.col("is_new")) | (F.col("id_a") > F.col("id_b")))
                .distinct()
                # sink-managed pin (pin_pairs=False below)
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            pins.append(cands)
            both_sh = q_sh if idx_sh is None else q_sh.unionByName(idx_sh)
            pairs = (
                jaccard_verify(
                    cands.drop("is_new"), both_sh, id_col,
                    hash_col="sh", pin_pairs=False,
                )
                .where(F.col("jaccard") >= threshold)
                .join(cands, ["id_a", "id_b"])
                .select(
                    F.col("id_a").alias("batch_doc"),
                    F.col("id_b").alias("matched_doc"),
                    "jaccard",
                    F.col("is_new").alias("matched_in_batch"),
                )
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            pins.append(pairs)
            write_table(pairs, os.path.join(pairs_dir, f"b{batch_id}"))

            if drop_matched:
                # batch_doc is the non-canonical side of every pair kind
                dropped = pairs.select(F.col("batch_doc").alias(id_col)).distinct()
                keep_bands = q_bands.join(dropped, id_col, "left_anti")
                keep_sh = q_sh.join(dropped, id_col, "left_anti")
                survivors = batch_df.join(dropped, id_col, "left_anti")
            else:
                keep_bands, keep_sh = q_bands, q_sh
                survivors = batch_df
            if on_survivors is not None:
                on_survivors(survivors, batch_id)

            if not keep_bands.isEmpty():
                seg = os.path.join(_BATCHES_SUB, f"b{batch_id}")
                seg_abs = os.path.join(index_dir, seg)
                fmt = write_table(
                    keep_bands, os.path.join(seg_abs, _BANDS_SUB),
                    partition_by=("band", "shard"),
                )
                write_table(keep_sh, os.path.join(seg_abs, _SHINGLES_SUB))
                if p.get("fmt") != fmt:
                    # pin the actual table format for later sessions' reads
                    # (idempotent rewrite — same content on replay)
                    p["fmt"] = fmt
                    _replace_json(os.path.join(index_dir, _PARAMS_FILE), p)
                manifest["segments"] = manifest["segments"] + [seg]
            # an all-dropped batch still advances the replay marker —
            # an empty segment directory would be unreadable parquet
            manifest["last_batch"] = batch_id
            _commit_manifest(index_dir, manifest)
        finally:
            for df in pins:
                df.unpersist()

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_neardup_pairs(spark: SparkSession, pairs_dir: str) -> DataFrame:
    """All emitted pairs across batches. Per-batch dirs are written
    with deterministic overwrite, so a crash-then-replay leftover is
    byte-identical to its committed twin — the glob read is safe.

    Pairs are written through ``write_table`` (Iceberg when the runtime
    has it, else parquet), so they must be read back through
    ``read_table``'s matching probe — a hardcoded parquet read would
    misread an Iceberg-enabled deployment's pairs tables."""
    from tdigest_spark.sources.catalog import read_table

    subs = sorted(
        os.path.join(pairs_dir, d)
        for d in os.listdir(pairs_dir)
        if d.startswith("b")
    )
    if not subs:
        raise ValueError(f"read_neardup_pairs: no batch dirs under {pairs_dir}")
    return read_table(spark, *subs)


def compact_neardup_segments(
    spark: SparkSession, index_dir: str, prune: bool = True
) -> int:
    """Fold all committed segments into ONE and repoint the manifest —
    the LSM compaction that keeps probe fan-out and file counts flat
    under continuous ingest. Rows are unioned verbatim (ids are unique
    across segments by the ingest contract, so there is nothing to
    dedup) and the band table is rewritten (band, shard)-partitioned,
    restoring single-segment partition pruning.

    Commit order is crash-safe like the sink: write the compacted
    segment, swap the manifest, THEN prune. A crash before the swap
    leaves an unreferenced compacted dir (the next compaction
    overwrites it); after it, the old segments are garbage a later
    ``prune`` sweep removes. ``prune=False`` keeps them for readers
    mid-scan (local-fs grace caveat, as in ``digest_sink``).
    Returns the number of segments folded."""
    from tdigest_spark.sources.catalog import write_table

    manifest = _load_manifest(index_dir)
    segs = manifest["segments"]
    if len(segs) <= 1:
        return len(segs)
    p = _load_params(index_dir)
    bands_df, sh_df = _segment_tables(spark, index_dir, segs, p.get("fmt"))
    gen = 0
    comp_root = os.path.join(index_dir, _COMPACT_SUB)
    if os.path.isdir(comp_root):
        gens = [int(d[1:]) for d in os.listdir(comp_root) if d[1:].isdigit()]
        gen = max(gens) + 1 if gens else 0
    seg = os.path.join(_COMPACT_SUB, f"c{gen}")
    seg_abs = os.path.join(index_dir, seg)
    if os.path.isdir(seg_abs):  # unreferenced crash leftover
        shutil.rmtree(seg_abs)
    write_table(
        bands_df, os.path.join(seg_abs, _BANDS_SUB),
        partition_by=("band", "shard"),
    )
    write_table(sh_df, os.path.join(seg_abs, _SHINGLES_SUB))
    _commit_manifest(
        index_dir, {"last_batch": manifest["last_batch"], "segments": [seg]}
    )
    if prune:
        for old in segs:
            if old == ".":
                for sub in (_BANDS_SUB, _SHINGLES_SUB):
                    shutil.rmtree(os.path.join(index_dir, sub), ignore_errors=True)
            else:
                shutil.rmtree(
                    os.path.normpath(os.path.join(index_dir, old)),
                    ignore_errors=True,
                )
    return len(segs)
