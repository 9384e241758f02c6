"""Hypertable rollup: an incrementally-maintained time-bucketed digest
table (the "continuous aggregate" shape).

Raw events land in batches; the rollup table holds ONE digest row per
(time bucket, keys) — O(buckets x groups x delta), not O(rows) — and
each ingest touches only the buckets present in the new data. Coarser
windows (day -> week -> month) are answered by MERGING bucket digests,
never by rescanning raw data: the same mergeability that powers the
partial/final aggregate powers the rollup lattice.

Storage/commit protocol is the snapshot-table protocol of
``streaming._batch`` that ``digest_sink`` and ``sketch_sink`` also use
(one atomic symlink swap carries data + the last-ingest marker): every
upsert, downsample and sink here is a ``snapshot_upsert`` that supplies
only its build and its merge, so batch ingests get the same crash
safety and replay idempotence without a streaming checkpoint:

- ``hypertable_upsert`` — digest the new rows per (bucket, keys); only
  touched buckets pay the merge. Re-running an ingest id is a no-op.
- ``hypertable_window_stats`` — stats over any window that is a
  multiple of the bucket: merge O(window/bucket) digest rows per
  output row, all from the rollup table.

- ``hypertable_downsample`` — tiered retention policy (the
  TimescaleDB/Influx shape): buckets older than each tier's age are
  MERGED into coarser buckets (day -> week -> month), buckets past
  ``drop_older_than`` are removed. Mergeability makes the whole pass a
  sketch-sized job — raw data is never revisited, and the table gets
  SMALLER with age instead of growing without bound.

Granularity tracking: the first downsample adds a ``bucket_sec``
column recording each row's bucket width (rows at the base width get
the base value). ``hypertable_window_stats`` validates every row's
width divides the requested window before merging; ``hypertable_upsert``
keeps the column alive — late data landing in an already-coarsened
region merges ADDITIVELY (digest union covers every raw row exactly
once, so window stats stay correct; the merged row keeps the coarsest
contributing width).

Companion-sketch twin: ``sketch_hypertable_upsert`` /
``sketch_hypertable_window`` / ``sketch_hypertable_downsample`` are
the same lifecycle over HLL / CMS / KLL / Bloom blob columns ("distinct
users per week, answered from the rollup table") — the merge engine is
the only thing that differs (register-max / counter-add / compactor
union instead of centroid merge), so all three share the digest
implementation's core via an injected merge function.

At 100 TB: the ingest scans only the new raw partitions; the rollup
table itself stays O(buckets x groups) rows forever, so the
maintenance merge and every window query are sketch-sized jobs.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from tdigest_spark.operators.digest_agg import (
    tdigest_agg,
    tdigest_merge_agg,
    tdigest_stats,
)
from tdigest_spark.streaming._batch import (
    snapshot_sink,
    snapshot_upsert,
    snapshot_version,
)

__all__ = [
    "gapfill_windows",
    "hypertable_downsample",
    "hypertable_info",
    "hypertable_sink",
    "hypertable_sliding_stats",
    "hypertable_upsert",
    "hypertable_window_stats",
    "sketch_hypertable_downsample",
    "sketch_hypertable_sink",
    "sketch_hypertable_sliding",
    "sketch_hypertable_upsert",
    "sketch_hypertable_window",
    "time_bucket",
]


def time_bucket(ts_col: str, bucket_sec: int, out_col: str = "bucket_start"):
    """Tumbling time-bucket start as a timestamp column (codegen)."""
    e = F.col(ts_col).cast("timestamp").cast("double")
    return (
        (F.floor(e / F.lit(int(bucket_sec))) * F.lit(int(bucket_sec)))
        .cast("timestamp")
        .alias(out_col)
    )


def _epoch(as_of) -> float:
    """``as_of`` (epoch seconds, ISO string, or datetime; naive values
    read as UTC) -> epoch seconds. Explicit-parameter design: retention
    decisions must be reproducible, never wall-clock-implicit."""
    from datetime import datetime, timezone

    if isinstance(as_of, bool):
        raise TypeError("as_of must be epoch seconds, ISO string, or datetime")
    if isinstance(as_of, (int, float)):
        return float(as_of)
    if isinstance(as_of, str):
        as_of = datetime.fromisoformat(as_of)
    if isinstance(as_of, datetime):
        if as_of.tzinfo is None:
            as_of = as_of.replace(tzinfo=timezone.utc)
        return as_of.timestamp()
    raise TypeError("as_of must be epoch seconds, ISO string, or datetime")


def _nullsafe_inner(left: DataFrame, right: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Inner join on ``keys`` with NULL == NULL (group keys may be NULL;
    a plain equi-join would silently drop those groups). Right-side key
    duplicates removed."""
    # prefix the right-side keys: both inputs often derive from the
    # same plan, and lineage-based column refs would be ambiguous
    right = right.withColumnsRenamed({c: f"_r_{c}" for c in keys})
    cond = None
    for c in keys:
        eq = F.col(c).eqNullSafe(F.col(f"_r_{c}"))
        cond = eq if cond is None else cond & eq
    return left.join(right, cond, "inner").drop(*[f"_r_{c}" for c in keys])


def _width_carry(merge_fn):
    """Wrap the per-group merge ``merge_fn(df, keys)`` (digest or
    companion-sketch engine) so that, on a downsampled table, each
    merged row carries the coarsest contributing ``bucket_sec`` (late
    data merged into an already-coarsened bucket keeps that bucket's
    width — the sketch union still covers every raw row exactly once,
    so window stats stay correct)."""

    def merge(union: DataFrame, keys: list[str]) -> DataFrame:
        if "bucket_sec" not in union.columns:
            return merge_fn(union, keys)
        merged = merge_fn(union.drop("bucket_sec"), keys)
        widths = union.groupBy(*keys).agg(F.max("bucket_sec").alias("bucket_sec"))
        return _nullsafe_inner(merged, widths, keys)

    return merge


def _downsample_core(
    spark: SparkSession,
    table_dir: str,
    bucket_sec: int,
    as_of,
    tiers,
    drop_older_than,
    ingest_id,
    value_cols: Sequence[str],
    merge_fn,
    bump_id: bool = True,
) -> int | None:
    """Shared tiered-retention pass (see :func:`hypertable_downsample`
    for semantics). ``value_cols`` are the sketch columns (everything
    else except ``bucket_start``/``bucket_sec`` is a group key);
    ``merge_fn(df, keys)`` is the per-group merge engine.

    ``bump_id=False`` re-commits at the CURRENT id instead of consuming
    the next one — required for tables fed by a STREAMING sink, whose
    checkpoint drives the batch-id chain (a bumped id would make the
    sink silently skip its next real micro-batch as a replay).
    Idempotence is then structural, not id-based: re-running the same
    downsample finds no eligible rows (already-coarse rows fail the
    ``bucket_sec < width`` gate) and commits identical data."""
    if isinstance(tiers, Mapping):
        tiers = list(tiers.items())
    tiers = sorted((float(a), int(w)) for a, w in tiers)
    prev_w = int(bucket_sec)
    for age, width in tiers:
        if width <= 0 or width % int(bucket_sec) != 0:
            raise ValueError(
                f"tier width {width} must be a positive multiple of "
                f"bucket_sec ({bucket_sec})"
            )
        if width <= prev_w:
            raise ValueError(
                "tier widths must strictly increase with age "
                f"(got width {width} at age {age} after width {prev_w})"
            )
        if width % prev_w != 0:
            # the chain requirement keeps every coarsening a strict
            # re-bucketing: a week row can never straddle a 30-day
            # "month" boundary if months don't exist — each width must
            # nest inside the next (day -> week -> 4 weeks), or a
            # straddling row's mass would land in the wrong window
            raise ValueError(
                "tier widths must form a divisibility chain "
                f"(width {width} at age {age} is not a multiple of the "
                f"previous width {prev_w})"
            )
        prev_w = width
    if snapshot_version(table_dir) is None:
        raise ValueError(f"hypertable_downsample: no table at {table_dir!r}")
    now = _epoch(as_of)

    t = spark.read.parquet(table_dir)
    keys = [
        c for c in t.columns if c not in ("bucket_start", "bucket_sec", *value_cols)
    ]
    if "bucket_sec" not in t.columns:
        t = t.withColumn("bucket_sec", F.lit(int(bucket_sec)).cast("long"))
    start = F.col("bucket_start").cast("double")
    if drop_older_than is not None:
        t = t.filter(start + F.col("bucket_sec") > F.lit(now - float(drop_older_than)))

    # coarsest applicable tier per row (ascending build -> coarsest
    # tested first in the final expression); never refine an
    # already-coarser row
    width_expr = F.col("bucket_sec")
    for age, width in tiers:
        tgt_start = F.floor(start / F.lit(width)) * F.lit(width)
        eligible = (
            (tgt_start + F.lit(width) <= F.lit(now - age))
            & (F.col("bucket_sec") < F.lit(width))
            # containment guard: the row's CURRENT bucket must nest
            # inside the target bucket. Impossible to violate for rows
            # this schedule produced (widths form a divisibility
            # chain), but a table carrying widths from an EARLIER,
            # different schedule could straddle the target boundary —
            # such rows stay at their width rather than mis-bucket
            & (start + F.col("bucket_sec") <= tgt_start + F.lit(width))
        )
        width_expr = F.when(eligible, F.lit(width).cast("long")).otherwise(width_expr)
    t = t.withColumn("_new_sec", width_expr).withColumn(
        "_new_start",
        (F.floor(start / F.col("_new_sec")) * F.col("_new_sec")).cast("timestamp"),
    )
    changed = (
        t.filter(F.col("_new_sec") != F.col("bucket_sec"))
        .drop("bucket_start", "bucket_sec")
        .withColumnsRenamed({"_new_start": "bucket_start", "_new_sec": "bucket_sec"})
    )
    unchanged = t.filter(F.col("_new_sec") == F.col("bucket_sec")).drop(
        "_new_start", "_new_sec"
    )
    # only key groups a changed row lands on pay the merge (a re-run
    # can fold newly-old base rows into an existing coarse row)
    return snapshot_upsert(
        spark,
        table_dir,
        ["bucket_start", *keys],
        lambda old: (unchanged, changed),
        _width_carry(merge_fn),
        ingest_id=ingest_id,
        bump_id=bump_id,
    )


def hypertable_downsample(
    spark: SparkSession,
    table_dir: str,
    bucket_sec: int,
    as_of,
    tiers: Sequence[tuple[float, int]] | Mapping[float, int] = (),
    drop_older_than: float | None = None,
    ingest_id: int | None = None,
    bump_id: bool = True,
) -> int | None:
    """Apply a tiered retention policy to the rollup table: rows whose
    ENTIRE target coarse bucket is older than a tier's age (relative to
    ``as_of``) are re-bucketed at that tier's width and merged; rows
    whose bucket ends before ``as_of - drop_older_than`` are removed.

    ``tiers`` is ``[(age_sec, width_sec), ...]`` (or a mapping): "once a
    bucket is ``age_sec`` old, hold it at ``width_sec`` granularity".
    The coarsest applicable tier wins. Each width must be a positive
    multiple of ``bucket_sec``, and widths must increase with age (a
    finer tier at an older age could never apply — reject it loudly).

    A row coarsens into width W only when ``floor(start/W)*W + W <=
    as_of - age`` — i.e. the whole target bucket is past the threshold,
    so it can never receive on-time data again (late data still merges
    additively via ``hypertable_upsert``). Rows are digests, so the
    merge is a sketch-sized groupBy over the rollup table; raw data is
    never revisited.

    Commits as its own ingest id on the snapshot pointer (returned;
    ``None`` if ``ingest_id`` was already committed — replay no-op).
    Mixing explicit-id upserts with downsamples: account for the id the
    downsample consumes, or pass ids explicitly everywhere. For a table
    fed by a STREAMING sink (:func:`hypertable_sink`), pass
    ``bump_id=False`` — the stream's checkpoint owns the id chain, and
    consuming an id here would make the resumed sink skip its next real
    micro-batch as a replay.
    """
    return _downsample_core(
        spark,
        table_dir,
        bucket_sec,
        as_of,
        tiers,
        drop_older_than,
        ingest_id,
        value_cols=("digest",),
        merge_fn=lambda df, keys: tdigest_merge_agg(df, by=keys),
        bump_id=bump_id,
    )


def sketch_hypertable_downsample(
    spark: SparkSession,
    table_dir: str,
    bucket_sec: int,
    as_of,
    kinds: Mapping[str, str],
    tiers: Sequence[tuple[float, int]] | Mapping[float, int] = (),
    drop_older_than: float | None = None,
    ingest_id: int | None = None,
    bump_id: bool = True,
) -> int | None:
    """:func:`hypertable_downsample` for a companion-sketch rollup
    table (``kinds`` maps blob column -> sketch kind, as in
    ``sketch_merge_agg``). HLL / CMS / Bloom coarsening is EXACT
    (register max / counter add / bit OR are re-associations); KLL is
    exact while lossless and within its published rank bound beyond.
    ``bump_id=False`` as in :func:`hypertable_downsample` (required for
    :func:`sketch_hypertable_sink`-fed tables)."""
    from tdigest_spark.operators.sketch_agg import sketch_merge_agg

    kinds = dict(kinds)
    return _downsample_core(
        spark,
        table_dir,
        bucket_sec,
        as_of,
        tiers,
        drop_older_than,
        ingest_id,
        value_cols=tuple(kinds),
        merge_fn=lambda df, keys: sketch_merge_agg(df, kinds, by=keys),
        bump_id=bump_id,
    )


def hypertable_upsert(
    rows: DataFrame,
    value_col: str,
    ts_col: str,
    bucket_sec: int,
    table_dir: str,
    by: Sequence[str] = (),
    delta: int = 200,
    ingest_id: int | None = None,
) -> int | None:
    """Merge one batch of raw rows into the rollup table. Returns the
    committed ingest id, or None if ``ingest_id`` was already merged
    (replay no-op). Rows with NULL timestamps are skipped (no bucket)."""
    return _bucket_upsert(
        rows,
        ts_col,
        bucket_sec,
        table_dir,
        by,
        ingest_id,
        build=lambda df, keys: tdigest_agg(df, value_col, by=keys, delta=delta),
        merge_fn=lambda df, keys: tdigest_merge_agg(df, by=keys),
    )


def _bucket_upsert(
    rows: DataFrame,
    ts_col: str,
    bucket_sec: int,
    table_dir: str,
    by: Sequence[str],
    ingest_id: int | None,
    build,
    merge_fn,
) -> int | None:
    """Shared upsert body: bucket the rows, ``build(df, keys)`` one
    sketch row per (bucket, keys), and fold them into the table with
    the width-carrying ``merge_fn``."""
    keys = ["bucket_start", *by]
    bucketed = rows.withColumn("bucket_start", time_bucket(ts_col, bucket_sec)).filter(
        F.col("bucket_start").isNotNull()
    )

    def build_new(old: DataFrame | None):
        new = build(bucketed, keys)
        if old is not None and "bucket_sec" in old.columns:
            # downsampled table: keep per-row granularity alive
            new = new.withColumn("bucket_sec", F.lit(int(bucket_sec)).cast("long"))
        return old, new

    return snapshot_upsert(
        rows.sparkSession,
        table_dir,
        keys,
        build_new,
        _width_carry(merge_fn),
        ingest_id=ingest_id,
    )


def sketch_hypertable_upsert(
    rows: DataFrame,
    specs: dict[str, tuple],
    ts_col: str,
    bucket_sec: int,
    table_dir: str,
    by: Sequence[str] = (),
    strategy: str = "partials",
    ingest_id: int | None = None,
) -> int | None:
    """:func:`hypertable_upsert` for the companion sketches: one pass
    builds EVERY spec'd sketch per (bucket, keys) (``specs`` maps blob
    column -> ``(kind, value_col, *params)``, as in ``sketch_build``)
    and merges only touched buckets. The rollup table answers
    "distinct users / top sources / char quantiles per day" forever at
    O(buckets x groups) blob rows; HLL / CMS / Bloom merges are exact
    re-associations, so the incrementally-built table equals the
    one-shot batch build bit-for-bit."""
    from tdigest_spark.operators.sketch_agg import (
        _norm_specs,
        sketch_build,
        sketch_merge_agg,
    )

    kinds = {name: sp[0] for name, sp in _norm_specs(dict(specs)).items()}
    return _bucket_upsert(
        rows,
        ts_col,
        bucket_sec,
        table_dir,
        by,
        ingest_id,
        build=lambda df, keys: sketch_build(df, specs, by=keys, strategy=strategy),
        merge_fn=lambda df, keys: sketch_merge_agg(df, kinds, by=keys),
    )


def hypertable_window_stats(
    spark: SparkSession,
    table_dir: str,
    bucket_sec: int,
    window_sec: int,
    stats: Mapping[str, tuple],
    by: Sequence[str] = (),
) -> DataFrame:
    """Stats per (window_start, keys) for any window that is a whole
    multiple of the bucket — computed by merging bucket digests from
    the rollup table; raw data is never touched."""
    t = _windowed_rows(spark, table_dir, bucket_sec, window_sec)
    merged = tdigest_merge_agg(t, by=["window_start", *list(by)])
    return tdigest_stats(merged, dict(stats))


def _windowed_rows(
    spark: SparkSession, table_dir: str, bucket_sec: int, window_sec: int
) -> DataFrame:
    """Rollup rows re-keyed by window_start, width-validated: every
    row's bucket width must divide the window (the distinct width set
    is O(#tiers) — bounded by construction)."""
    if window_sec % bucket_sec != 0 or window_sec <= 0:
        raise ValueError(
            f"window_sec ({window_sec}) must be a positive multiple of "
            f"bucket_sec ({bucket_sec})"
        )
    t = spark.read.parquet(table_dir)
    if "bucket_sec" in t.columns:
        widths = [r[0] for r in t.select("bucket_sec").distinct().collect()]
        bad = sorted(w for w in widths if window_sec % w != 0)
        if bad:
            raise ValueError(
                f"window_sec ({window_sec}) must be a multiple of every "
                f"row's bucket width; offending widths: {bad}"
            )
        t = t.drop("bucket_sec")
    win = time_bucket("bucket_start", window_sec, out_col="window_start")
    return t.withColumn("window_start", win).drop("bucket_start")


def sketch_hypertable_window(
    spark: SparkSession,
    table_dir: str,
    bucket_sec: int,
    window_sec: int,
    kinds: Mapping[str, str],
    estimates: Mapping[str, tuple],
    by: Sequence[str] = (),
) -> DataFrame:
    """:func:`hypertable_window_stats` for a companion-sketch rollup:
    per (window_start, keys) estimates (``estimates`` as in
    ``sketch_estimates``) computed by merging bucket blobs from the
    rollup table — "distinct users per week" without ever rescanning
    (or even retaining) the raw rows."""
    from tdigest_spark.operators.sketch_agg import (
        sketch_estimates,
        sketch_merge_agg,
    )

    t = _windowed_rows(spark, table_dir, bucket_sec, window_sec)
    merged = sketch_merge_agg(t, dict(kinds), by=["window_start", *list(by)])
    return sketch_estimates(merged, dict(estimates))


def _sliding_rows(
    spark: SparkSession,
    table_dir: str,
    bucket_sec: int,
    window_sec: int,
    slide_sec: int,
) -> DataFrame:
    """Rollup rows fanned out to every SLIDING window that fully covers
    them (``__ws`` = window start, epoch seconds, + sketch/key columns).

    Width validation: every row's bucket width must divide BOTH the
    window and the slide — window edges are then always bucket edges,
    so no bucket ever straddles a window boundary. A downsampled table
    holds O(#tiers) distinct widths (bounded by construction); each
    width group fans out through the shared pane-explode at its own
    pane size and the groups union — still one job, no shuffle until
    the per-window merge."""
    from tdigest_spark.operators.digest_agg import explode_panes_to_windows

    if window_sec <= 0 or slide_sec <= 0:
        raise ValueError("window_sec and slide_sec must be positive")
    t = spark.read.parquet(table_dir)
    if "bucket_sec" in t.columns:
        widths = sorted(r[0] for r in t.select("bucket_sec").distinct().collect())
    else:
        t = t.withColumn("bucket_sec", F.lit(int(bucket_sec)).cast("long"))
        widths = [int(bucket_sec)]
    bad = [w for w in widths if window_sec % w or slide_sec % w]
    if bad:
        raise ValueError(
            f"window_sec ({window_sec}) and slide_sec ({slide_sec}) must "
            f"be multiples of every row's bucket width; offending "
            f"widths: {bad}"
        )
    payload = [c for c in t.columns if c not in ("bucket_start", "bucket_sec")]
    if not widths:
        # a retention pass can legitimately empty the table; match
        # _windowed_rows' graceful empty result instead of indexing
        return t.select(F.lit(0).cast("long").alias("__ws"), *payload).limit(0)
    parts = []
    for w in widths:
        rows_w = (
            t.filter(F.col("bucket_sec") == w)
            .withColumn(
                "__pane",
                F.floor(F.col("bucket_start").cast("double") / F.lit(int(w))).cast(
                    "long"
                ),
            )
            .select("__pane", *payload)
        )
        parts.append(
            explode_panes_to_windows(
                rows_w, int(w), int(window_sec), int(slide_sec),
                payload_cols=payload,
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _ws_to_timestamp(df: DataFrame, tail_cols: Sequence[str]) -> DataFrame:
    return df.select(
        F.timestamp_micros((F.col("__ws") * 1_000_000).cast("long")).alias(
            "window_start"
        ),
        *tail_cols,
    )


def hypertable_sliding_stats(
    spark: SparkSession,
    table_dir: str,
    bucket_sec: int,
    window_sec: int,
    slide_sec: int,
    stats: Mapping[str, tuple],
    by: Sequence[str] = (),
) -> DataFrame:
    """Stats per SLIDING (window_start, keys) — "trailing 7-day
    quantiles, updated daily" — from the rollup table alone: each
    bucket digest fans out to the O(window/slide) windows covering it
    and windows merge associatively, so the whole query is
    O(buckets x window/slide x groups) digest rows; raw data is never
    rescanned. Window and slide must be multiples of every row's
    bucket width (see :func:`_sliding_rows`); after downsampling, that
    means trailing windows over old coarse regions need window/slide
    at the coarse granularity — exactly the resolution the retention
    policy chose to keep."""
    ex = _sliding_rows(spark, table_dir, bucket_sec, window_sec, slide_sec)
    by = list(by)
    merged = tdigest_merge_agg(ex, by=["__ws", *by])
    return tdigest_stats(_ws_to_timestamp(merged, [*by, "digest"]), dict(stats))


def sketch_hypertable_sliding(
    spark: SparkSession,
    table_dir: str,
    bucket_sec: int,
    window_sec: int,
    slide_sec: int,
    kinds: Mapping[str, str],
    estimates: Mapping[str, tuple],
    by: Sequence[str] = (),
) -> DataFrame:
    """:func:`hypertable_sliding_stats` for a companion-sketch rollup:
    sliding-window estimates ("distinct users in the trailing 7 days,
    updated daily") by fanning bucket blobs to their covering windows
    and merging — HLL / CMS / Bloom merges are exact re-associations,
    so the sliding estimates equal a from-raw build's exactly."""
    from tdigest_spark.operators.sketch_agg import (
        sketch_estimates,
        sketch_merge_agg,
    )

    kinds = dict(kinds)
    ex = _sliding_rows(spark, table_dir, bucket_sec, window_sec, slide_sec)
    by = list(by)
    merged = sketch_merge_agg(ex, kinds, by=["__ws", *by])
    return sketch_estimates(
        _ws_to_timestamp(merged, [*by, *kinds]), dict(estimates)
    )


def gapfill_windows(
    df: DataFrame,
    window_sec: int,
    by: Sequence[str] = (),
    fill: str = "null",
    window_col: str = "window_start",
    start=None,
    end=None,
) -> DataFrame:
    """Densify a windowed stats/estimates table (the TimescaleDB
    ``time_bucket_gapfill`` shape): emit EVERY epoch-aligned window in
    the covered range for every group, so dashboards see gaps instead
    of silently skipping empty periods. Composable over any
    (window_start, keys, values...) table — the output of
    ``hypertable_window_stats``, ``sketch_hypertable_window``, their
    sliding twins, or any windowed aggregate.

    ``fill="null"``: missing windows carry NULL values. ``"locf"``
    (last observation carried forward): missing windows repeat the
    group's most recent observed values (leading gaps stay NULL); the
    value columns are packed into ONE struct before the
    ``last(ignorenulls)`` window so a gap can never mix fields from
    different source rows. Interpolation is deliberately not offered —
    linearly interpolating quantiles or distinct counts is
    statistically meaningless.

    ``start``/``end`` (epoch seconds, ISO string, or datetime) extend
    or clip the densified range; default is the observed min/max
    window per the whole table. Output adds a ``gap_filled`` boolean.

    Scale shape: the grid is groups x O(range/window) rows — rollup-
    sized, never raw data. The locf window partitions by group (keyless
    input -> one partition of O(windows) rows, bounded by the range)."""
    from pyspark.sql import Window

    if fill not in ("null", "locf"):
        raise ValueError(f"gapfill_windows: unknown fill mode {fill!r}")
    if window_sec <= 0:
        raise ValueError("window_sec must be positive")
    by = list(by)
    vals = [c for c in df.columns if c != window_col and c not in by]
    spark = df.sparkSession
    w = int(window_sec)
    ep = F.col(window_col).cast("double")
    bounds = None
    if start is None or end is None:
        b = df.agg(F.min(ep).alias("lo"), F.max(ep).alias("hi")).collect()[0]
        if b["lo"] is None and (start is None or end is None):
            return df.withColumn("gap_filled", F.lit(False)).limit(0)
        bounds = b
    lo = _epoch(start) if start is not None else bounds["lo"]
    hi = _epoch(end) if end is not None else bounds["hi"]
    lo_k, hi_k = int(lo // w), int(hi // w)
    if hi_k < lo_k:
        raise ValueError(f"empty gapfill range: start {lo} > end {hi}")
    groups = df.select(*by).distinct() if by else spark.range(1).drop("id")
    grid = (
        groups.withColumn(
            "__wk", F.explode(F.sequence(F.lit(lo_k), F.lit(hi_k)))
        )
        .withColumn(window_col, F.timestamp_seconds(F.col("__wk") * F.lit(w)))
        .drop("__wk")
    )
    # null-safe LEFT join: group keys may be NULL; right side renamed
    # (grid derives from df — same-plan refs would be ambiguous)
    right = df.withColumnsRenamed({c: f"_r_{c}" for c in [window_col, *by]})
    cond = F.col(window_col).eqNullSafe(F.col(f"_r_{window_col}"))
    for c in by:
        cond = cond & F.col(c).eqNullSafe(F.col(f"_r_{c}"))
    joined = grid.join(right, cond, "left")
    present = F.col(f"_r_{window_col}").isNotNull()
    if fill == "locf":
        packed = F.when(present, F.struct(*[F.col(c) for c in vals]))
        spec = (
            Window.partitionBy(*by) if by else Window.partitionBy()
        ).orderBy(window_col).rowsBetween(Window.unboundedPreceding, 0)
        filled = F.last(packed, ignorenulls=True).over(spec)
        out_vals = [filled[c].alias(c) for c in vals]
    else:
        out_vals = [F.col(c) for c in vals]
    return joined.select(
        window_col,
        *by,
        *out_vals,
        (~present).alias("gap_filled"),
    )


def hypertable_info(
    spark: SparkSession,
    table_dir: str,
    bucket_sec: int,
    value_cols: Sequence[str] = ("digest",),
) -> dict:
    """Observability snapshot of a rollup table (the metrics half of
    the checkpoint/lineage story): the committed ingest id + snapshot
    revision from the pointer, group keys, and per-width bucket counts
    with their time coverage — one sketch-sized scan of the rollup
    table (never raw data). Returns a plain dict so jobs can log it as
    JSON next to their manifests.

    ``value_cols`` are the sketch columns (``("digest",)`` for the
    t-digest table; the blob columns for a companion-sketch table)."""
    from datetime import datetime, timezone

    ver = snapshot_version(table_dir)
    if ver is None:
        raise ValueError(f"hypertable_info: no table at {table_dir!r}")
    last, rev = ver
    t = spark.read.parquet(table_dir)
    if "bucket_sec" not in t.columns:
        t = t.withColumn("bucket_sec", F.lit(int(bucket_sec)).cast("long"))
    keys = [
        c for c in t.columns if c not in ("bucket_start", "bucket_sec", *value_cols)
    ]
    # both coverage endpoints computed from EPOCH seconds and rendered
    # in UTC: a collected TimestampType would render via the driver's
    # OS timezone, disagreeing with the UTC arithmetic endpoint on any
    # non-UTC host
    per_width = (
        t.groupBy("bucket_sec")
        .agg(
            F.count("*").alias("rows"),
            F.min(F.col("bucket_start").cast("double")).alias("first_start"),
            F.max(
                F.col("bucket_start").cast("double") + F.col("bucket_sec")
            ).alias("last_end"),
        )
        .collect()
    )

    def _utc(sec: float) -> str:
        return str(
            datetime.fromtimestamp(sec, timezone.utc).replace(tzinfo=None)
        )
    return {
        "last_ingest_id": last,
        "snapshot_rev": rev,
        "group_keys": keys,
        "value_cols": list(value_cols),
        "n_rows": sum(r["rows"] for r in per_width),
        "widths": {
            int(r["bucket_sec"]): {
                "rows": r["rows"],
                "first_start": _utc(r["first_start"]),
                "last_end": _utc(r["last_end"]),
            }
            for r in per_width
        },
    }


def hypertable_sink(
    stream: DataFrame,
    value_col: str,
    ts_col: str,
    bucket_sec: int,
    table_dir: str,
    checkpoint_dir: str,
    by: Sequence[str] = (),
    delta: int = 200,
):
    """Streaming front door to the hypertable: a ``foreachBatch`` sink
    where every micro-batch is a :func:`hypertable_upsert` at the
    stream's batch id (same atomic snapshot-pointer commit as
    ``digest_sink``, so a replayed micro-batch is a no-op and a crash
    at any point leaves a consistent table). The continuous aggregate
    is maintained live: at any moment ``hypertable_window_stats`` on
    ``table_dir`` answers day/week/month windows from O(buckets x
    groups) digest rows, raw stream rows never retained.

    The stream's checkpoint OWNS the table's ingest-id chain: do not
    mix explicit-id batch upserts into a sink-fed table, and run
    retention maintenance (:func:`hypertable_downsample`) with
    ``bump_id=False`` so it never consumes an id the resumed stream
    will present next (the sink would silently skip that real
    micro-batch as a replay). Returns the StreamingQuery.

    Late data composes upstream exactly as for ``digest_sink``
    (``withWatermark`` before the sink if bounded lateness is wanted;
    without it every late row still merges additively into its bucket
    — the upsert touches only that bucket's row)."""
    by = list(by)
    return snapshot_sink(
        stream,
        checkpoint_dir,
        lambda batch_df, batch_id: hypertable_upsert(
            batch_df, value_col, ts_col, bucket_sec, table_dir,
            by=by, delta=delta, ingest_id=batch_id,
        ),
    )


def sketch_hypertable_sink(
    stream: DataFrame,
    specs: dict[str, tuple],
    ts_col: str,
    bucket_sec: int,
    table_dir: str,
    checkpoint_dir: str,
    by: Sequence[str] = (),
    strategy: str = "partials",
):
    """:func:`hypertable_sink` for the companion sketches: each
    micro-batch is a :func:`sketch_hypertable_upsert` (``specs`` as in
    ``sketch_build``), so "distinct users / top sources per day"
    accumulates live into an O(buckets x groups) blob table with
    exactly-once micro-batch semantics. Same id-chain ownership rule:
    downsample a sink-fed table only with ``bump_id=False``. Returns
    the StreamingQuery."""
    from tdigest_spark.operators.sketch_agg import _norm_specs

    specs = dict(specs)
    _norm_specs(specs)  # validate at sink construction, not mid-stream
    by = list(by)
    return snapshot_sink(
        stream,
        checkpoint_dir,
        lambda batch_df, batch_id: sketch_hypertable_upsert(
            batch_df, specs, ts_col, bucket_sec, table_dir,
            by=by, strategy=strategy, ingest_id=batch_id,
        ),
    )
