"""Streaming t-digest — the reference's on-line accumulator
("on-line accumulation", tdigest.cabal:4; ``insert`` =
``Tree/Internal.hs:452-457``) re-expressed in Structured Streaming.

Three shapes:

* :func:`stateful_digest_stream` — ``applyInPandasWithState``: one
  t-digest per group key held in stream state, updated vectorized per
  micro-batch (the digest IS the state — O(delta) bytes per key, so
  state store size is bounded regardless of stream length). Emits
  updated rank stats per key per batch.

* :func:`windowed_digest_stream` — event-time tumbling windows with
  watermark eviction; with ``emit="digest"`` it emits the mergeable
  digest struct per finalized window, which composes into STREAMING
  SLIDING windows: pane-sized tumbling windows in the stream (each row
  touched once, bounded state), sliding windows derived from the pane
  digests by associative merge (``digest_agg.panes_to_sliding``).

* :func:`digest_sink` — ``foreachBatch`` merging each micro-batch's
  partial digests into a checkpoint parquet table via the same
  associative merge as the batch path (streaming query == incremental
  batch job; exactly-once per micro-batch through the snapshot-table
  protocol of ``streaming._batch``). :func:`sketch_sink` is its twin
  for the companion sketches.

Late data: both shapes compose with ``withWatermark`` upstream —
rows later than the watermark are dropped by Spark before they reach
the digest update (SQL-aggregate semantics; the digest itself is
order-insensitive within bound so no special handling is needed).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from tdigest_spark.operators.digest_agg import DIGEST_TYPE
from tdigest_spark.sketch.tdigest import TDigest
from tdigest_spark.streaming._batch import snapshot_sink, snapshot_upsert

__all__ = [
    "stateful_digest_stream",
    "windowed_digest_stream",
    "digest_sink",
    "sketch_sink",
]

def _load_digest(state: GroupState, delta: int) -> TDigest:
    """Decode the digest held in ``state`` — GroupState rows are plain
    tuples in ``DIGEST_TYPE`` field order — or a fresh empty one."""
    if not state.exists:
        return TDigest.empty(delta)
    return TDigest.from_row(dict(zip(DIGEST_TYPE.fieldNames(), state.get)))


def _store_digest(state: GroupState, dig: TDigest) -> None:
    """Encode ``dig`` into ``state`` as a ``DIGEST_TYPE``-ordered tuple
    of plain Python values (lists, not numpy arrays, for the state
    serializer)."""
    state.update(
        (
            dig.means.tolist(),
            dig.weights.tolist(),
            float(dig.total_weight),
            float(dig.vmin),
            float(dig.vmax),
            int(dig.delta),
        )
    )


def stateful_digest_stream(
    stream: DataFrame,
    value_col: str,
    by: Sequence[str],
    delta: int = 200,
    quantiles: Sequence[float] = (0.5, 0.99),
) -> DataFrame:
    """Per-key continuously-updated digest over an unbounded stream.

    Output (update mode) per key per micro-batch:
    (by..., n_values, q_50, q_99, ... one col per requested quantile).
    """
    by = list(by)
    out_schema = T.StructType(
        [stream.schema[c] for c in by]
        + [T.StructField("n_values", T.LongType())]
        + [
            T.StructField(f"q_{str(q).replace('.', '_')}", T.DoubleType())
            for q in quantiles
        ]
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        dig = _load_digest(state, delta)
        for pdf in pdfs:
            dig = dig.add_values(pdf[value_col].to_numpy())
        dig = dig.compressed()
        _store_digest(state, dig)
        row = {c: [k] for c, k in zip(by, key)}
        row["n_values"] = [int(dig.total_weight)]
        for q in quantiles:
            row[f"q_{str(q).replace('.', '_')}"] = [dig.quantile(q)]
        yield pd.DataFrame(row)

    return stream.groupBy(*by).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=DIGEST_TYPE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_digest_stream(
    stream: DataFrame,
    value_col: str,
    ts_col: str,
    by: Sequence[str] = (),
    window_duration: str = "7 days",
    watermark: str = "1 day",
    delta: int = 200,
    quantiles: Sequence[float] = (0.5, 0.99),
    emit: str = "stats",
) -> DataFrame:
    """Event-time tumbling-window digests with watermark-driven state
    eviction — the windowed/late-data shape SURVEY.md §8 lists as a
    round-1 gap.

    One digest per (window, key) lives in stream state; rows later than
    the watermark are dropped by Spark before the update. Each window's
    state carries an event-time timeout at ``window_end`` — once the
    watermark passes it, the window fires one last row with
    ``final=true`` and its state is EVICTED, so state-store size is
    O(active windows x keys x delta) regardless of stream length (the
    property that matters for an unbounded 100 TB/day ingest).

    ``emit``: ``"stats"`` (default) outputs (window_start, window_end,
    by..., n_values, q_*..., final); ``"digest"`` outputs the DIGEST
    STRUCT itself instead of the quantile columns — the mergeable form.
    Emitting digests is how STREAMING SLIDING windows work at scale:
    run this with ``window_duration`` = one PANE (gcd(window, slide)),
    sink the ``final=true`` pane digests to a table, and derive every
    sliding window by associative merge with
    ``operators.digest_agg.panes_to_sliding`` — the stream holds
    O(active panes x keys) state and touches each row once, while the
    window/slide fan-out happens on O(delta)-sized digests at read
    time (late data within the watermark lands in its pane before the
    pane finalizes).
    """
    if emit not in ("stats", "digest"):
        raise ValueError(f"windowed_digest_stream: unknown emit mode {emit!r}")
    by = list(by)
    src = stream.withWatermark(ts_col, watermark)
    # the window struct carries the watermark tag — it must survive to
    # the stateful operator as the grouping column (extracting
    # start/end here would strip the tag and break event-time timeout)
    keyed = src.select(
        F.window(ts_col, window_duration).alias("__w"),
        *by,
        F.col(value_col).cast("double").alias(value_col),
    )
    if emit == "digest":
        tail_fields = [T.StructField("digest", DIGEST_TYPE)]
    else:
        tail_fields = [T.StructField("n_values", T.LongType())] + [
            T.StructField(f"q_{str(q).replace('.', '_')}", T.DoubleType())
            for q in quantiles
        ]
    out_schema = T.StructType(
        [
            T.StructField("window_start", T.TimestampType()),
            T.StructField("window_end", T.TimestampType()),
        ]
        + [stream.schema[c] for c in by]
        + tail_fields
        + [T.StructField("final", T.BooleanType())]
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        w = key[0]
        ws, we = w["start"], w["end"]
        group = key[1:]

        def emit_row(dig: TDigest, final: bool) -> pd.DataFrame:
            row = {"window_start": [ws], "window_end": [we]}
            for c, k in zip(by, group):
                row[c] = [k]
            if emit == "digest":
                row["digest"] = [dig.to_row()]
            else:
                row["n_values"] = [int(dig.total_weight)]
                for q in quantiles:
                    row[f"q_{str(q).replace('.', '_')}"] = [dig.quantile(q)]
            row["final"] = [final]
            return pd.DataFrame(row)

        if state.hasTimedOut:
            # watermark passed window end: fire final result, evict
            dig = _load_digest(state, delta)
            state.remove()
            yield emit_row(dig, final=True)
            return
        dig = _load_digest(state, delta)
        for pdf in pdfs:
            dig = dig.add_values(pdf[value_col].to_numpy())
        dig = dig.compressed()
        _store_digest(state, dig)
        # evict when the watermark passes the end of this window; key
        # timestamps are naive UTC wall time (session tz is UTC), and
        # the timeout must lie strictly past the current watermark
        we_ms = int(pd.Timestamp(we).tz_localize("UTC").timestamp() * 1000)
        state.setTimeoutTimestamp(max(we_ms, state.getCurrentWatermarkMs() + 1))
        yield emit_row(dig, final=False)

    return keyed.groupBy("__w", *by).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=DIGEST_TYPE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def digest_sink(
    stream: DataFrame,
    value_col: str,
    by: Sequence[str],
    table_dir: str,
    checkpoint_dir: str,
    delta: int = 200,
):
    """foreachBatch sink: merge each micro-batch into a digest parquet
    table under the snapshot-table protocol of ``streaming._batch``
    (one atomic symlink swap commits the merged data together with the
    last-merged batch id, so a crash at any point leaves a consistent
    table and a replayed batch is skipped). Only groups present in the
    micro-batch go through the merge; untouched groups' digests pass
    through byte-identical — which is also more faithful, since
    re-merging a lone digest at working delta could re-compress it for
    no reason. Returns the StreamingQuery."""
    from tdigest_spark.operators.digest_agg import tdigest_agg, tdigest_merge_agg

    by = list(by)

    def upsert(batch_df: DataFrame, batch_id: int) -> int | None:
        return snapshot_upsert(
            batch_df.sparkSession,
            table_dir,
            by,
            lambda old: (old, tdigest_agg(batch_df, value_col, by=by, delta=delta)),
            lambda df, keys: tdigest_merge_agg(df, by=keys),
            ingest_id=batch_id,
        )

    return snapshot_sink(stream, checkpoint_dir, upsert)


def sketch_sink(
    stream: DataFrame,
    specs: dict[str, tuple],
    by: Sequence[str],
    table_dir: str,
    checkpoint_dir: str,
    strategy: str = "partials",
):
    """foreachBatch sink for the COMPANION sketches — the
    HLL / CMS / KLL / Bloom (and any other registered kind, incl.
    "kmv" samples and blob-form "td" digests) counterpart of
    :func:`digest_sink`, so every sketch family the north rule names
    accumulates incrementally and resumably, not just the t-digest. Each micro-batch builds its
    sketches in one pass (``sketch_build``; ``specs`` maps output
    column -> ``(kind, value_col, *params)``) and merges them into a
    checkpoint parquet table of binary blobs (``sketch_merge_agg``)
    under the same snapshot-table protocol as :func:`digest_sink` —
    exactly-once per micro-batch, crash-safe replay, readable at any
    time via ``spark.read.parquet(table_dir)``.

    Accuracy: HLL (register max), CMS (counter add) and Bloom (bit OR)
    merges are exactly chunking-invariant, so the streamed table equals
    the batch build over the same rows bit-for-bit; KLL matches exactly
    while lossless (n within capacity) and stays inside its published
    rank bound beyond. Returns the StreamingQuery."""
    from tdigest_spark.operators.sketch_agg import (
        _norm_specs,
        sketch_build,
        sketch_merge_agg,
    )

    by = list(by)
    specs = dict(specs)
    # validate + derive blob-column kinds up front (fail at sink
    # construction, not mid-stream); sketch_build normalizes again
    kinds = {name: sp[0] for name, sp in _norm_specs(specs).items()}

    def upsert(batch_df: DataFrame, batch_id: int) -> int | None:
        return snapshot_upsert(
            batch_df.sparkSession,
            table_dir,
            by,
            lambda old: (old, sketch_build(batch_df, specs, by=by, strategy=strategy)),
            lambda df, keys: sketch_merge_agg(df, kinds, by=keys, strategy=strategy),
            ingest_id=batch_id,
        )

    return snapshot_sink(stream, checkpoint_dir, upsert)
