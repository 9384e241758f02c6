"""Streaming heavy hitters — bounded Misra-Gries state per group.

The batch operator (``operators/topk.py::approx_topk``) gets EXACT
counts by re-scanning the input restricted to the candidate set; an
unbounded stream cannot re-scan, so the streaming form carries the
Misra-Gries deterministic bound instead: every key's true count lies
in ``[cnt_min, cnt_min + dec_total]`` where ``cnt_min`` is its
surviving residual (0 for evicted keys) and ``dec_total`` is the EXACT
accumulated decrement carried in state — 0 (so counts are exact) until
the first eviction, and never more than the classic ``n // (cap + 1)``
guarantee (``_mg_add_batch``'s docstring).

State per group is O(cap) counters FOREVER — stream length never grows
it (the same bounded-state discipline as ``streaming_bloom_dedup``,
vs. a naive streaming ``groupBy(key).count()`` whose state store holds
one row per DISTINCT key and grows without bound on a high-cardinality
100 TB-scale stream).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from tdigest_spark.operators.topk import _MG_CAP_FACTOR, _mg_add_batch

__all__ = ["stateful_topk_stream"]

_MG_STATE_TYPE = T.StructType(
    [
        T.StructField("keys", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("n_rows", T.LongType()),
        # exact accumulated decrement (sum of _mg_add_batch returns):
        # the error interval actually incurred — 0 until the first
        # eviction, never more than n // (cap + 1)
        T.StructField("dec_total", T.LongType()),
    ]
)


def stateful_topk_stream(
    stream: DataFrame,
    key_col: str,
    by: Sequence[str],
    k: int = 10,
    m: int | None = None,
) -> DataFrame:
    """Per-group top-k most frequent ``key_col`` values over an
    unbounded stream, re-emitted each micro-batch the group appears in.

    Output (update mode): (by..., key_col string, cnt_min long,
    cnt_max long, rank int, n_rows long) — rank 1..k by cnt_min desc
    then value asc (deterministic); the key's true count so far is
    provably within [cnt_min, cnt_max]. While the group has seen fewer
    distinct keys than the summary capacity (``8 * m``), no decrement
    has fired and cnt_min IS the exact count.

    ``m`` is the candidate breadth (default ``max(4k, 64)``, as in the
    batch operator); capacity is ``_MG_CAP_FACTOR * m``.
    """
    by = list(by)
    m = m or max(4 * k, 64)
    cap = _MG_CAP_FACTOR * m
    src = stream.select(*by, F.col(key_col).cast("string").alias(key_col))
    out_schema = T.StructType(
        [src.schema[c] for c in by]
        + [
            T.StructField(key_col, T.StringType()),
            T.StructField("cnt_min", T.LongType()),
            T.StructField("cnt_max", T.LongType()),
            T.StructField("rank", T.IntegerType()),
            T.StructField("n_rows", T.LongType()),
        ]
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            keys, counts, n, dec = state.get
            acc = {kk: int(c) for kk, c in zip(keys, counts)}
            n, dec = int(n), int(dec)
        else:
            acc, n, dec = {}, 0, 0
        for pdf in pdfs:
            s = pdf[key_col].dropna()
            n += len(s)
            dec += _mg_add_batch(acc, s, cap)
        state.update(
            (list(acc.keys()), [int(c) for c in acc.values()], n, dec)
        )
        err = dec  # exact incurred under-count; <= n // (cap + 1)
        top = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        if not top:
            return
        row: dict = {c: [kv] * len(top) for c, kv in zip(by, key)}
        row[key_col] = [v for v, _ in top]
        row["cnt_min"] = [int(c) for _, c in top]
        row["cnt_max"] = [int(c) + err for _, c in top]
        row["rank"] = list(range(1, len(top) + 1))
        row["n_rows"] = [n] * len(top)
        yield pd.DataFrame(row)

    return src.groupBy(*by).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_MG_STATE_TYPE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
