"""SQL-callable sketch functions.

``register_sql_functions(spark)`` exposes the sketch query surface to
pure SQL (``spark.sql(...)``), mirroring how the reference exposes its
query algebra as plain functions over a digest value
(``quantile``/``cdf``/``mean`` wrappers, ``Postprocess.hs:27-62``):

    SELECT lang, tdigest_quantile(digest, 0.99) FROM digests_view

These run over *digest/sketch rows* — O(groups) rows, never the raw
table — so a per-row Python loop here is driver-light by construction
(the heavy lifting happened in the vectorized build/merge UDAFs). All
are Arrow-batched pandas UDFs. The statistics of ``_SQL_STATS`` run
the shared evaluator of ``sketch_estimates``/``tdigest_stats``: same
values, same NULL rule (NULL struct = empty digest, NULL blob = NULL).
"""

from __future__ import annotations

from itertools import repeat

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from tdigest_spark.operators.sketch_agg import _decode, _est_fn, _evaluate
from tdigest_spark.sketch.bloom import BloomFilter
from tdigest_spark.sketch.cms import CountMin
from tdigest_spark.sketch.tdigest import TDigest

__all__ = ["register_sql_functions"]

# SQL name -> (estimate, number of arguments after the digest/blob):
# td_<stat> reads a digest struct through _eval_stat, the rest are
# _EST_FNS entries over a blob
_SQL_STATS = {
    "tdigest_quantile": ("td_quantile", 1),
    "tdigest_cdf": ("td_cdf", 1),
    "tdigest_median": ("td_median", 0),
    "tdigest_mean": ("td_mean", 0),
    "tdigest_stddev": ("td_stddev", 0),
    "tdigest_trimmed_mean": ("td_trimmed_mean", 2),
    "tdigest_total_weight": ("td_total_weight", 0),
    "kll_quantile": ("kll_quantile", 1),
    "hll_estimate": ("hll_estimate", 0),
}


def _digests(d) -> list[TDigest]:
    """A struct column reaches a pandas UDF as a pd.DataFrame of its
    fields (Arrow struct -> columns); plain Series of dicts otherwise."""
    if isinstance(d, pd.DataFrame):
        rows = d.to_dict("records")
    else:
        rows = [r if isinstance(r, dict) else r.asDict() for r in d]
    return list(_decode("td", rows, struct=True))


def _stat_udf(name: str, est: str, n_args: int):
    """DOUBLE ``name(cell, arg_1..arg_n)`` evaluating ``est``; arguments
    are cast to float (a SQL literal like 0.9 is a DECIMAL)."""
    kind, fn = _est_fn(est)

    def udf(cells, *args):
        if len(args) != n_args:
            raise TypeError(f"{name} takes {n_args + 1} argument(s)")
        objs = _digests(cells) if kind == "td" else _decode(kind, cells)
        rows = zip(*(a.astype("float64") for a in args)) if args else repeat(())
        return _evaluate(fn, objs, rows)

    return pandas_udf(udf, T.DoubleType())


def register_sql_functions(spark: SparkSession) -> None:
    """Register the sketch query surface as SQL functions:

    t-digest (struct column): ``tdigest_quantile(d, q)``,
    ``tdigest_cdf(d, x)``, ``tdigest_median(d)``, ``tdigest_mean(d)``,
    ``tdigest_stddev(d)``, ``tdigest_trimmed_mean(d, lo, hi)``,
    ``tdigest_total_weight(d)``.

    Companion sketches (binary blob column): ``kll_quantile(b, q)``,
    ``hll_estimate(b)``, ``cms_count(b, key)``, ``bloom_contains(b, key)``.

    Drift metrics over TWO digest struct columns (e.g. after joining a
    current and a reference digest view): ``tdigest_ks(a, b)``,
    ``tdigest_w1(a, b)``, ``tdigest_psi(a, b)`` (10 equal-mass bins of
    the first argument).
    """

    udfs = {name: _stat_udf(name, *spec) for name, spec in _SQL_STATS.items()}

    @pandas_udf(T.LongType())
    def cms_count(b: pd.Series, key: pd.Series) -> pd.Series:
        out = []
        for r, k in zip(b, key):
            out.append(int(CountMin.from_bytes(bytes(r)).query([str(k)])[0]))
        return pd.Series(out, dtype="int64")

    @pandas_udf(T.BooleanType())
    def bloom_contains(b: pd.Series, key: pd.Series) -> pd.Series:
        out = []
        for r, k in zip(b, key):
            out.append(bool(BloomFilter.from_bytes(bytes(r)).might_contain([str(k)])[0]))
        return pd.Series(out, dtype="bool")

    # drift metrics over two digest struct columns (joined views):
    #   SELECT tdigest_ks(a.digest, b.digest) FROM cur a JOIN prev b USING (lang)
    from tdigest_spark.operators.drift import ks_distance, psi_score, w1_distance

    def _drift_udf(fn):
        @pandas_udf(T.DoubleType())
        def udf(a: pd.DataFrame, b: pd.DataFrame) -> pd.Series:
            return pd.Series(
                [fn(x, y) for x, y in zip(_digests(a), _digests(b))],
                dtype="float64",
            )

        return udf

    tdigest_ks = _drift_udf(ks_distance)
    tdigest_w1 = _drift_udf(w1_distance)
    tdigest_psi = _drift_udf(psi_score)

    udfs |= {
        "cms_count": cms_count,
        "bloom_contains": bloom_contains,
        "tdigest_ks": tdigest_ks,
        "tdigest_w1": tdigest_w1,
        "tdigest_psi": tdigest_psi,
    }
    for name, fn in udfs.items():
        spark.udf.register(name, fn)
