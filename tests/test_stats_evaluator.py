"""One stats evaluator: ``tdigest_stats``, ``sketch_estimates`` and the
registered SQL functions read every statistic through the same code,
so they agree value for value and follow one NULL rule — a NULL digest
struct is the empty digest, a NULL blob gives NULL."""

import math

import pytest

LOSSLESS = 1_000_000

# output column -> (tdigest_stats stat, *args, SQL call over column d)
STATS = {
    "q": (("quantile", 0.3), "tdigest_quantile(d, 0.3)"),
    "c": (("cdf", 2.5), "tdigest_cdf(d, 2.5)"),
    "med": (("median",), "tdigest_median(d)"),
    "mu": (("mean",), "tdigest_mean(d)"),
    "sd": (("stddev",), "tdigest_stddev(d)"),
    "tm": (("trimmed_mean", 0.1, 0.9), "tdigest_trimmed_mean(d, 0.1, 0.9)"),
    "n": (("total_weight",), "tdigest_total_weight(d)"),
}


def _rows(df, key="k"):
    return {r[key]: r.asDict() for r in df.collect()}


def _same(a, b, rel=0.0):
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=rel, abs_tol=rel)


@pytest.fixture(scope="module")
def values(spark):
    # group "e" holds only NULL values: an empty digest / empty blob
    data = [("a", float(v)) for v in (1, 2, 2, 3, 5, 8, 13)]
    data += [("b", float(v) / 4) for v in range(40)]
    data += [("e", None), ("e", None)]
    return spark.createDataFrame(data, "k string, v double")


def test_stats_parity_sql_struct_and_blob(spark, values):
    """Each of the seven SQL ``tdigest_*`` functions, and ``td_<stat>``
    on a lossless ``"td"`` blob, equals ``tdigest_stats`` for the same
    stat and arguments — including the empty-digest group."""
    from tdigest_spark.functions.sql_udfs import register_sql_functions
    from tdigest_spark.operators.digest_agg import tdigest_agg, tdigest_stats
    from tdigest_spark.operators.sketch_agg import sketch_build, sketch_estimates

    register_sql_functions(spark)
    digests = tdigest_agg(values, "v", by=["k"], delta=LOSSLESS, digest_col="d")
    want = _rows(
        tdigest_stats(digests, {n: s for n, (s, _sql) in STATS.items()}, "d")
    )
    assert set(want) == {"a", "b", "e"}
    assert want["e"]["n"] == 0.0 and want["e"]["q"] is None
    assert want["a"]["med"] == 3.0 and want["a"]["n"] == 7.0

    digests.createOrReplaceTempView("__td_parity")
    sql = ", ".join(f"{call} AS {n}" for n, (_s, call) in STATS.items())
    got_sql = _rows(spark.sql(f"SELECT k, {sql} FROM __td_parity"))
    assert got_sql == want

    blobs = sketch_build(values, {"d": ("td", "v", LOSSLESS)}, by=["k"])
    got_blob = _rows(
        sketch_estimates(
            blobs, {n: (f"td_{s[0]}", "d", *s[1:]) for n, (s, _sql) in STATS.items()}
        )
    )
    assert set(got_blob) == set(want)
    for k, row in want.items():
        for n in STATS:
            assert _same(got_blob[k][n], row[n], rel=1e-12), (k, n)


def test_null_digest_struct_is_the_empty_digest(spark, values):
    """A NULL ``DIGEST_TYPE`` row gives NULL quantiles and total_weight
    0.0, through ``tdigest_stats`` and through the SQL functions."""
    from pyspark.sql import functions as F

    from tdigest_spark.functions.sql_udfs import register_sql_functions
    from tdigest_spark.operators.digest_agg import tdigest_agg, tdigest_stats

    register_sql_functions(spark)
    digests = tdigest_agg(values.where("k = 'a'"), "v", by=["k"], delta=LOSSLESS)
    null_row = spark.range(1).select(
        F.lit("z").alias("k"),
        F.lit(None).cast(digests.schema["digest"].dataType).alias("digest"),
    )
    withnull = digests.union(null_row)
    got = _rows(
        tdigest_stats(withnull, {"p50": ("quantile", 0.5), "n": ("total_weight",)})
    )
    assert got["z"] == {"k": "z", "p50": None, "n": 0.0}
    assert tdigest_stats(withnull, {}).columns == ["k"]  # digest still dropped
    assert got["a"] == {"k": "a", "p50": 3.0, "n": 7.0}

    withnull.createOrReplaceTempView("__td_nullrow")
    got_sql = _rows(
        spark.sql(
            "SELECT k, tdigest_quantile(digest, 0.5) AS p50, "
            "tdigest_total_weight(digest) AS n FROM __td_nullrow"
        )
    )
    assert got_sql == got


def test_null_blob_estimates_are_null(spark):
    """A NULL blob row gives NULL estimates in ``sketch_estimates`` and
    in SQL ``hll_estimate`` / ``kll_quantile``; the other rows keep
    the values they have without it."""
    from tdigest_spark.functions.sql_udfs import register_sql_functions
    from tdigest_spark.operators.sketch_agg import sketch_build, sketch_estimates

    register_sql_functions(spark)
    src = spark.createDataFrame(
        [(f"g{i % 3}", f"u{i}", float(i)) for i in range(60)],
        "k string, u string, v double",
    )
    built = sketch_build(
        src, {"h": ("hll", "u", 10), "q": ("kll", "v", LOSSLESS)}, by=["k"]
    )
    withnull = built.union(
        spark.createDataFrame([("none", None, None)], built.schema)
    )
    ests = {"nd": ("hll_estimate", "h"), "p50": ("kll_quantile", "q", 0.5)}
    want = _rows(sketch_estimates(built, ests))
    got = _rows(sketch_estimates(withnull, ests))
    assert got.pop("none") == {"k": "none", "nd": None, "p50": None}
    assert got == want

    withnull.createOrReplaceTempView("__sk_nullrow")
    got_sql = _rows(
        spark.sql(
            "SELECT k, hll_estimate(h) AS nd, kll_quantile(q, 0.5) AS p50 "
            "FROM __sk_nullrow"
        )
    )
    assert got_sql.pop("none") == {"k": "none", "nd": None, "p50": None}
    assert got_sql == want


@pytest.mark.parametrize("strategy", ["partials", "rows"])
def test_sketch_merge_agg_skips_null_blobs(spark, strategy):
    """NULL blobs are skipped by the merge's partial level too: a group
    with one real blob merges to that blob's sketch, and a group whose
    blobs are all NULL merges to NULL."""
    from tdigest_spark.operators.sketch_agg import (
        sketch_build,
        sketch_estimates,
        sketch_merge_agg,
    )

    src = spark.createDataFrame([(f"u{i}",) for i in range(50)], "u string")
    blob = bytes(sketch_build(src, {"h": ("hll", "u", 10)}).collect()[0]["h"])
    table = spark.createDataFrame(
        [("a", blob), ("a", None), ("b", None), ("b", None)], "k string, h binary"
    )
    merged = sketch_merge_agg(table, {"h": "hll"}, by=["k"], strategy=strategy)
    rows = _rows(merged)
    assert rows["b"]["h"] is None
    assert bytes(rows["a"]["h"]) == blob
    est = _rows(sketch_estimates(merged, {"nd": ("hll_estimate", "h")}))
    assert est["b"]["nd"] is None and est["a"]["nd"] > 0
