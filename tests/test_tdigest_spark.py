"""Spark-layer tests for the t-digest UDAF: grouped/global
aggregation, stat extraction, DuckDB oracle parity in lossless mode."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from tdigest_spark.operators.digest_agg import (
    tdigest_agg,
    tdigest_cdf_at,
    tdigest_histogram,
    tdigest_stats,
)

LOSSLESS = 1_000_000


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def test_global_digest_median_matches_duckdb(spark, events, sf_dir):
    dig = tdigest_agg(events, "value", delta=LOSSLESS)
    out = tdigest_stats(
        dig, {"median": ("quantile", 0.5), "p99": ("quantile", 0.99), "n": ("total_weight",)}
    ).toPandas()
    assert len(out) == 1
    con = duckdb.connect()
    exp = con.execute(
        f"SELECT quantile_cont(value, 0.5), quantile_cont(value, 0.99), count(value) "
        f"FROM '{sf_dir}/events.parquet'"
    ).fetchone()
    assert out["median"][0] == pytest.approx(exp[0], abs=1e-9)
    assert out["p99"][0] == pytest.approx(exp[1], abs=1e-9)
    assert out["n"][0] == exp[2]


def test_grouped_digest_matches_duckdb(spark, events, sf_dir):
    dig = tdigest_agg(events, "value", by=["event_type"], delta=LOSSLESS)
    out = (
        tdigest_stats(
            dig,
            {
                "median": ("quantile", 0.5),
                "mu": ("mean",),
                "sd": ("stddev",),
                "lo": ("vmin",),
                "hi": ("vmax",),
                "n": ("total_weight",),
            },
        )
        .toPandas()
        .set_index("event_type")
        .sort_index()
    )
    con = duckdb.connect()
    exp = con.execute(
        f"SELECT event_type, quantile_cont(value,0.5), avg(value), stddev_samp(value),"
        f" min(value), max(value), count(value) FROM '{sf_dir}/events.parquet'"
        f" GROUP BY event_type ORDER BY event_type"
    ).df()
    assert list(out.index) == list(exp["event_type"])
    np.testing.assert_allclose(out["median"], exp.iloc[:, 1], rtol=1e-12)
    np.testing.assert_allclose(out["mu"], exp.iloc[:, 2], rtol=1e-9)
    np.testing.assert_allclose(out["sd"], exp.iloc[:, 3], rtol=1e-6)
    np.testing.assert_allclose(out["lo"], exp.iloc[:, 4], rtol=0)
    np.testing.assert_allclose(out["hi"], exp.iloc[:, 5], rtol=0)
    np.testing.assert_allclose(out["n"], exp.iloc[:, 6], rtol=0)


def test_compressed_digest_rank_error(spark, events, sf_dir):
    """delta=100 digest over Spark partitions stays within rank bound."""
    dig = tdigest_agg(events.repartition(8), "value", delta=100)
    out = tdigest_stats(
        dig, {f"q{int(q*1000)}": ("quantile", q) for q in (0.1, 0.5, 0.9, 0.99)}
    ).toPandas()
    vals = np.sort(
        duckdb.sql(f"SELECT value FROM '{sf_dir}/events.parquet'").fetchnumpy()["value"]
    )
    for q in (0.1, 0.5, 0.9, 0.99):
        est = out[f"q{int(q*1000)}"][0]
        lo = np.searchsorted(vals, est, side="left") / len(vals)
        hi = np.searchsorted(vals, est, side="right") / len(vals)
        err = 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))
        assert err <= 0.03, (q, est, lo, hi)


def test_cdf_at_probe_column(spark, events, sf_dir):
    """Per-group cdf probed at that group's max -> (n-0.5*ties)/n."""
    dig = tdigest_agg(events, "value", by=["event_type"], delta=LOSSLESS)
    probes = events.groupBy("event_type").agg(F.max("value").alias("probe"))
    joined = dig.join(probes, "event_type")
    out = tdigest_cdf_at(joined, "probe").toPandas().set_index("event_type")
    con = duckdb.connect()
    exp = con.execute(
        f"""WITH m AS (SELECT event_type, max(value) x FROM '{sf_dir}/events.parquet' GROUP BY event_type)
        SELECT e.event_type,
               (sum(CASE WHEN e.value < m.x THEN 1.0 WHEN e.value = m.x THEN 0.5 ELSE 0.0 END))/count(*) c
        FROM '{sf_dir}/events.parquet' e JOIN m USING (event_type) GROUP BY e.event_type"""
    ).df().set_index("event_type")
    for k in exp.index:
        assert out.loc[k, "cdf"] == pytest.approx(exp.loc[k, "c"], abs=1e-12)


def test_histogram_bins_chain(spark, events):
    dig = tdigest_agg(events, "value", by=["event_type"], delta=50)
    out = tdigest_histogram(dig).toPandas()
    for bins in out["histogram"]:
        cum = 0.0
        for b in bins:
            assert b["cum_weight"] == pytest.approx(cum, abs=1e-6)
            cum += b["weight"]
            assert b["lo"] <= b["hi"]


def test_weighted_agg(spark):
    df = spark.createDataFrame(
        [(1.0, 3.0), (2.0, 1.0)], "v double, w double"
    )
    dig = tdigest_agg(df, "v", weight_col="w", delta=LOSSLESS)
    out = tdigest_stats(dig, {"mu": ("mean",), "n": ("total_weight",)}).toPandas()
    assert out["n"][0] == 4.0
    assert out["mu"][0] == pytest.approx(1.25)


def test_nulls_dropped(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0), ("b", None)], "k string, v double"
    )
    dig = tdigest_agg(df, "v", by=["k"], delta=LOSSLESS)
    out = tdigest_stats(dig, {"n": ("total_weight",), "q": ("median",)}).toPandas()
    res = out.set_index("k")
    assert res.loc["a", "n"] == 2.0
    assert res.loc["a", "q"] == 2.0
    # group with only nulls -> empty digest, NULL stats (NonEmpty semantics
    # replaced by nullability, cf. Tree/NonEmpty.hs:73)
    assert res.loc["b", "n"] == 0.0
    assert np.isnan(res.loc["b", "q"])


def _high_partial_src(spark):
    return spark.range(0, 10_000, 1, 32).select(
        (F.col("id") % 1000).cast("double").alias("v"),
        (F.col("id") % 5000).cast("string").alias("k"),
    )


def test_plan_shape_no_raw_shuffle(spark):
    """Keyless build over 32 input partitions: the plan ships one
    partial per partition, built by the Python map below the exchange,
    to a single-task reduce above it; raw rows never shuffle."""
    dig = tdigest_agg(_high_partial_src(spark), "v", delta=LOSSLESS)
    plan = dig._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 2, plan  # partial build + reduce
    assert plan.index("MapInPandas") < plan.index("Exchange") < plan.rindex("MapInPandas")


def test_salted_equals_unsalted(spark, events):
    """A caller-built two-level tree (partials per (key, bucket), then
    a grouped tdigest_merge_agg) returns the same groups, exact weights
    and bound-level-equal quantiles as the direct grouped build."""
    from tdigest_spark.operators.digest_agg import tdigest_merge_agg

    spec = {"q": ("quantile", 0.5), "n": ("total_weight",)}
    a = tdigest_stats(
        tdigest_agg(events, "value", by=["event_type"], delta=100), spec
    ).toPandas().set_index("event_type").sort_index()
    bucketed = events.withColumn("bucket", F.abs(F.hash("value")) % 4)
    partial = tdigest_agg(bucketed, "value", by=["event_type", "bucket"], delta=100)
    b = tdigest_stats(
        tdigest_merge_agg(partial.drop("bucket"), by=["event_type"], delta=100), spec
    ).toPandas().set_index("event_type").sort_index()
    assert list(a.index) == list(b.index)
    np.testing.assert_allclose(a["n"], b["n"], rtol=0)  # weight conservation exact
    np.testing.assert_allclose(a["q"], b["q"], rtol=0.05)


def test_global_merge_auto_salts_at_high_partial_count(spark):
    """At a high partial count (32 partitions) the global digest is
    still one direct reduce — no salted intermediate merge level — and
    the lossless median and count are exact."""
    dig = tdigest_agg(_high_partial_src(spark), "v", delta=LOSSLESS)
    plan = dig._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan, plan
    out = tdigest_stats(dig, {"p50": ("quantile", 0.5), "n": ("total_weight",)}).collect()[0]
    assert out["p50"] == 499.5
    assert out["n"] == 10_000


def test_sketch_global_merge_auto_two_level(spark):
    """The companion-sketch global reduce over 32 partials is two
    levels (partial build, one reduce) with no grouped pandas merge,
    and its HLL estimate equals the one-partition build's."""
    from tdigest_spark.operators.sketch_agg import sketch_build, sketch_estimates

    src = _high_partial_src(spark)
    built = sketch_build(src, {"h": ("hll", "k")})
    plan = built._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert plan.count("MapInPandas") == 2, plan
    spec = {"n": ("hll_estimate", "h")}
    est = sketch_estimates(built, spec).collect()[0]["n"]
    one = sketch_estimates(sketch_build(src.coalesce(1), {"h": ("hll", "k")}), spec)
    assert est == one.collect()[0]["n"]  # register-max merge is exact
    assert est == pytest.approx(5000, rel=0.05)


def test_plan_shape_grouped_jvm_merge(spark, events):
    """Grouped merges run in the JVM: the partial build is the
    ONLY Python stage — the merge is window + hash aggregates, and
    what shuffles is centroid rows derived from digests, never raw
    input rows (the map stage still runs before every exchange)."""
    dig = tdigest_agg(events, "value", by=["event_type"], delta=100)
    plan = dig._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan  # the partial build
    assert "FlatMapGroupsInPandas" not in plan  # merge is JVM-only
    assert "Window" in plan and "HashAggregate" in plan
    # the python partial stage feeds the first exchange: raw rows
    # never shuffle
    assert plan.index("MapInPandas") > plan.index("Exchange")


def test_scan_pruning(spark, sf_dir):
    """Column pruning reaches the parquet scan: only key+value read."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    dig = tdigest_agg(events, "value", by=["event_type"], delta=100)
    plan = dig._jdf.queryExecution().executedPlan().toString()
    scan_line = [l for l in plan.splitlines() if "FileScan" in l or "Scan parquet" in l]
    assert scan_line, plan
    txt = " ".join(scan_line)
    assert "event_type" in txt and "value" in txt
    assert "props" not in txt and "user_id" not in txt, txt


def test_tdigest_describe(spark, sf_dir):
    from tdigest_spark.operators.digest_agg import tdigest_agg, tdigest_describe
    from tdigest_spark.sources.tables import load

    ev = load(spark, sf_dir, "events")
    dig = tdigest_agg(ev, "value", by=["event_type"], delta=100)
    desc = tdigest_describe(dig).collect()
    n = ev.groupBy("event_type").count().collect()
    counts = {r["event_type"]: r["count"] for r in n}
    assert len(desc) == len(counts)
    for r in desc:
        assert r["is_valid"] is True
        assert r["total_weight"] == counts[r["event_type"]]
        assert 0 < r["n_centroids"] <= 200  # ~<= 2*delta hard cap region
        assert r["vmin"] <= r["vmax"]
        assert r["delta"] == 100
        assert r["max_centroid_weight"] <= r["total_weight"]


def test_tdigest_merge_agg_grouped_matches_duckdb(spark, sf_dir):
    """Grouped (JVM) merge of value-banded partials: lossless ==
    DuckDB quantile_cont exactly; compressed within rank bound with a
    bounded centroid count."""
    from tdigest_spark.operators.digest_agg import tdigest_merge_agg
    from tdigest_spark.sources.tables import load

    ev = load(spark, sf_dir, "events").select("event_type", "value")
    banded = ev.withColumn("band", (F.col("value") > 30).cast("int"))
    LOSS = 2_000_000
    partial = tdigest_agg(banded, "value", by=["event_type", "band"], delta=LOSS)
    m = tdigest_merge_agg(partial.drop("band"), by=["event_type"])
    got = {
        r["event_type"]: (r["p50"], r["n"])
        for r in tdigest_stats(
            m, {"p50": ("quantile", 0.5), "n": ("total_weight",)}
        ).collect()
    }
    exp = duckdb.sql(
        f"SELECT event_type, quantile_cont(value, 0.5), count(value) "
        f"FROM '{sf_dir}/events.parquet' GROUP BY event_type"
    ).fetchall()
    assert set(got) == {e for e, _, _ in exp}
    for e, p50, n in exp:
        assert got[e][0] == pytest.approx(p50, abs=1e-9)
        assert got[e][1] == n

    partial2 = tdigest_agg(banded, "value", by=["event_type", "band"], delta=100)
    m2 = tdigest_merge_agg(partial2.drop("band"), by=["event_type"], delta=100)
    vals = ev.toPandas()
    for r in m2.collect():
        d = r["digest"]
        assert len(d["means"]) <= 202
        assert list(d["means"]) == sorted(d["means"])
        g = vals[vals.event_type == r["event_type"]]["value"].to_numpy()
        assert abs(sum(d["weights"]) - len(g)) < 1e-6
    stats = tdigest_stats(m2, {"p50": ("quantile", 0.5)}).collect()
    for r in stats:
        g = vals[vals.event_type == r["event_type"]]["value"].to_numpy()
        rank = (g < r["p50"]).mean()
        assert abs(rank - 0.5) < 0.02


def test_grouped_merge_unbiased_at_median(spark):
    """Regression guard for the merge-bias finding (BENCH.md §1d): the
    default (sql) grouped merge must be unbiased at the median — the
    across-group MEAN of per-group p50 estimates converges to the true
    median even though each group's estimate has O(1/delta) noise."""
    from pyspark.sql import functions as F

    df = spark.range(0, 400_000, 1, 8).select(
        (F.col("id") % 1000).alias("g"),
        (F.pmod(F.col("id") * 2654435761, 1000003) / 1000.0).alias("v"),
    )
    dig = tdigest_agg(df, "v", by=["g"], delta=100)
    avg_p50 = (
        tdigest_stats(dig, {"p50": ("quantile", 0.5)})
        .agg(F.avg("p50"))
        .collect()[0][0]
    )
    # true median ~500.0; greedy pandas merge showed ~-6 bias here
    assert abs(avg_p50 - 500.0) < 2.0, avg_p50


def test_tdigest_sliding_equals_window_explode(spark, events):
    """Pane-based sliding digests must reproduce Spark's own
    groupBy(window(ts, w, s)) sliding semantics exactly in lossless
    mode — same window set, counts, and medians."""
    from tdigest_spark.operators.digest_agg import tdigest_sliding

    ev = events.select("ts", "event_type", "value")
    out = tdigest_sliding(
        ev, "value", "ts", 7 * 86400, 86400, by=["event_type"], delta=LOSSLESS
    )
    res = (
        tdigest_stats(out, {"p50": ("quantile", 0.5), "n": ("total_weight",)})
        .toPandas()
        .rename(columns={"window_start": "ws"})
        .sort_values(["ws", "event_type"], ignore_index=True)
    )
    ref = (
        ev.select(F.window("ts", "7 days", "1 day").alias("w"), "event_type", "value")
        .groupBy(F.col("w.start").alias("ws"), "event_type")
        .agg(F.expr("percentile(value, 0.5)").alias("p50"), F.count("*").alias("n"))
        .toPandas()
        .sort_values(["ws", "event_type"], ignore_index=True)
    )
    assert len(res) == len(ref)
    assert (res["ws"].astype(str).values == ref["ws"].astype(str).values).all()
    np.testing.assert_allclose(res["n"].astype(float), ref["n"].astype(float))
    np.testing.assert_allclose(res["p50"], ref["p50"], rtol=1e-12)


def test_tdigest_sliding_window_not_multiple_of_slide(spark):
    """Regression: window=10s, slide=4s (gcd pane 2s) — every window
    must include every covered pane (the old n_win=window//slide
    under-enumeration dropped panes from some windows)."""
    from tdigest_spark.operators.digest_agg import tdigest_sliding

    rows = [(float(t), float(t)) for t in range(0, 40)]
    df = spark.createDataFrame(rows, "off double, value double").select(
        F.timestamp_seconds(F.col("off")).alias("ts"), "value"
    )
    out = tdigest_sliding(df, "value", "ts", 10, 4, delta=1_000_000)
    res = {
        r["window_start"].timestamp(): r["n"]
        for r in tdigest_stats(out, {"n": ("total_weight",)}).collect()
    }
    ref = (
        df.select(F.window("ts", "10 seconds", "4 seconds").alias("w"), "value")
        .groupBy(F.col("w.start").alias("ws"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    ref = {r["ws"].timestamp(): r["n"] for r in ref}
    assert res == {k: float(v) for k, v in ref.items()}


def test_tdigest_stats_chained_calls_fuse(spark, events):
    """Chained tdigest_stats calls over one digest column collapse to a
    single stats mapInPandas (the digest-aware rewrite) with values
    identical to a one-call evaluation; clashing re-definitions raise."""
    dig = tdigest_agg(events, "value", by=["event_type"], delta=LOSSLESS)
    one_call = tdigest_stats(
        dig, {"p50": ("quantile", 0.5), "mu": ("mean",)}
    ).toPandas().sort_values("event_type", ignore_index=True)

    first = tdigest_stats(dig, {"p50": ("quantile", 0.5)})
    chained = tdigest_stats(first, {"mu": ("mean",)})
    plan = chained._jdf.queryExecution().executedPlan().toString()
    # one MapInPandas for the partial build + ONE fused stats stage
    assert plan.count("MapInPandas") == 2, plan
    got = chained.toPandas().sort_values("event_type", ignore_index=True)
    assert got[["event_type", "p50", "mu"]].equals(one_call[["event_type", "p50", "mu"]])

    with pytest.raises(ValueError, match="already defined"):
        tdigest_stats(first, {"p50": ("quantile", 0.9)})
    with pytest.raises(ValueError, match="no 'digest' column"):
        tdigest_stats(first.select("event_type", "p50"), {"mu": ("mean",)})


@pytest.mark.parametrize("dist", ["uniform", "normal", "exponential", "gamma"])
def test_distributed_rank_error_four_distributions(spark, dist):
    """The reference bench's four input distributions
    (tdigest-bench/src/Simple.hs:88-99) pushed through the DISTRIBUTED
    build+merge path (8 partitions, delta=100): rank error of the
    estimated quantiles within the published bound. The core kernel is
    covered per-distribution in test_tdigest_core.py; this asserts the
    Spark partial/merge chain preserves it."""
    import math

    import pandas as pd

    rng = np.random.default_rng(11)
    n = 40_000
    v = {
        "uniform": rng.uniform(0, 1, n),
        "normal": rng.standard_normal(n),
        "exponential": rng.exponential(1 / math.log(2), n),
        "gamma": rng.gamma(0.1, 1 / 0.1, n),
    }[dist]
    df = spark.createDataFrame(pd.DataFrame({"v": v})).repartition(8)
    dig = tdigest_agg(df, "v", delta=100)
    qs = (0.1, 0.5, 0.9, 0.99, 0.999)
    out = tdigest_stats(
        dig, {f"q{int(q * 1000)}": ("quantile", q) for q in qs}
    ).toPandas()
    sv = np.sort(v)
    for q in qs:
        est = out[f"q{int(q * 1000)}"][0]
        lo = np.searchsorted(sv, est, side="left") / len(sv)
        hi = np.searchsorted(sv, est, side="right") / len(sv)
        err = 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))
        assert err <= 0.03, (dist, q, est, lo, hi)


def test_tdigest_agg_sql_build_engine(spark, events, sf_dir):
    """All-JVM build path (build_engine='sql'): no Python stage in the
    digest plan, lossless result identical to the pandas build and to
    DuckDB, compressed result within the rank bound."""
    dig = tdigest_agg(
        events, "value", by=["event_type"], delta=LOSSLESS, build_engine="sql"
    )
    plan = dig._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan, plan

    got = tdigest_stats(dig, {"p50": ("quantile", 0.5), "n": ("total_weight",)})
    got = {r["event_type"]: r for r in got.collect()}
    ref = duckdb.sql(
        f"SELECT event_type, quantile_cont(value, 0.5) p50, count(value) n "
        f"FROM '{sf_dir}/events.parquet' GROUP BY event_type"
    ).fetchall()
    for et, p50, n in ref:
        assert got[et]["n"] == n
        assert got[et]["p50"] == pytest.approx(p50, abs=1e-9)

    # compressed (delta=100), grouped: within rank-error bound per group
    dig100 = tdigest_agg(
        events.repartition(8), "value", by=["event_type"], delta=100,
        build_engine="sql",
    )
    ests = {
        r["event_type"]: r["p50"]
        for r in tdigest_stats(dig100, {"p50": ("quantile", 0.5)}).collect()
    }
    for et, est in ests.items():
        vals = np.sort(
            duckdb.sql(
                f"SELECT value FROM '{sf_dir}/events.parquet' "
                f"WHERE event_type = '{et}'"
            ).fetchnumpy()["value"]
        )
        lo = np.searchsorted(vals, est, side="left") / len(vals)
        hi = np.searchsorted(vals, est, side="right") / len(vals)
        assert (lo <= 0.5 <= hi) or min(abs(0.5 - lo), abs(0.5 - hi)) <= 0.02, et


def test_tdigest_agg_sql_rejects_global(spark, events):
    """The all-JVM build is a grouped-regime tool: ungrouped it would
    sort every raw row in one window task, so it must refuse."""
    with pytest.raises(ValueError, match="requires grouping keys"):
        tdigest_agg(events, "value", delta=100, build_engine="sql")


def test_weighted_sql_build_equals_pandas_lossless(spark):
    """build_engine='sql' with a weight column: lossless results must
    equal the pandas partial build exactly (same construction at
    delta >= n: every row keeps its own cluster)."""
    import pandas as pd

    rows = pd.DataFrame({
        "g": ["a"] * 50 + ["b"] * 50,
        "v": np.r_[np.arange(50.0), np.arange(0.0, 500.0, 10.0)],
        "w": np.r_[np.tile([1.0, 3.0], 25), np.tile([2.0, 5.0], 25)],
    })
    df = spark.createDataFrame(rows).repartition(4)
    spec = {"p25": ("quantile", 0.25), "p50": ("quantile", 0.5),
            "p90": ("quantile", 0.9), "tw": ("total_weight",)}
    a = tdigest_stats(
        tdigest_agg(df, "v", by=["g"], delta=LOSSLESS, weight_col="w",
                    build_engine="sql"), spec)
    b = tdigest_stats(
        tdigest_agg(df, "v", by=["g"], delta=LOSSLESS, weight_col="w"), spec)
    ra = {r["g"]: tuple(r[c] for c in spec) for r in a.collect()}
    rb = {r["g"]: tuple(r[c] for c in spec) for r in b.collect()}
    assert ra == rb and len(ra) == 2


def test_keyless_sql_merge_two_level(spark, events, sf_dir):
    """Keyless merge (the cube/rollup grand-total path) runs two
    Python levels — a partition-local merge, then one single-task
    reduce — and the lossless result equals DuckDB quantile_cont."""
    from tdigest_spark.operators.digest_agg import tdigest_merge_agg

    leaf = tdigest_agg(events, "value", by=["event_type"], delta=LOSSLESS)
    m = tdigest_merge_agg(leaf.drop("event_type"), by=[])
    plan = m._jdf.queryExecution().executedPlan().toString()
    # leaf build + partition-local merge + single-task reduce
    assert plan.count("MapInPandas") == 3, plan
    spec = {"p50": ("quantile", 0.5), "p99": ("quantile", 0.99),
            "n": ("total_weight",)}
    a = tdigest_stats(m, spec).collect()[0]
    exp = duckdb.sql(
        f"SELECT quantile_cont(value, 0.5), quantile_cont(value, 0.99), "
        f"count(value) FROM '{sf_dir}/events.parquet'"
    ).fetchone()
    assert a["p50"] == pytest.approx(exp[0], abs=1e-9)
    assert a["p99"] == pytest.approx(exp[1], abs=1e-9)
    assert a["n"] == exp[2]


def _rank_err(vals: np.ndarray, est: float, q: float) -> float:
    lo = np.searchsorted(vals, est, side="left") / len(vals)
    hi = np.searchsorted(vals, est, side="right") / len(vals)
    return 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))


def test_keyless_sql_merge_compressed_within_bound(spark, events):
    """Keyless merge at a REAL delta: the working-delta partition-local
    level plus the final public-delta reduce stays within the k1
    rank-error bound and the public centroid budget."""
    from tdigest_spark.operators.digest_agg import tdigest_merge_agg

    leaf = tdigest_agg(events, "value", by=["event_type"], delta=100)
    m = tdigest_merge_agg(leaf.drop("event_type"), by=[], delta=100)
    row = m.collect()[0]["digest"]
    assert len(row["means"]) <= 202
    assert list(row["means"]) == sorted(row["means"])
    est = tdigest_stats(m, {"p50": ("quantile", 0.5)}).collect()[0]["p50"]
    vals = np.sort(events.select("value").toPandas()["value"].to_numpy())
    assert _rank_err(vals, est, 0.5) <= 0.02


def test_keyless_merge_explicit_delta(spark, events):
    """An explicit delta on a keyless merge re-compresses digests built
    at a finer delta: the output carries the new delta, fits its
    centroid budget and stays within its rank bound."""
    from tdigest_spark.operators.digest_agg import tdigest_merge_agg

    leaf = tdigest_agg(events.repartition(4), "value", by=["event_type"], delta=LOSSLESS)
    m = tdigest_merge_agg(leaf.drop("event_type"), delta=50)
    row = m.collect()[0]["digest"]
    assert row["delta"] == 50
    assert len(row["means"]) <= 102
    vals = np.sort(events.select("value").toPandas()["value"].to_numpy())
    assert row["total_weight"] == len(vals)
    est = tdigest_stats(m, {"p50": ("quantile", 0.5), "p90": ("quantile", 0.9)}).collect()[0]
    assert _rank_err(vals, est["p50"], 0.5) <= 0.04
    assert _rank_err(vals, est["p90"], 0.9) <= 0.04


def test_sql_build_drops_nan_and_bad_weights(spark):
    """build_engine='sql' must apply the exact from_values filter: NaN
    values and NULL/NaN/non-positive weights are dropped, matching the
    pandas engine bit-for-bit in lossless mode."""
    import pandas as pd

    rows = pd.DataFrame({
        "g": ["a"] * 8 + ["b"] * 8,
        "v": [1.0, 2.0, float("nan"), 4.0, 5.0, 6.0, 7.0, 8.0] * 2,
        "w": [1.0, 0.0, 2.0, -3.0, float("nan"), 2.0, None, 1.0] * 2,
    })
    df = spark.createDataFrame(rows).repartition(3)
    spec = {"p50": ("quantile", 0.5), "tw": ("total_weight",)}
    a = tdigest_stats(
        tdigest_agg(df, "v", by=["g"], delta=LOSSLESS, weight_col="w",
                    build_engine="sql"), spec)
    b = tdigest_stats(
        tdigest_agg(df, "v", by=["g"], delta=LOSSLESS, weight_col="w"), spec)
    ra = {r["g"]: (r["p50"], r["tw"]) for r in a.collect()}
    rb = {r["g"]: (r["p50"], r["tw"]) for r in b.collect()}
    assert ra == rb and len(ra) == 2
    assert ra["a"][1] == 4.0  # surviving rows (v,w) = (1,1),(6,2),(8,1)


def test_cube_three_dims_lattice_descent(spark, sf_dir):
    """3-dim cube: every one of the 8 subset levels (derived by lattice
    descent — each from its immediate parent, chains up to depth 3)
    must match SQL GROUP BY CUBE + quantile_cont exactly in lossless
    mode."""
    from tdigest_spark.operators.digest_agg import tdigest_cube

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            "event_type",
            (F.col("event_id") % 3).cast("int").alias("b1"),
            (F.col("event_id") % 2).cast("int").alias("b2"),
            "value",
        )
    )
    cubed = tdigest_cube(ev, "value", ["event_type", "b1", "b2"], delta=LOSSLESS)
    got = tdigest_stats(cubed, {"p50": ("quantile", 0.5), "n": ("total_weight",)})
    gp = {
        (r["event_type"], r["b1"], r["b2"]): (int(r["n"]), round(r["p50"], 6))
        for r in got.collect()
    }
    ref = duckdb.sql(
        f"""
        SELECT event_type, event_id % 3 AS b1, event_id % 2 AS b2,
               quantile_cont(value, 0.5) AS p50, count(value) AS n
        FROM '{sf_dir}/events.parquet'
        GROUP BY CUBE(event_type, b1, b2)
        """
    ).fetchall()
    assert len(ref) == len(gp)
    for et, b1, b2, p50, n in ref:
        k = (et, None if b1 is None else int(b1), None if b2 is None else int(b2))
        assert gp[k][0] == n, k
        assert gp[k][1] == pytest.approx(p50, abs=1e-6), k


def test_with_percentile_rank(spark, events, sf_dir):
    """Per-row percentile rank against the group digest: lossless mode
    equals the exact empirical mid-rank; matches the broadcast-join +
    tdigest_cdf_at path; rows of a group with no digest get NULL."""
    from tdigest_spark.operators.digest_agg import (
        tdigest_cdf_at,
        with_percentile_rank,
    )

    dig = tdigest_agg(events, "value", by=["event_type"], delta=LOSSLESS)
    scored = with_percentile_rank(events, dig, "value", by=["event_type"])
    pdf = scored.select("event_id", "event_type", "value", "pct_rank").toPandas()
    assert len(pdf) == events.count()

    ev = events.select("event_id", "event_type", "value").toPandas()
    for et, g in ev.groupby("event_type"):
        v = np.sort(g["value"].to_numpy())
        sub = pdf[pdf["event_type"] == et]
        lo = np.searchsorted(v, sub["value"].to_numpy(), "left")
        hi = np.searchsorted(v, sub["value"].to_numpy(), "right")
        want = (lo + hi) / 2 / len(v)
        np.testing.assert_allclose(sub["pct_rank"].to_numpy(), want, atol=1e-12)

    # parity with the struct-per-row join path (same kernel semantics)
    joined = events.join(F.broadcast(dig), "event_type")
    alt = (
        tdigest_cdf_at(joined, "value", "pct_rank")
        .select("event_id", "pct_rank")
        .toPandas()
    )
    merged = pdf.merge(alt, on="event_id", suffixes=("", "_alt"))
    assert len(merged) == len(pdf)
    np.testing.assert_allclose(merged["pct_rank"], merged["pct_rank_alt"], atol=1e-12)

    # drop one group's digest -> its rows score NULL, others unaffected
    miss = ev["event_type"].iloc[0]
    scored2 = with_percentile_rank(
        events, dig.where(F.col("event_type") != miss), "value", by=["event_type"]
    ).select("event_type", "pct_rank").toPandas()
    assert scored2.loc[scored2["event_type"] == miss, "pct_rank"].isna().all()
    assert scored2.loc[scored2["event_type"] != miss, "pct_rank"].notna().all()


def test_grouping_sets_matches_sql(spark, sf_dir):
    """tdigest_grouping_sets vs SQL GROUP BY GROUPING SETS +
    quantile_cont (lossless, exact), including: a NULL-holding
    dimension (GROUPING_ID distinguishes rolled-up NULL from data
    NULL), a set served by a SIBLING superset rather than the leaf,
    the grand-total set, and duplicate sets emitting duplicate rows."""
    from tdigest_spark.operators.digest_agg import tdigest_grouping_sets

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.when(F.col("event_id") % 7 == 0, F.lit(None))
        .otherwise(F.col("event_type"))
        .alias("et"),
        (F.col("event_id") % 3).cast("int").alias("b1"),
        (F.col("event_id") % 2).cast("int").alias("b2"),
        "value",
    )
    sets = [["et", "b1", "b2"], ["et", "b1"], ["b1"], [], ["b1"]]
    got = tdigest_grouping_sets(ev, "value", sets=sets, delta=LOSSLESS)
    stats = tdigest_stats(got, {"p50": ("quantile", 0.5), "n": ("total_weight",)})
    nkey = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    gp = sorted(
        (
            (r["et"], r["b1"], r["b2"], r["grouping_id"], int(r["n"]), round(r["p50"], 6))
            for r in stats.collect()
        ),
        key=nkey,
    )
    ref = duckdb.sql(
        f"""
        SELECT CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS et,
               event_id % 3 AS b1, event_id % 2 AS b2,
               GROUPING(et) * 4 + GROUPING(b1) * 2 + GROUPING(b2) AS gid,
               count(value) AS n, quantile_cont(value, 0.5) AS p50
        FROM '{sf_dir}/events.parquet'
        GROUP BY GROUPING SETS ((et, b1, b2), (et, b1), (b1), (), (b1))
        """
    ).fetchall()
    want = [
        (
            et,
            None if b1 is None else int(b1),
            None if b2 is None else int(b2),
            int(gid),
            int(n),
            round(p50, 6),
        )
        for et, b1, b2, gid, n, p50 in ref
    ]
    want = sorted(want, key=nkey)
    assert len(gp) == len(want)
    for g, w in zip(gp, want):
        assert g[:5] == w[:5], (g, w)
        assert g[5] == pytest.approx(w[5], abs=1e-6)

    with pytest.raises(ValueError, match="not in dims"):
        tdigest_grouping_sets(ev, "value", sets=[["b1"]], dims=["b2"])
    with pytest.raises(ValueError, match="duplicate column"):
        tdigest_grouping_sets(ev, "value", sets=[["b1", "b1"]])


def test_scorers_join_path_parity(spark, events):
    """Forcing max_broadcast_groups below the group count routes the
    per-row scorers through the shuffle-join form — output must be
    IDENTICAL to the broadcast form, including NULL group keys and
    groups with no digest."""
    import pandas as pd

    from tdigest_spark.operators.digest_agg import (
        quantile_normalize,
        with_equidepth_bucket,
        with_percentile_rank,
    )

    # inject a NULL-keyed group and keep one group digest-less
    ev = events.withColumn(
        "event_type",
        F.when(F.col("event_id") % 13 == 0, F.lit(None)).otherwise(
            F.col("event_type")
        ),
    )
    dig = tdigest_agg(ev, "value", by=["event_type"], delta=LOSSLESS)
    dig = dig.where(F.col("event_type").isNull() | (F.col("event_type") != "view"))

    def cmp(fast_df, join_df, col):
        a = fast_df.select("event_id", col).toPandas().sort_values("event_id")
        b = join_df.select("event_id", col).toPandas().sort_values("event_id")
        pd.testing.assert_frame_equal(
            a.reset_index(drop=True), b.reset_index(drop=True)
        )

    fast = with_percentile_rank(ev, dig, "value", by=["event_type"])
    slow = with_percentile_rank(
        ev, dig, "value", by=["event_type"], max_broadcast_groups=1
    )
    cmp(fast, slow, "pct_rank")
    # NULL-keyed rows HAVE a digest -> both paths must actually score
    # them (guards the pickle-stable sentinel: a broadcast nan key
    # would silently miss), while the digest-less group scores NULL
    fp = fast.select("event_type", "pct_rank").toPandas()
    assert fp.loc[fp["event_type"].isna(), "pct_rank"].notna().all()
    assert fp.loc[fp["event_type"] == "view", "pct_rank"].isna().all()

    fast = with_equidepth_bucket(ev, "value", 4, by=["event_type"], digests=dig)
    slow = with_equidepth_bucket(
        ev, "value", 4, by=["event_type"], digests=dig, max_broadcast_groups=1
    )
    cmp(fast, slow, "bucket")

    fast = quantile_normalize(ev, "value", by=["event_type"], delta=LOSSLESS)
    slow = quantile_normalize(
        ev, "value", by=["event_type"], delta=LOSSLESS, max_broadcast_groups=1
    )
    cmp(fast, slow, "normalized")


def test_filter_percentile_range(spark, events):
    """Quantile trimming: kept rows equal the exact per-group rank
    window (lossless digests), boundary conventions match the mid-rank
    cdf, no-digest groups drop, keep_rank retains the score column."""
    import pandas as pd

    from tdigest_spark.operators.digest_agg import (
        filter_percentile_range,
        with_percentile_rank,
    )

    dig = tdigest_agg(events, "value", by=["event_type"], delta=LOSSLESS)
    lo, hi = 0.1, 0.9
    kept = filter_percentile_range(
        events, dig, "value", lo, hi, by=["event_type"], keep_rank="r"
    )
    rows = kept.collect()
    assert rows
    # reference: score everything, filter in pandas
    scored = with_percentile_rank(
        events, dig, "value", by=["event_type"], out_col="r"
    ).toPandas()
    want = scored[(scored["r"] >= lo) & (scored["r"] <= hi)]
    assert len(rows) == len(want)
    assert all(lo <= r["r"] <= hi for r in rows)
    got_ids = sorted(r["event_id"] for r in rows)
    assert got_ids == sorted(want["event_id"].tolist())

    # keep_rank=None drops the column
    assert "r" not in filter_percentile_range(
        events, dig, "value", lo, hi, by=["event_type"]
    ).columns

    # a group with no digest vanishes entirely
    some = dig.limit(1).collect()[0]["event_type"]
    dig2 = dig.filter(F.col("event_type") != some)
    kept2 = filter_percentile_range(events, dig2, "value", 0.0, 1.0, by=["event_type"])
    assert kept2.filter(F.col("event_type") == some).count() == 0

    with pytest.raises(ValueError, match="lo <= hi"):
        filter_percentile_range(events, dig, "value", 0.9, 0.1, by=["event_type"])


def test_with_equidepth_bucket(spark, events):
    """Equi-depth bucketing at lossless delta: per-row assignment equals
    numpy searchsorted on exact linear-interpolated quantile cuts;
    buckets are balanced; NULL/NaN and missing-group rows get NULL; the
    row path is pure codegen (no Python stage, grouped case broadcast)."""
    from tdigest_spark.operators.digest_agg import with_equidepth_bucket

    k = 8
    out = with_equidepth_bucket(events, "value", k, delta=LOSSLESS)
    pdf = out.select("event_id", "value", "bucket").toPandas()
    vals = pdf["value"].to_numpy()
    cuts = np.quantile(vals, [i / k for i in range(1, k)])  # == quantile_cont
    want = np.searchsorted(cuts, vals, side="left")  # = |{c : c < v}|
    np.testing.assert_array_equal(pdf["bucket"].to_numpy(), want)
    # balance: continuous doubles -> each bucket within +-2 of n/k
    counts = pdf.groupby("bucket").size()
    assert set(counts.index) == set(range(k))
    assert (abs(counts - len(pdf) / k) <= 2).all()

    # grouped: same property per group, via a broadcast join, no Python
    gout = with_equidepth_bucket(events, "value", 4, by=["event_type"], delta=LOSSLESS)
    gpdf = gout.select("event_type", "value", "bucket").toPandas()
    for _, g in gpdf.groupby("event_type"):
        gcuts = np.quantile(g["value"].to_numpy(), [0.25, 0.5, 0.75])
        np.testing.assert_array_equal(
            g["bucket"].to_numpy(),
            np.searchsorted(gcuts, g["value"].to_numpy(), side="left"),
        )
    plan = gout._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    for node in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan

    # NULL value, NaN value, and a group absent from the digest table
    src = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", None), ("a", float("nan")), ("zz", 5.0)],
        "grp string, value double",
    )
    dig = tdigest_agg(src.where(F.col("grp") == "a"), "value", by=["grp"], delta=LOSSLESS)
    res = with_equidepth_bucket(src, "value", 2, by=["grp"], digests=dig)
    rows = {(r["grp"], r["value"]): r["bucket"] for r in res.collect()}
    assert rows[("a", 1.0)] == 0 and rows[("a", 2.0)] == 1
    assert rows[("a", None)] is None
    assert rows[("zz", 5.0)] is None
    nan_buckets = [r["bucket"] for r in res.collect() if r["value"] != r["value"] and r["value"] is not None]
    assert nan_buckets == [None]

    # NULL group KEY: tdigest_agg builds a digest for the NULL group,
    # so its rows must match that cuts row (null-safe join), not NULL
    nsrc = spark.createDataFrame(
        [(None, 1.0), (None, 2.0), (None, 3.0), (None, 4.0), ("a", 1.0), ("a", 9.0)],
        "grp string, value double",
    )
    nres = with_equidepth_bucket(nsrc, "value", 2, by=["grp"], delta=LOSSLESS)
    nrows = {(r["grp"], r["value"]): r["bucket"] for r in nres.collect()}
    assert nrows[(None, 1.0)] == 0 and nrows[(None, 2.0)] == 0
    assert nrows[(None, 3.0)] == 1 and nrows[(None, 4.0)] == 1
    assert nrows[("a", 1.0)] == 0 and nrows[("a", 9.0)] == 1

    # EMPTY digest table (all-NULL values): bucket is NULL, never -1
    esrc = spark.createDataFrame([(1.0,), (2.0,)], "value double")
    edig = tdigest_agg(
        esrc.where(F.lit(False)), "value", delta=LOSSLESS
    )
    eres = with_equidepth_bucket(esrc, "value", 2, digests=edig)
    assert [r["bucket"] for r in eres.collect()] == [None, None]
    geres = with_equidepth_bucket(
        esrc.withColumn("grp", F.lit("g")), "value", 2, by=["grp"],
        digests=edig.withColumn("grp", F.lit("g")).where(F.lit(False)),
    )
    assert [r["bucket"] for r in geres.collect()] == [None, None]


def test_quantile_normalize_matches_core_and_aligns_groups(spark, sf_dir):
    import numpy as np

    from tdigest_spark.operators.digest_agg import quantile_normalize, tdigest_agg
    from tdigest_spark.sketch.tdigest import TDigest
    from tdigest_spark.sources.tables import load

    LOSSLESS = 1_000_000
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = quantile_normalize(
        ev, "value", by=["event_type"], delta=LOSSLESS
    ).toPandas().sort_values("event_id")
    # driver-side reference computation with the SAME core kernels:
    # the distributed op must reproduce it exactly (plumbing test)
    pdf = ev.toPandas().sort_values("event_id")
    ref = TDigest.from_values(pdf["value"].to_numpy(), LOSSLESS)
    exp = np.full(len(pdf), np.nan)
    for g, idx in pdf.groupby("event_type").indices.items():
        dig = TDigest.from_values(pdf["value"].to_numpy()[idx], LOSSLESS)
        exp[idx] = ref.quantiles(dig.cdf_many(pdf["value"].to_numpy()[idx]))
    assert np.allclose(out["normalized"].to_numpy(), exp, rtol=0, atol=1e-9)
    # within-group order is preserved (quantile mapping is monotone)
    for g, grp in out.groupby("event_type"):
        s = grp.sort_values("value")["normalized"].to_numpy()
        assert (np.diff(s) >= -1e-12).all()
    # groups with very different raw medians align onto the pooled
    # distribution: normalized per-group medians huddle around the
    # pooled median much tighter than the raw ones
    raw_med = pdf.groupby("event_type")["value"].median()
    norm_med = out.groupby("event_type")["normalized"].median()
    pooled = pdf["value"].median()
    assert norm_med.sub(pooled).abs().max() <= raw_med.sub(pooled).abs().max()


def test_quantile_normalize_null_handling(spark):
    from tdigest_spark.operators.digest_agg import quantile_normalize, tdigest_agg

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", None), ("b", 5.0)],
        "g string, value double",
    )
    # group digests built from 'a' only: rows of group 'b' have no
    # digest and must score NULL, as must the NULL value
    gd = tdigest_agg(df.filter(F.col("g") == "a"), "value", by=["g"], delta=1_000_000)
    out = quantile_normalize(
        df, "value", by=["g"], group_digests=gd, delta=1_000_000
    ).collect()
    got = {(r.g, r.value): r.normalized for r in out}
    assert got[("a", None)] is None and got[("b", 5.0)] is None
    assert got[("a", 1.0)] is not None and got[("a", 2.0)] is not None


def test_kernel_clusters_match_jvm_merge(spark):
    """The numpy kernel and the grouped JVM merge apply one k1 rule:
    on uncompressed digests (ties and mixed weights included) the
    kernel's clusters equal a one-row group's ``tdigest_merge_agg``
    output, up to summation order."""
    import math

    from pyspark.sql import types as T

    from tdigest_spark.operators.digest_agg import DIGEST_TYPE, tdigest_merge_agg
    from tdigest_spark.sketch.tdigest import TDigest, _k1_clusters

    rng = np.random.default_rng(12)
    n = 3000
    ties = rng.integers(0, 40, n).astype(np.float64)
    digests = [
        TDigest.from_values(rng.exponential(1 / math.log(2), n), LOSSLESS),
        TDigest.from_values(ties, LOSSLESS),
        TDigest.from_values(ties, LOSSLESS, weights=rng.integers(1, 6, n).astype(np.float64)),
        TDigest.from_values(rng.normal(size=n), LOSSLESS, weights=rng.uniform(0.1, 3.0, n)),
    ]
    delta = 50
    rows = [
        (g, {**d.to_row(), "means": d.means.tolist(), "weights": d.weights.tolist()})
        for g, d in enumerate(digests)
    ]
    schema = T.StructType(
        [T.StructField("g", T.LongType()), T.StructField("digest", DIGEST_TYPE)]
    )
    out = tdigest_merge_agg(spark.createDataFrame(rows, schema), by=["g"], delta=delta)
    got = {r["g"]: r["digest"] for r in out.collect()}
    for g, d in enumerate(digests):
        assert d.size == n
        m, w = _k1_clusters(d.means, d.weights, delta)
        # the JVM rebuild sort_array()s its (mean, weight) structs, so
        # clusters sharing a tied mean come back ordered by weight
        order = np.lexsort((w, m))
        m, w = m[order], w[order]
        assert len(got[g]["means"]) == len(m)
        np.testing.assert_allclose(got[g]["means"], m, rtol=1e-12, atol=1e-12)
        np.testing.assert_allclose(got[g]["weights"], w, rtol=1e-12)


def test_keyless_merge_commits_stay_within_k1_width(spark):
    """The keyless ``digest_sink`` pattern: 8 commits, each a keyless
    ``tdigest_merge_agg`` of the old digest and the new batch's, on
    exponential(ln 2) data. Every probe stays within the k1 width
    pi*sqrt(q(1-q))/delta of its true rank, and the mean is kept."""
    import math

    import pandas as pd

    from tdigest_spark.operators.digest_agg import tdigest_merge_agg
    from tdigest_spark.sketch.tdigest import TDigest

    rng = np.random.default_rng(13)
    batches = [rng.exponential(1 / math.log(2), 20_000) for _ in range(8)]
    old = None
    for b in batches:
        new = tdigest_agg(
            spark.createDataFrame(pd.DataFrame({"v": b})).repartition(4), "v", delta=200
        )
        merged = new if old is None else tdigest_merge_agg(old.unionByName(new))
        old = merged.localCheckpoint()
    d = TDigest.from_row(old.collect()[0]["digest"])
    vals = np.sort(np.concatenate(batches))
    assert d.total_weight == len(vals)
    for q in (0.5, 0.99, 0.999, 0.9999):
        err = _rank_err(vals, d.quantile(q), q)
        assert err <= math.pi * math.sqrt(q * (1 - q)) / 200, (q, err)
    assert d.mean() == pytest.approx(vals.mean(), rel=1e-12)
