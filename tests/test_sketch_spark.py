"""Spark-layer tests for the companion-sketch aggregation (one-pass
multi-sketch build, associative merge across partitions, probe ops)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tdigest_spark.operators.sketch_agg import (
    bloom_probe,
    cms_probe,
    sketch_build,
    sketch_estimates,
)
from tdigest_spark.sources.tables import load

SPECS = {
    "hll_text": ("hll", "text", 12),
    "bloom_src": ("bloom", "source", 1 << 16, 7),
    "cms_src": ("cms", "source"),
    "kll_len": ("kll", "n_chars", 50_000),  # k >= n -> lossless
}


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def built(spark, docs):
    return sketch_build(docs, SPECS, by=["lang"]).cache()


def test_grouped_build_schema_and_rows(built, docs):
    n_langs = docs.select("lang").distinct().count()
    rows = built.collect()
    assert len(rows) == n_langs
    assert set(built.columns) == {"lang", *SPECS}


def test_hll_estimate_vs_exact(spark, built, docs):
    est = sketch_estimates(built, {"n_distinct": ("hll_estimate", "hll_text")})
    exact = docs.groupBy("lang").agg(F.countDistinct("text").alias("exact"))
    j = {r["lang"]: r for r in est.join(exact, "lang").collect()}
    for lang, r in j.items():
        assert abs(r["n_distinct"] / max(r["exact"], 1) - 1) < 3 * 1.04 / np.sqrt(4096), lang


def test_kll_lossless_matches_exact_quantile(spark, built, docs):
    est = sketch_estimates(
        built, {"p50": ("kll_quantile", "kll_len", 0.5), "n": ("kll_n", "kll_len")}
    )
    got = {r["lang"]: r for r in est.collect()}
    pdf = docs.select("lang", "n_chars").toPandas()
    for lang, g in pdf.groupby("lang"):
        v = np.sort(g["n_chars"].to_numpy(dtype=float))
        exact = np.interp(0.5 * (len(v) - 1), np.arange(len(v)), v)
        assert got[lang]["p50"] == pytest.approx(exact, abs=1e-9)
        assert got[lang]["n"] == len(v)


def test_bloom_probe_no_false_negatives(spark, built, docs):
    probes = docs.select("lang", "source").distinct()
    res = bloom_probe(probes, built, "source", "bloom_src", by=["lang"])
    assert all(r["might_contain"] for r in res.collect())


def test_bloom_probe_absent_keys_mostly_false(spark, built, docs):
    probes = (
        docs.select("lang").distinct()
        .crossJoin(spark.range(200).select(F.concat(F.lit("absent-"), "id").alias("source")))
    )
    res = bloom_probe(probes, built, "source", "bloom_src", by=["lang"])
    fp = np.mean([r["might_contain"] for r in res.collect()])
    assert fp < 0.05


def test_cms_probe_overestimates_within_bound(spark, built, docs):
    exact = docs.groupBy("lang", "source").agg(F.count("*").alias("exact"))
    res = cms_probe(exact, built, "source", "cms_src", by=["lang"])
    for r in res.collect():
        assert r["est_count"] >= r["exact"]
        # eps=0.001, per-lang totals are small at sf0.001 -> near-exact
        assert r["est_count"] <= r["exact"] + max(3, 0.01 * r["exact"])


def test_global_ungrouped_build(spark, docs):
    built = sketch_build(docs, {"hll_text": ("hll", "text", 12)})
    est = sketch_estimates(built, {"n_distinct": ("hll_estimate", "hll_text")})
    rows = est.collect()
    assert len(rows) == 1
    exact = docs.select("text").distinct().count()
    assert abs(rows[0]["n_distinct"] / exact - 1) < 3 * 1.04 / np.sqrt(4096)


def test_merge_equals_single_partition_build(spark, docs):
    """Associativity/commutativity: 16-partition build == 1-partition
    build, register-for-register (HLL merge is exact)."""
    from tdigest_spark.sketch.hll import HLL

    many = sketch_build(docs.repartition(16), {"h": ("hll", "text", 10)}).collect()
    one = sketch_build(docs.coalesce(1), {"h": ("hll", "text", 10)}).collect()
    a = HLL.from_bytes(bytes(many[0]["h"]))
    b = HLL.from_bytes(bytes(one[0]["h"]))
    assert np.array_equal(a.registers, b.registers)


def test_sql_registered_sketch_functions(spark, sf_dir):
    """Companion sketches queryable from pure SQL via registered UDFs."""
    from pyspark.sql import functions as F

    from tdigest_spark.functions.sql_udfs import register_sql_functions
    from tdigest_spark.operators.sketch_agg import sketch_build
    from tdigest_spark.sources.tables import load

    register_sql_functions(spark)
    docs = load(spark, sf_dir, "documents")
    built = sketch_build(
        docs,
        {
            "h": ("hll", "text", 12),
            "k": ("kll", "n_chars", 1_000_000),
            "c": ("cms", "source", 0.001, 0.01),
            "b": ("bloom", "source", 1 << 16, 7),
        },
        by=["lang"],
    )
    built.createOrReplaceTempView("__sk_sql")
    present = docs.select("lang", "source").distinct().limit(1).collect()[0]
    res = spark.sql(
        f"""
        SELECT lang,
               hll_estimate(h)          AS n_distinct,
               kll_quantile(k, 0.5)     AS p50,
               cms_count(c, '{present["source"]}')  AS src_count,
               bloom_contains(b, '{present["source"]}') AS has_src
        FROM __sk_sql WHERE lang = '{present["lang"]}'
        """
    ).collect()[0]
    exact = (
        docs.where(F.col("lang") == present["lang"])
        .agg(
            F.countDistinct("text").alias("nd"),
            F.expr("percentile(n_chars, 0.5)").alias("p50"),
            F.sum((F.col("source") == present["source"]).cast("long")).alias("sc"),
        )
        .collect()[0]
    )
    assert abs(res["n_distinct"] / exact["nd"] - 1) < 0.1
    assert res["p50"] == pytest.approx(exact["p50"], rel=1e-9)  # lossless
    assert res["src_count"] >= exact["sc"]  # CMS one-sided
    assert res["has_src"] is True  # no false negatives


def test_sketch_merge_agg_rollup(spark, sf_dir):
    """Coarser sketch groupings derived by blob merge must match
    sketches built directly at the coarser grain (associativity)."""
    from tdigest_spark.operators.sketch_agg import (
        sketch_build,
        sketch_estimates,
        sketch_merge_agg,
    )
    from tdigest_spark.sources.tables import load

    docs = load(spark, sf_dir, "documents")
    fine = sketch_build(
        docs,
        {"h": ("hll", "text", 12), "k": ("kll", "n_chars", 1_000_000)},
        by=["lang", "source"],
    )
    rolled = sketch_merge_agg(fine, {"h": "hll", "k": "kll"}, by=["lang"])
    direct = sketch_build(
        docs,
        {"h": ("hll", "text", 12), "k": ("kll", "n_chars", 1_000_000)},
        by=["lang"],
    )
    est = lambda df: {
        r["lang"]: (r["nd"], r["p50"])
        for r in sketch_estimates(
            df, {"nd": ("hll_estimate", "h"), "p50": ("kll_quantile", "k", 0.5)}
        ).collect()
    }
    a, b = est(rolled), est(direct)
    assert set(a) == set(b)
    for lang in a:
        # HLL register-max merge is exactly order-insensitive
        assert a[lang][0] == pytest.approx(b[lang][0], rel=1e-12)
        # KLL lossless: merge-of-parts == direct build exactly
        assert a[lang][1] == pytest.approx(b[lang][1], abs=1e-9)

    # global rollup from the fine level
    g = sketch_merge_agg(fine, {"h": "hll"}, by=[])
    got = sketch_estimates(g, {"nd": ("hll_estimate", "h")}).collect()[0]["nd"]
    dg = sketch_build(docs, {"h": ("hll", "text", 12)})
    want = sketch_estimates(dg, {"nd": ("hll_estimate", "h")}).collect()[0]["nd"]
    assert got == pytest.approx(want, rel=1e-12)


def test_approx_topk_zipf_high_cardinality(spark):
    """Candidate pruning must recover the exact top-k on a skewed
    (Zipf-ish) high-cardinality domain, and the CMS variant must rank
    the same heavy head."""
    from pyspark.sql import functions as F

    from tdigest_spark.operators.topk import approx_topk, cms_topk_estimates

    # ~38k distinct keys, frequency ~ 1/(key+1): heavy head, long tail
    df = spark.range(0, 400_000, 1, 8).select(
        F.floor(F.pow(F.lit(2.0), F.pmod(F.col("id") * 2654435761, 1_000_003) % 16)).alias("bucket"),
        (F.pmod(F.col("id") * 40503, 1 << 16)).alias("noise"),
    ).select(
        F.concat(F.lit("k"), (F.col("noise") % (F.col("bucket") * 37 + 1)).cast("string")).alias("key")
    )
    exact = (
        df.groupBy("key").agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("key").asc()).limit(10).collect()
    )
    approx = approx_topk(df, "key", k=10).collect()
    assert [(r["key"], r["cnt"]) for r in approx] == [
        (r["key"], r["cnt"]) for r in exact
    ]
    cms = cms_topk_estimates(df, "key", k=10).collect()
    # CMS overestimates, so near-ties at the k boundary may swap; the
    # heavy head must still overlap strongly and bounds must hold
    exact_counts = {
        r["key"]: r["cnt"]
        for r in df.groupBy("key").agg(F.count("*").alias("cnt")).collect()
    }
    assert len({r["key"] for r in cms} & {r["key"] for r in exact}) >= 8
    for r in cms:
        true = exact_counts[r["key"]]
        assert true <= r["est_count"] <= true + 0.0001 * 400_000 + 50


def test_misra_gries_state_bounded_high_cardinality():
    """The per-partition candidate summary must stay at <= cap counters
    while streaming ~1e6 distinct keys through, and the planted heavy
    hitters must survive (the Misra-Gries admission guarantee)."""
    import numpy as np
    import pandas as pd

    from tdigest_spark.operators.topk import _mg_add_batch

    rng = np.random.default_rng(0)
    cap = 256
    counts: dict = {}
    heavy = [f"hh{i}" for i in range(10)]
    n_seen = 0
    for chunk in range(50):
        # 20k unique cold keys + 2k occurrences of each heavy hitter
        cold = [f"k{chunk}_{i}" for i in range(20_000)]
        hot = list(np.repeat(heavy, 200))
        batch = pd.Series(cold + hot)
        _mg_add_batch(counts, batch, cap)
        n_seen += len(batch)
        assert len(counts) <= cap, "MG summary exceeded its capacity"
    # ~1e6 distinct cold keys seen overall; each heavy hitter has true
    # count 10k > N/(cap+1) ~ 4.3k -> guaranteed present
    for h in heavy:
        assert h in counts, f"heavy hitter {h} evicted"


def test_approx_topk_still_exact_counts_after_mg(spark):
    """End-to-end: bounded candidate state must not change the exact
    recount results for clearly-separated frequencies."""
    from pyspark.sql import functions as F

    from tdigest_spark.operators.topk import approx_topk

    df = spark.range(11_000).select(
        F.when(F.col("id") < 6000, F.lit("a"))
        .when(F.col("id") < 9000, F.lit("b"))
        .when(F.col("id") < 10_500, F.lit("c"))
        .otherwise(F.concat(F.lit("rare_"), F.col("id"))).alias("key")
    )
    got = approx_topk(df, "key", k=3).collect()
    assert [(r["key"], r["cnt"]) for r in got] == [("a", 6000), ("b", 3000), ("c", 1500)]


def test_sketch_build_rows_strategy_equals_partials(spark):
    """strategy='rows' (co-partition raw rows, build once per group, no
    merge stage) must produce identical estimates to the partial/merge
    path — register max / blob merge is associative, so both orders of
    accumulation agree exactly."""
    from pyspark.sql import functions as F

    from tdigest_spark.operators.sketch_agg import sketch_build, sketch_estimates

    src = spark.range(0, 30_000, 1, 8).select(
        (F.col("id") % 300).alias("g"),
        (F.col("id") % 97).cast("string").alias("k"),
        (F.col("id") % 101).cast("double").alias("v"),
    )
    specs = {"h": ("hll", "k", 10), "q": ("kll", "v", 200)}
    ests = {"n": ("hll_estimate", "h"), "p50": ("kll_quantile", "q", 0.5)}
    a = sketch_estimates(sketch_build(src, specs, by=["g"]), ests)
    b = sketch_estimates(sketch_build(src, specs, by=["g"], strategy="rows"), ests)
    ra = {r["g"]: (r["n"], r["p50"]) for r in a.collect()}
    rb = {r["g"]: (r["n"], r["p50"]) for r in b.collect()}
    assert ra == rb and len(ra) == 300

    plan = sketch_build(src, specs, by=["g"], strategy="rows")
    plan = plan._jdf.queryExecution().executedPlan().toString()
    # exactly ONE python stage, no FlatMapGroupsInPandas merge
    assert plan.count("MapInPandas") == 1 and "FlatMapGroupsInPandas" not in plan

    with pytest.raises(ValueError, match="requires grouping keys"):
        sketch_build(src, specs, strategy="rows")


def test_hll_overlap_inclusion_exclusion(spark):
    """Planted overlap: |A∩B| estimated within a few sigma of union."""
    from pyspark.sql import functions as F

    from tdigest_spark.operators.sketch_agg import hll_overlap, sketch_build

    a = spark.range(0, 3000).select(F.concat(F.lit("k"), "id").alias("k"))
    b = spark.range(2000, 6000).select(F.concat(F.lit("k"), "id").alias("k"))
    ha = sketch_build(a, {"h": ("hll", "k", 12)})
    hb = sketch_build(b, {"hb": ("hll", "k", 12)})
    row = hll_overlap(ha.crossJoin(hb), "h", "hb").collect()[0]
    tol = 5 * 1.04 / (1 << 6) * row["union_est"]  # 5 sigma at p=12
    assert abs(row["overlap_est"] - 1000) <= tol, (row["overlap_est"], tol)
    assert abs(row["union_est"] - 6000) <= 3 * 1.04 / (1 << 6) * 6000


def test_sketch_merge_agg_rows_strategy_equals_partials(spark):
    """Rollup merge via co-partitioned single stage must equal the
    partial/final path exactly (associative register max)."""
    from pyspark.sql import functions as F

    from tdigest_spark.operators.sketch_agg import (
        sketch_build,
        sketch_estimates,
        sketch_merge_agg,
    )

    src = spark.range(0, 20_000, 1, 8).select(
        (F.col("id") % 40).alias("g"),
        (F.col("id") % 7).alias("sub"),
        (F.col("id") % 400).cast("string").alias("k"),
    )
    fine = sketch_build(src, {"h": ("hll", "k", 10)}, by=["g", "sub"])
    # truncate lineage so the plan assertions below see ONLY the merge
    fine = fine.localCheckpoint(eager=True)
    a = sketch_merge_agg(fine, {"h": "hll"}, by=["g"])
    b = sketch_merge_agg(fine, {"h": "hll"}, by=["g"], strategy="rows")
    ea = {r["g"]: r["n"] for r in sketch_estimates(a, {"n": ("hll_estimate", "h")}).collect()}
    eb = {r["g"]: r["n"] for r in sketch_estimates(b, {"n": ("hll_estimate", "h")}).collect()}
    assert ea == eb and len(ea) == 40
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1 and "FlatMapGroupsInPandas" not in plan


def test_sketch_build_all_null_group_emits_empty(spark):
    """A group whose value column is entirely NULL must still emit its
    row with an empty sketch (estimate 0) on every strategy — the
    batch-level grouped update must not drop it."""
    from tdigest_spark.operators.sketch_agg import sketch_build, sketch_estimates

    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", None), ("b", None)], "g string, k string"
    )
    for strat in ("partials", "rows"):
        built = sketch_build(df, {"h": ("hll", "k", 12)}, by=["g"], strategy=strat)
        r = {
            x["g"]: x["n"]
            for x in sketch_estimates(built, {"n": ("hll_estimate", "h")}).collect()
        }
        assert set(r) == {"a", "b"}, (strat, r)
        assert r["b"] == 0.0 and r["a"] >= 1.0, (strat, r)


def test_rows_strategy_nan_group_key_single_row(spark):
    """A float-NaN group key must yield ONE output row under
    strategy='rows' (no downstream Spark merge to collapse duplicates):
    the all-NULL-group registration and the HLL grouped update both
    canonicalize NaN keys to one shared instance, so the dict key
    matches across the two code paths."""
    # the NaN must be a real SQL NaN (createDataFrame maps pandas NaN
    # to NULL): sqrt(-1) evaluates to NaN in Spark SQL
    df = (
        spark.range(5)
        .select(
            F.when(F.col("id") <= 1, 1.0)
            .when(F.col("id") <= 3, F.sqrt(F.lit(-1.0)))
            .otherwise(2.0)
            .alias("g"),
            F.concat(F.lit("v"), F.col("id")).alias("v"),
        )
        .coalesce(1)
    )
    built = sketch_build(df, {"h": ("hll", "v", 12)}, by=["g"], strategy="rows")
    rows = built.collect()
    assert len(rows) == 3, rows  # groups 1.0, 2.0, NaN — one row each
    from tdigest_spark.sketch.hll import HLL

    by_key = {}
    for r in rows:
        # Arrow round-trips may surface the NaN key as NaN or as null;
        # either way it must be ONE row
        k = "nan" if (r["g"] is None or r["g"] != r["g"]) else r["g"]
        assert k not in by_key, f"duplicate group row for key {k}"
        by_key[k] = round(HLL.from_bytes(bytes(r["h"])).estimate())
    assert by_key["nan"] == 2 and by_key[1.0] == 2 and by_key[2.0] == 1


def test_cms_grouped_build_probe_bound(spark):
    """The wide-sketch composition (ONE global CMS over concatenated
    (group, key)): estimates are one-sided (est >= exact, always) and
    within eps * N_global overcount; NULL groups/keys do not alias
    empty strings."""
    from tdigest_spark.operators.sketch_agg import (
        cms_grouped_build,
        cms_grouped_probe,
    )

    n = 20_000
    df = spark.range(n).select(
        (F.col("id") % 500).cast("string").alias("g"),
        # NULL keys planted every 1000th row: must count as their own
        # key, not alias the empty string
        F.when(F.col("id") % 1000 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 37)))
        .alias("k"),
    )
    eps = 1e-4
    sk = cms_grouped_build(df, "k", by=["g"], eps=eps, delta=0.01)
    exact = df.groupBy("g", "k").agg(F.count("*").alias("exact"))
    probed = cms_grouped_probe(exact, sk, "k", by=["g"])
    rows = probed.collect()
    assert len(rows) == exact.count()
    bound = eps * n
    for r in rows:
        assert r["est_count"] >= r["exact"], r
        assert r["est_count"] <= r["exact"] + max(1.0, bound), r


def test_kmv_sketch_build_and_samples(spark, sf_dir):
    """KMV through the distributed build: partials and rows strategies
    produce byte-identical blobs equal to a driver-side core build per
    group (exact mergeability); kmv_samples returns each group's
    bottom-k distinct sample; kmv_estimate is exact below k."""
    import pandas as pd

    from tdigest_spark.operators.sketch_agg import (
        kmv_samples,
        sketch_build,
        sketch_estimates,
    )
    from tdigest_spark.sketch.kmv import KMV

    docs = load(spark, sf_dir, "documents")
    specs = {"s": ("kmv", "text", 32)}
    a = sketch_build(docs, specs, by=["lang"])
    b = sketch_build(docs, specs, by=["lang"], strategy="rows")
    blobs_a = {r["lang"]: bytes(r["s"]) for r in a.collect()}
    blobs_b = {r["lang"]: bytes(r["s"]) for r in b.collect()}
    assert blobs_a == blobs_b

    pdf = docs.select("lang", "text").toPandas()
    for lang, g in pdf.groupby("lang"):
        want = KMV(32).add(g["text"].dropna().tolist())
        got = KMV.from_bytes(blobs_a[lang])
        assert got.values == want.values, lang
        # the sample surface agrees
    samples = {r["lang"]: r["sample"] for r in kmv_samples(a, "s").collect()}
    for lang in blobs_a:
        assert samples[lang] == KMV.from_bytes(blobs_a[lang]).sample()

    est = {
        r["lang"]: r["nd"]
        for r in sketch_estimates(a, {"nd": ("kmv_estimate", "s")}).collect()
    }
    exact = pdf.groupby("lang")["text"].nunique()
    for lang, n in exact.items():
        if n < 32:
            assert est[lang] == float(n)
        else:
            assert abs(est[lang] - n) / n < 5 / np.sqrt(30)

    # blob re-merge (checkpoint-table rollup path) is idempotent
    from tdigest_spark.operators.sketch_agg import sketch_merge_agg

    m = sketch_merge_agg(a.unionByName(a), {"s": "kmv"}, by=["lang"])
    assert {r["lang"]: bytes(r["s"]) for r in m.collect()} == blobs_a


def test_td_kind_one_pass_with_companions(spark, sf_dir):
    """t-digest as a sketch kind: ONE pass builds the rank sketch AND
    companion sketches together (the scan-fusion shape jobs/webpages.py
    runs as one sketch_build). Lossless mode makes the blob
    deterministic: partials and rows strategies agree byte-for-byte,
    the td_quantile estimate equals tdigest_agg's lossless quantile
    exactly, and re-merging two halves through sketch_merge_agg
    reproduces the full build."""
    from tdigest_spark.operators.digest_agg import tdigest_agg, tdigest_stats
    from tdigest_spark.operators.sketch_agg import (
        sketch_build,
        sketch_estimates,
        sketch_merge_agg,
    )
    from tdigest_spark.sketch.tdigest import TDigest

    LL = 1_000_000
    docs = load(spark, sf_dir, "documents")
    specs = {"d": ("td", "n_chars", LL), "h": ("hll", "source")}
    a = sketch_build(docs, specs, by=["lang"])
    b = sketch_build(docs, specs, by=["lang"], strategy="rows")
    blobs_a = {r["lang"]: (bytes(r["d"]), bytes(r["h"])) for r in a.collect()}
    blobs_b = {r["lang"]: (bytes(r["d"]), bytes(r["h"])) for r in b.collect()}
    assert blobs_a == blobs_b

    # estimate surface == the primary tdigest_agg surface (lossless)
    est = {
        r["lang"]: (r["p50"], r["n"])
        for r in sketch_estimates(
            a, {"p50": ("td_quantile", "d", 0.5), "n": ("td_total_weight", "d")}
        ).collect()
    }
    want = {
        r["lang"]: (r["p50"], r["n"])
        for r in tdigest_stats(
            tdigest_agg(
                docs.selectExpr("lang", "CAST(n_chars AS DOUBLE) AS v"),
                "v",
                by=["lang"],
                delta=LL,
            ),
            {"p50": ("quantile", 0.5), "n": ("total_weight",)},
        ).collect()
    }
    assert est == want

    # blob re-merge of two halves == full build (lossless determinism)
    h1 = sketch_build(
        docs.where(F.col("doc_id") % 2 == 0), specs, by=["lang"]
    )
    h2 = sketch_build(
        docs.where(F.col("doc_id") % 2 == 1), specs, by=["lang"]
    )
    m = sketch_merge_agg(
        h1.unionByName(h2), {"d": "td", "h": "hll"}, by=["lang"]
    )
    for r in m.collect():
        full = TDigest.from_bytes(blobs_a[r["lang"]][0])
        got = TDigest.from_bytes(bytes(r["d"]))
        assert np.array_equal(got.means, full.means)
        assert np.array_equal(got.weights, full.weights)
        assert bytes(r["h"]) == blobs_a[r["lang"]][1]


def test_kmv_overlap_operator_matches_core(spark, sf_dir):
    """kmv_overlap over a pair table of per-lang KMV blobs equals the
    driver-side core overlap exactly; same-sketch pairs give J=1."""
    from tdigest_spark.operators.sketch_agg import kmv_overlap, sketch_build
    from tdigest_spark.sketch.kmv import KMV

    docs = load(spark, sf_dir, "documents")
    sk = sketch_build(docs, {"s": ("kmv", "source", 64)}, by=["lang"])
    pairs = (
        sk.alias("a")
        .crossJoin(sk.selectExpr("lang as lang_b", "s as s_b").alias("b"))
        .filter("lang <= lang_b")
    )
    rows = kmv_overlap(pairs, "s", "s_b").collect()
    blobs = {r["lang"]: bytes(r["s"]) for r in sk.collect()}
    assert rows
    for r in rows:
        want = KMV.from_bytes(blobs[r["lang"]]).overlap(
            KMV.from_bytes(blobs[r["lang_b"]])
        )
        assert (r["jaccard_est"], r["overlap_est"], r["union_est"]) == want
        if r["lang"] == r["lang_b"]:
            assert r["jaccard_est"] == 1.0


def test_sketch_sliding_equals_direct_window_build(spark):
    """Pane-based sliding sketches must equal the direct per-window
    build. For the grouping-order-insensitive kinds (hll max / bloom
    or / cms add / kmv min-k) the blobs are BYTE-IDENTICAL; the kll
    window quantile is exact here (n per window < k). Window=10s,
    slide=4s exercises the non-multiple fan-out (gcd pane 2s)."""
    from tdigest_spark.operators.sketch_agg import (
        sketch_build,
        sketch_estimates,
        sketch_sliding,
    )

    rows = [(float(t), float(t), f"u{t % 7}") for t in range(0, 40)]
    df = spark.createDataFrame(
        rows, "off double, value double, user string"
    ).select(F.timestamp_seconds(F.col("off")).alias("ts"), "value", "user")
    specs = {
        "h": ("hll", "user", 12),
        "b": ("bloom", "user", 1 << 10, 5),
        "c": ("cms", "user", 0.01, 0.01),
        "m": ("kmv", "user", 16),
        "k": ("kll", "value", 200),
    }
    out = sketch_sliding(df, specs, "ts", 10, 4)
    got = {
        r["window_start"].timestamp(): r
        for r in out.collect()
    }
    direct = (
        df.select(F.window("ts", "10 seconds", "4 seconds").alias("w"),
                  "value", "user")
        .select(F.col("w.start").alias("ws"), "value", "user")
    )
    ref_df = sketch_build(direct, specs, by=["ws"])
    ref = {r["ws"].timestamp(): r for r in ref_df.collect()}
    assert set(got) == set(ref) and len(got) >= 12
    for ws, r in ref.items():
        g = got[ws]
        for c in ("h", "b", "c", "m"):
            assert bytes(g[c]) == bytes(r[c]), (c, ws)
    # kll: exact quantiles in this regime (n <= 10 rows per window < k)
    med = {
        r["window_start"].timestamp(): r["p50"]
        for r in sketch_estimates(out, {"p50": ("kll_quantile", "k", 0.5)}).collect()
    }
    exact = {
        r["ws"]: r["p50"]
        for r in direct.groupBy("ws")
        .agg(F.expr("percentile(value, 0.5)").alias("p50"))
        .collect()
    }
    for ws, v in exact.items():
        assert med[ws.timestamp()] == pytest.approx(v, abs=1e-12)


def test_sketch_sliding_grouped_counts(spark):
    """Grouped sliding sketches: per-(window, group) cms totals equal
    Spark's own window() row counts."""
    from tdigest_spark.operators.sketch_agg import sketch_estimates, sketch_sliding

    rows = [(float(t), float(t), "g" + str(t % 2)) for t in range(0, 30)]
    df = spark.createDataFrame(
        rows, "off double, value double, g string"
    ).select(F.timestamp_seconds(F.col("off")).alias("ts"), "value", "g")
    out = sketch_sliding(df, {"c": ("cms", "value", 0.01, 0.01)}, "ts", 6, 3,
                         by=["g"])
    got = {
        (r["window_start"].timestamp(), r["g"]): r["n"]
        for r in sketch_estimates(out, {"n": ("cms_total", "c")}).collect()
    }
    ref = {
        (r["ws"].timestamp(), r["g"]): float(r["n"])
        for r in df.select(F.window("ts", "6 seconds", "3 seconds").alias("w"), "g")
        .groupBy(F.col("w.start").alias("ws"), "g")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == ref


def test_cms_join_size_lineitem_orders(spark, sf_dir):
    from tdigest_spark.operators.sketch_agg import cms_join_size
    from tdigest_spark.sources.tables import load

    li = load(spark, sf_dir, "lineitem")
    od = load(spark, sf_dir, "orders")
    row = cms_join_size(li, "l_orderkey", od, "o_orderkey", eps=1e-4).collect()[0]
    true = li.join(od, li["l_orderkey"] == od["o_orderkey"]).count()
    assert row.n_a == li.count() and row.n_b == od.count()
    assert true <= row.est <= true + row.bound
    # the estimate is informative, not just the trivial bound: the
    # overcount is a small fraction of the true size at this width
    assert row.est - true <= 0.05 * true

    # an EMPTY side yields est=0/bound=0 (zero rows from the global
    # reduce), never an IndexError on collect()[0]
    empty = li.where(F.lit(False))
    erow = cms_join_size(empty, "l_orderkey", od, "o_orderkey").collect()[0]
    assert (erow.est, erow.bound, erow.n_a) == (0, 0.0, 0)
    assert erow.n_b == od.count()
    brow = cms_join_size(li, "l_orderkey", od.where(F.lit(False)), "o_orderkey").collect()[0]
    assert (brow.est, brow.bound, brow.n_b) == (0, 0.0, 0)


def test_null_blob_guards(spark):
    """NULL sketch blobs (nullable checkpoint columns) are skipped in
    fd_merge_agg and yield NULL metrics in kmv_overlap — never a task
    crash."""
    import numpy as np

    from tdigest_spark.operators.fd_agg import fd_agg, fd_merge_agg
    from tdigest_spark.operators.sketch_agg import kmv_overlap, sketch_build
    from tdigest_spark.sketch.fd import FrequentDirections

    vecs = [([float(i), float(i % 3)],) for i in range(20)]
    src = spark.createDataFrame(vecs, "v array<double>")
    fd = fd_agg(src, "v", ell=4)
    blob = bytes(fd.collect()[0]["fd"])
    withnull = spark.createDataFrame(
        [(blob,), (None,)], "fd binary"
    )
    merged = fd_merge_agg(withnull).collect()
    assert len(merged) == 1 and merged[0]["fd"] is not None
    got = FrequentDirections.from_bytes(bytes(merged[0]["fd"]))
    want = FrequentDirections.from_bytes(blob)
    assert np.allclose(got.gram(), want.gram())
    allnull = spark.createDataFrame([(None,), (None,)], "fd binary")
    assert fd_merge_agg(allnull).collect()[0]["fd"] is None

    k = sketch_build(
        spark.createDataFrame([("x",), ("y",)], "s string"), {"k": ("kmv", "s", 8)}
    )
    kblob = bytes(k.collect()[0]["k"])
    pairs = spark.createDataFrame(
        [(kblob, kblob), (kblob, None), (None, None)], "a binary, b binary"
    )
    rows = kmv_overlap(pairs, "a", "b").collect()
    assert rows[0]["jaccard_est"] == 1.0
    assert rows[1]["jaccard_est"] is None and rows[2]["jaccard_est"] is None
