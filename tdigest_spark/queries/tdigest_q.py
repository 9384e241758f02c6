"""t-digest query family for the driver contract.

Every oracle-checked query here runs the digest in *lossless* mode
(delta large enough that the k1 pass performs no merging — a legitimate
operating point of the sketch) so the DuckDB oracle comparison is an
exact value-hash match; approximate operation at real compression
levels is covered by rank-error pytest assertions
(tests/test_tdigest_core.py, tests/test_tdigest_spark.py) and by the
bound-boolean half of `td_histogram_mass_events` below.

Float outputs are rounded identically on both sides (driver hashes
values; see SURVEY.md §5).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tdigest_spark.operators.digest_agg import (
    tdigest_agg,
    tdigest_cdf_at,
    tdigest_merge_agg,
    tdigest_stats,
)
from tdigest_spark.sources.tables import load

LOSSLESS = 4_000_000  # > pi/2 * max group rows at sf<=0.1


def _round(df: DataFrame, cols: dict[str, int]) -> DataFrame:
    for c, n in cols.items():
        df = df.withColumn(c, F.round(F.col(c), n))
    return df


def td_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full scalar-stats surface in ONE fused pass per group:
    median (``quantile``), ``mean``/``variance``/``stddev`` (incl. the
    reference's NonEmpty missing-sqrt fix), ``total_weight``, exact
    running ``vmin``/``vmax`` — every stat the reference's Postprocess
    module exposes, from one lossless digest, hash-exact vs SQL — plus
    the per-group cdf probe (``tdigest_cdf_at`` at each group's max:
    the mid-rank convention makes it ``1 − ties/2n``, exact).
    (Consolidates round-2's td_median_events + td_moments_events +
    td_count_minmax_events, and round-3's td_cdf_probe_events, under
    the driver's 50-row budget.)"""
    ev = load(spark, sf_dir, "events")
    dig = tdigest_agg(ev, "value", by=["event_type"], delta=LOSSLESS)
    out = tdigest_stats(
        dig,
        {
            "median_value": ("quantile", 0.5),
            "mean_value": ("mean",),
            "var_value": ("variance",),
            "std_value": ("stddev",),
            "n_values": ("total_weight",),
            "min_value": ("vmin",),
            "max_value": ("vmax",),
        },
    )
    out = _round(out, {"median_value": 4, "mean_value": 4, "var_value": 3, "std_value": 4})
    out = out.withColumn("n_values", F.col("n_values").cast("long"))
    probes = ev.groupBy("event_type").agg(F.max("value").alias("__probe"))
    cdf = tdigest_cdf_at(
        dig.join(probes, "event_type"), "__probe", out_col="cdf_at_max"
    ).select("event_type", F.round("cdf_at_max", 6).alias("cdf_at_max"))
    return out.join(cdf, "event_type")


def td_quantiles_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile ladder + trimmed mean (advertised-but-missing in the
    reference, ``tdigest/README.md:3``) from one lossless digest."""
    dig = tdigest_agg(
        load(spark, sf_dir, "lineitem"), "l_extendedprice", by=["l_returnflag"], delta=LOSSLESS
    )
    out = tdigest_stats(
        dig,
        {
            "q10": ("quantile", 0.10),
            "q50": ("quantile", 0.50),
            "q90": ("quantile", 0.90),
            "q99": ("quantile", 0.99),
            "tmean_10_90": ("trimmed_mean", 0.1, 0.9),
        },
    )
    return _round(out, {c: 4 for c in ("q10", "q50", "q90", "q99", "tmean_10_90")})


def td_merge_engines_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digest merge — the reference's ``<>``/``mconcat``
    (Tree/Internal.hs:143-153) — through BOTH paths of
    ``tdigest_merge_agg`` in one query: value-banded partial digests
    per event_type merged by (a) the grouped path (pure JVM
    expressions: explode -> window cumsum -> closed-form k1 cluster ids
    -> hash-agg rebuild, no Python worker) and (b) the keyless path
    (partition-local then single-task merge in the numpy kernel, under
    the same k1 rule), run once per event_type and unioned. Lossless, so both hash-match quantile_cont exactly AND
    each other. (Consolidates round-2's td_merge_halves_events +
    td_merge_sql_events.)"""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    banded = ev.withColumn("band", (F.col("value") > 30).cast("int"))
    partial = tdigest_agg(banded, "value", by=["event_type", "band"], delta=LOSSLESS)
    # O(groups x bands) digest rows feed BOTH merge paths — compute
    # the O(rows) partial build once
    partial = partial.localCheckpoint(eager=True).drop("band")
    m_sql = tdigest_merge_agg(partial, by=["event_type"])
    types = sorted(
        r["event_type"] for r in partial.select("event_type").distinct().collect()
    )
    m_pd = functools.reduce(
        DataFrame.unionByName,
        [
            tdigest_merge_agg(partial.where(F.col("event_type") == t)).select(
                F.lit(t).alias("event_type"), "digest"
            )
            for t in types
        ],
    )
    s_sql = tdigest_stats(m_sql, {"p50_sql": ("quantile", 0.5), "n_sql": ("total_weight",)})
    s_pd = tdigest_stats(m_pd, {"p50_pandas": ("quantile", 0.5), "n_pandas": ("total_weight",)})
    out = s_sql.join(s_pd, "event_type")
    out = _round(out, {"p50_sql": 4, "p50_pandas": 4})
    return out.withColumn("n_sql", F.col("n_sql").cast("long")).withColumn(
        "n_pandas", F.col("n_pandas").cast("long")
    )


def td_histogram_mass_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram invariants (lossless digest) joined with the REAL
    compression level's rank-error booleans (delta=100) — one driver
    row for both post-processing surfaces over the same table
    (consolidates round-3's td_histogram_mass_events +
    td_p99_compressed under the 50-row driver cap).

    Histogram half: total bin mass == count, bin range == [min, max].
    Compressed half: the exact rank of each delta=100 estimate is
    computed with Spark built-ins and asserted within the published
    O(1/delta) rank-error bound as a boolean (the DuckDB oracle emits
    the same exact facts + literal true, so a bound violation IS a
    hash mismatch).

    Chart half (round-5 fold — SURVEY §2.6's last driver-unverified
    mapping): the density-histogram series behind tdigest-Chart's
    render must integrate to 1 over the bin widths (``dens_integral``;
    the oracle emits the literal, so a density-formula defect IS a
    hash mismatch), and the chart's quantile VERTICALS (q25/q50/q75
    from the same lossless digest, ``tdigest-Chart/src/.../
    TDigest.hs:91-125``) are emitted as values the oracle recomputes
    with ``quantile_cont`` — exact equality, not a bound."""
    from tdigest_spark.operators.digest_agg import tdigest_histogram

    dig = tdigest_agg(
        load(spark, sf_dir, "events"), "value", by=["event_type"], delta=LOSSLESS
    ).localCheckpoint(eager=True)  # feeds histogram AND the verticals
    h = tdigest_histogram(dig, include_density=True)
    hist = (
        h.select(
            "event_type",
            F.aggregate("histogram", F.lit(0.0), lambda acc, b: acc + b["weight"])
            .cast("long")
            .alias("mass"),
            F.round(F.element_at("histogram", 1)["lo"], 4).alias("lo"),
            F.round(F.element_at("histogram", -1)["hi"], 4).alias("hi"),
            F.round(
                F.aggregate(
                    "histogram_density",
                    F.lit(0.0),
                    lambda acc, b: acc + b["density"] * (b["hi"] - b["lo"]),
                ),
                6,
            ).alias("dens_integral"),
        )
    )
    verts = tdigest_stats(
        dig,
        {"v25": ("quantile", 0.25), "v50": ("quantile", 0.5),
         "v75": ("quantile", 0.75)},
    )
    verts = _round(verts, {"v25": 4, "v50": 4, "v75": 4})
    return (
        hist.join(verts, "event_type")
        .join(_p99_rank_bounds(spark, sf_dir), "event_type")
    )


def _p99_rank_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    dig = tdigest_agg(ev, "value", by=["event_type"], delta=100)
    est = tdigest_stats(dig, {"p50": ("quantile", 0.5), "p99": ("quantile", 0.99)})
    j = ev.join(F.broadcast(est), "event_type")
    v = F.col("value")
    ranks = j.groupBy("event_type").agg(
        F.count("*").alias("n"),
        (
            (
                F.sum((v < F.col("p50")).cast("double"))
                + 0.5 * F.sum((v == F.col("p50")).cast("double"))
            )
            / F.count("*")
        ).alias("r50"),
        (
            (
                F.sum((v < F.col("p99")).cast("double"))
                + 0.5 * F.sum((v == F.col("p99")).cast("double"))
            )
            / F.count("*")
        ).alias("r99"),
    )
    return ranks.select(
        "event_type",
        "n",
        (F.abs(F.col("r50") - 0.5) <= 0.02).alias("p50_ok"),
        (F.abs(F.col("r99") - 0.99) <= 0.02).alias("p99_ok"),
    )



def td_cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full grouping-lattice surface in ONE driver row, tagged by
    ``leg`` (consolidated under the 50-row cap; the former standalone
    td_rollup_lineitem folded in round 4 to admit
    ht_rollup_window_events):

    * ``cube`` — CUBE(l_returnflag, l_linestatus) medians derived by
      digest merge from the leaf level, the full 2^d subset lattice
      from one scan (exact when lossless, matching SQL CUBE +
      quantile_cont).
    * ``rollup`` — ROLLUP(l_returnflag, l_linestatus), the prefix
      chain derived by merge from the same machinery.
    * ``gsets`` — arbitrary non-lattice GROUPING SETS
      ((l_returnflag, l_linenumber), (l_linestatus), ()) over three
      dimensions, each derived by merge from its smallest computed
      superset, with the SQL GROUPING_ID bitmask carried so rolled-up
      NULLs stay distinguishable."""
    from tdigest_spark.operators.digest_agg import (
        tdigest_cube,
        tdigest_grouping_sets,
        tdigest_rollup,
    )

    li = load(spark, sf_dir, "lineitem")
    rolled = tdigest_rollup(
        li, "l_extendedprice", ["l_returnflag", "l_linestatus"], delta=LOSSLESS
    )
    roll_stats = tdigest_stats(rolled, {"p50": ("quantile", 0.5), "n": ("total_weight",)})
    roll_out = (
        _round(roll_stats, {"p50": 4})
        .withColumn("n", F.col("n").cast("long"))
        .select(
            F.lit("rollup").alias("leg"),
            "l_returnflag",
            "l_linestatus",
            F.lit(None).cast("int").alias("l_linenumber"),
            F.lit(None).cast("int").alias("gid"),
            "p50",
            "n",
        )
    )
    cubed = tdigest_cube(
        li, "l_extendedprice", ["l_returnflag", "l_linestatus"], delta=LOSSLESS
    )
    cube_stats = tdigest_stats(cubed, {"p50": ("quantile", 0.5), "n": ("total_weight",)})
    cube_out = (
        _round(cube_stats, {"p50": 4})
        .withColumn("n", F.col("n").cast("long"))
        .select(
            F.lit("cube").alias("leg"),
            "l_returnflag",
            "l_linestatus",
            F.lit(None).cast("int").alias("l_linenumber"),
            F.lit(None).cast("int").alias("gid"),
            "p50",
            "n",
        )
    )
    gsets = tdigest_grouping_sets(
        li,
        "l_extendedprice",
        sets=[["l_returnflag", "l_linenumber"], ["l_linestatus"], []],
        dims=["l_returnflag", "l_linestatus", "l_linenumber"],
        delta=LOSSLESS,
    )
    gs_stats = tdigest_stats(gsets, {"p50": ("quantile", 0.5), "n": ("total_weight",)})
    gs_out = (
        _round(gs_stats, {"p50": 4})
        .withColumn("n", F.col("n").cast("long"))
        .select(
            F.lit("gsets").alias("leg"),
            "l_returnflag",
            "l_linestatus",
            "l_linenumber",
            F.col("grouping_id").alias("gid"),
            "p50",
            "n",
        )
    )
    return roll_out.unionByName(cube_out).unionByName(gs_out)


def td_windows_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH time-window digest shapes over events in one driver row
    (consolidates round-3's td_sliding_events + td_windowed_events
    under the 50-row driver cap), tagged by ``wkind``:

    * ``slide7d`` — sliding 7d/1d windows via the PANE architecture:
      rows aggregate once into daily pane digests, panes fan out to
      their 7 covering windows and merge JVM-side — no raw-row
      duplication (vs the 7x explode of groupBy(window(ts, 7d, 1d))).
    * ``tumble1d`` — event-time tumbling day windows: per
      (event_type, day) quantiles, the time-bucketed rollup shape of a
      metrics pipeline.

    Lossless -> both hash-match their exact SQL forms."""
    from tdigest_spark.operators.digest_agg import tdigest_sliding

    ev = load(spark, sf_dir, "events").select("ts", "event_type", "value")
    slid = tdigest_sliding(
        ev, "value", "ts", 7 * 86400, 86400, by=["event_type"], delta=LOSSLESS
    )
    s_stats = tdigest_stats(slid, {"p50": ("quantile", 0.5), "n": ("total_weight",)})
    s_out = (
        _round(s_stats, {"p50": 4})
        .withColumn("n", F.col("n").cast("long"))
        .select(
            F.lit("slide7d").alias("wkind"),
            F.col("window_start").alias("ws"),
            "event_type",
            "p50",
            "n",
        )
    )
    tumb = ev.withColumn("day", F.date_trunc("day", F.col("ts")))
    t_dig = tdigest_agg(tumb, "value", by=["event_type", "day"], delta=LOSSLESS)
    t_stats = tdigest_stats(t_dig, {"p50": ("quantile", 0.5), "n": ("total_weight",)})
    t_out = (
        _round(t_stats, {"p50": 4})
        .withColumn("n", F.col("n").cast("long"))
        .select(
            F.lit("tumble1d").alias("wkind"),
            F.col("day").alias("ws"),
            "event_type",
            "p50",
            "n",
        )
    )
    return s_out.unionByName(t_out)


def td_sql_surface_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-SQL query surface: digests built once into a temp view,
    then queried with registered SQL functions (tdigest_quantile /
    tdigest_median / tdigest_total_weight) — the Spark-idiomatic form of
    the reference's function-composition queries (Postprocess.hs:27-62)."""
    from tdigest_spark.functions.sql_udfs import register_sql_functions

    register_sql_functions(spark)
    ev = load(spark, sf_dir, "events")
    tdigest_agg(ev, "value", by=["event_type"], delta=LOSSLESS).createOrReplaceTempView(
        "__td_sql_digests"
    )
    return spark.sql(
        """
        SELECT event_type,
               round(tdigest_median(digest), 4)         AS p50,
               round(tdigest_quantile(digest, 0.9), 4)  AS p90,
               cast(tdigest_total_weight(digest) AS bigint) AS n
        FROM __td_sql_digests
        """
    )


def td_weighted_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WEIGHTED build path (weight = l_quantity) checked at every
    rank surface from one digest (consolidates round-2's
    td_weighted_mean_lineitem + td_weighted_cdf_lineitem, plus the
    round-2 verdict's weighted-QUANTILE oracle):

    * ``wmean``/``wtotal`` — exact under merging (weighted-mean
      identity), value-hash-checked;
    * ``cdf_mid``/``cdf_max`` — weighted mid-rank cdf probed at
      per-group DATA values (the lossless digest is exactly the
      weighted mid-rank step function AT its atoms; between atoms it
      interpolates, so probes must be data values), integer-weight
      arithmetic => hash-exact vs SQL;
    * ``wq25_ok``/``wq50_ok``/``wq75_ok`` — weighted QUANTILES
      rank-sandwiched exactly: for v = quantile(q) of a lossless
      weighted digest, W(<v) <= q*tw + w_max/2 + 1 and
      W(<=v) >= q*tw - w_max/2 - 1 (the interpolation segment around
      rank t = q*(tw-1)+0.5 spans at most one atom's half-weight on
      each side). Both sums are exact integer-weight arithmetic over
      the raw rows, so the booleans are deterministic; a mis-weighted
      build shifts the quantile's true weighted rank by percentage
      points and breaks the sandwich.
    """
    li = load(spark, sf_dir, "lineitem")
    dig = tdigest_agg(
        li, "l_extendedprice", by=["l_returnflag"], delta=LOSSLESS,
        weight_col="l_quantity",
    )
    # the digest table (O(groups) rows) feeds THREE consumers (stats,
    # cdf probes, rank-sandwich join) — eager localCheckpoint computes
    # the O(rows) build once instead of once per consumer
    dig = dig.localCheckpoint(eager=True)
    st = tdigest_stats(
        dig,
        {
            "wmean": ("mean",),
            "wtotal": ("total_weight",),
            "wq25": ("quantile", 0.25),
            "wq50": ("quantile", 0.5),
            "wq75": ("quantile", 0.75),
        },
    )
    probes = li.groupBy("l_returnflag").agg(
        F.min(
            F.when(F.col("l_extendedprice") >= 30_000.0, F.col("l_extendedprice"))
        ).alias("__pmid"),
        F.max("l_extendedprice").alias("__pmax"),
    )
    cd = tdigest_cdf_at(
        dig.join(probes, "l_returnflag"),
        {"cdf_mid": "__pmid", "cdf_max": "__pmax"},
    ).drop("__pmid", "__pmax")
    base = st.join(cd, "l_returnflag")

    v, w = F.col("l_extendedprice"), F.col("l_quantity")
    ranks = (
        li.select("l_returnflag", "l_extendedprice", "l_quantity")
        .join(F.broadcast(base), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.sum(w).cast("double").alias("__tw"),
            F.max(w).cast("double").alias("__wmax"),
            *[
                agg
                for q, wq in ((0.25, "wq25"), (0.5, "wq50"), (0.75, "wq75"))
                for agg in (
                    F.sum(F.when(v < F.col(wq), w).otherwise(0.0)).cast("double").alias(f"__lt_{wq}"),
                    F.sum(F.when(v <= F.col(wq), w).otherwise(0.0)).cast("double").alias(f"__le_{wq}"),
                )
            ],
        )
    )
    slack = F.col("__wmax") / 2.0 + 1.0
    oks = [
        (
            (F.col(f"__lt_{wq}") <= F.lit(q) * F.col("__tw") + slack)
            & (F.col(f"__le_{wq}") >= F.lit(q) * F.col("__tw") - slack)
        ).alias(f"{wq}_ok")
        for q, wq in ((0.25, "wq25"), (0.5, "wq50"), (0.75, "wq75"))
    ]
    out = base.join(ranks, "l_returnflag").select(
        "l_returnflag",
        F.round("wmean", 4).alias("wmean"),
        F.col("wtotal").cast("long").alias("wtotal"),
        F.round("cdf_mid", 6).alias("cdf_mid"),
        F.round("cdf_max", 6).alias("cdf_max"),
        *oks,
    )
    return out


def td_fused_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED tdigest_stats calls over one digest column — exercises
    the digest-aware fusion rewrite (PLANS.md §6): the second call
    rebuilds from the first's input with the union of both specs, so
    the plan carries ONE stats mapInPandas stage, and the values are
    identical to evaluating everything in a single call."""
    dig = tdigest_agg(
        load(spark, sf_dir, "events"), "value", by=["event_type"], delta=LOSSLESS
    )
    first = tdigest_stats(dig, {"p50_value": ("quantile", 0.5)})
    out = tdigest_stats(
        first, {"p90_value": ("quantile", 0.9), "mean_value": ("mean",)}
    )
    return _round(out, {"p50_value": 4, "p90_value": 4, "mean_value": 4})


def td_mad_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation — robust dispersion the reference's
    stats surface lacks — composed from existing operators in two
    digest passes: per-group median (lossless), then a lossless digest
    of |value − median|. Oracle: DuckDB's ``mad()`` (same unscaled
    continuous-median convention)."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    d1 = tdigest_agg(ev, "value", by=["event_type"], delta=LOSSLESS)
    med = tdigest_stats(d1, {"__med": ("quantile", 0.5)})
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("__med")).alias("dev")
    )
    d2 = tdigest_agg(dev, "dev", by=["event_type"], delta=LOSSLESS)
    out = tdigest_stats(d2, {"mad": ("quantile", 0.5)})
    return _round(out, {"mad": 4})


def td_highcard_sql_build_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The all-JVM build engine through the oracle gate at HIGH group
    cardinality (1e4 groups — the regime it exists for): lossless
    per-group medians == quantile_cont, folded to one row with
    scaled-BIGINT checksums (exact, order-independent — a double sum
    over 1e4 groups would hash-drift on partition order)."""
    li = load(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 10_000).alias("g"), "l_extendedprice"
    )
    dig = tdigest_agg(
        li, "l_extendedprice", by=["g"], delta=LOSSLESS, build_engine="sql"
    )
    st = tdigest_stats(dig, {"p50": ("quantile", 0.5), "n": ("total_weight",)})
    # integer checksum of the 1e4 medians: scale to BIGINT before
    # summing (a double sum over 1e4 groups would drift with partition
    # order; integer addition is exact and order-free)
    return st.agg(
        F.count("*").alias("n_groups"),
        F.sum(F.col("n").cast("long")).alias("n_rows"),
        F.sum(F.round(F.col("p50") * 10_000).cast("long")).alias("p50_checksum"),
    )


QUERIES = {
    "td_stats_events": td_stats_events,
    "td_quantiles_lineitem": td_quantiles_lineitem,
    "td_merge_engines_events": td_merge_engines_events,
    "td_histogram_mass_events": td_histogram_mass_events,
    "td_cube_lineitem": td_cube_lineitem,
    "td_sql_surface_events": td_sql_surface_events,
    "td_windows_events": td_windows_events,
    "td_weighted_lineitem": td_weighted_lineitem,
    "td_fused_stats_events": td_fused_stats_events,
    "td_mad_events": td_mad_events,
    "td_highcard_sql_build_lineitem": td_highcard_sql_build_lineitem,
}

ORACLES = {
    "td_stats_events": """
        WITH m AS (SELECT event_type, max(value) AS x FROM events GROUP BY event_type)
        SELECT e.event_type,
               round(quantile_cont(e.value, 0.5), 4) AS median_value,
               round(avg(e.value), 4) AS mean_value,
               round(var_samp(e.value), 3) AS var_value,
               round(stddev_samp(e.value), 4) AS std_value,
               count(e.value) AS n_values,
               min(e.value) AS min_value,
               max(e.value) AS max_value,
               round(sum(CASE WHEN e.value < m.x THEN 1.0
                              WHEN e.value = m.x THEN 0.5 ELSE 0.0 END) / count(*), 6)
                   AS cdf_at_max
        FROM events e JOIN m USING (event_type)
        GROUP BY e.event_type
    """,
    "td_quantiles_lineitem": """
        WITH r AS (
          SELECT l_returnflag, l_extendedprice AS v,
                 row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
                 count(*) OVER (PARTITION BY l_returnflag) AS n
          FROM lineitem
        ),
        tm AS (
          SELECT l_returnflag, round(sum(v * w) / sum(w), 4) AS tmean_10_90
          FROM (SELECT l_returnflag, v,
                       greatest(0, least(0.9 * n, rn) - greatest(0.1 * n, rn - 1)) AS w
                FROM r)
          GROUP BY l_returnflag
        ),
        q AS (
          SELECT l_returnflag,
                 round(quantile_cont(l_extendedprice, 0.10), 4) AS q10,
                 round(quantile_cont(l_extendedprice, 0.50), 4) AS q50,
                 round(quantile_cont(l_extendedprice, 0.90), 4) AS q90,
                 round(quantile_cont(l_extendedprice, 0.99), 4) AS q99
          FROM lineitem GROUP BY l_returnflag
        )
        SELECT q.l_returnflag, q10, q50, q90, q99, tmean_10_90
        FROM q JOIN tm USING (l_returnflag)
    """,
    "td_merge_engines_events": """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 4) AS p50_sql,
               count(value) AS n_sql,
               round(quantile_cont(value, 0.5), 4) AS p50_pandas,
               count(value) AS n_pandas
        FROM events GROUP BY event_type
    """,
    "td_histogram_mass_events": """
        SELECT event_type, count(value) AS mass,
               round(min(value), 4) AS lo, round(max(value), 4) AS hi,
               1.0 AS dens_integral,
               round(quantile_cont(value, 0.25), 4) AS v25,
               round(quantile_cont(value, 0.5), 4) AS v50,
               round(quantile_cont(value, 0.75), 4) AS v75,
               count(value) AS n, true AS p50_ok, true AS p99_ok
        FROM events GROUP BY event_type
    """,
    "td_windows_events": """
        WITH r AS (SELECT epoch_us(ts) AS t, event_type, value FROM events),
        e AS (SELECT unnest(generate_series(0, 6)) AS i, t, event_type, value
              FROM r),
        w AS (SELECT (t // 86400000000) * 86400000000 - i * 86400000000 AS ws,
                     event_type, value
              FROM e)
        SELECT 'slide7d' AS wkind, make_timestamp(ws) AS ws, event_type,
               round(quantile_cont(value, 0.5), 4) AS p50,
               count(value) AS n
        FROM w GROUP BY 1, 2, 3
        UNION ALL
        SELECT 'tumble1d' AS wkind, date_trunc('day', ts) AS ws, event_type,
               round(quantile_cont(value, 0.5), 4) AS p50,
               count(value) AS n
        FROM events GROUP BY 1, 2, 3
    """,
    "td_sql_surface_events": """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 4) AS p50,
               round(quantile_cont(value, 0.9), 4) AS p90,
               count(value) AS n
        FROM events GROUP BY event_type
    """,
    "td_cube_lineitem": """
        SELECT 'rollup' AS leg, l_returnflag, l_linestatus,
               CAST(NULL AS INT) AS l_linenumber,
               CAST(NULL AS INT) AS gid,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
               count(l_extendedprice) AS n
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag, l_linestatus)
        UNION ALL
        SELECT 'cube' AS leg, l_returnflag, l_linestatus,
               CAST(NULL AS INT) AS l_linenumber,
               CAST(NULL AS INT) AS gid,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
               count(l_extendedprice) AS n
        FROM lineitem
        GROUP BY CUBE(l_returnflag, l_linestatus)
        UNION ALL
        SELECT 'gsets' AS leg, l_returnflag, l_linestatus, l_linenumber,
               CAST(GROUPING(l_returnflag) * 4 + GROUPING(l_linestatus) * 2
                    + GROUPING(l_linenumber) AS INT) AS gid,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
               count(l_extendedprice) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linenumber), (l_linestatus), ())
    """,
    "td_weighted_lineitem": """
        WITH p AS (
          SELECT l_returnflag,
                 min(CASE WHEN l_extendedprice >= 30000.0
                          THEN l_extendedprice END) AS pmid,
                 max(l_extendedprice) AS pmax
          FROM lineitem GROUP BY l_returnflag
        )
        SELECT l.l_returnflag,
               round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4)
                   AS wmean,
               sum(l_quantity)::BIGINT AS wtotal,
               round((2 * sum(CASE WHEN l_extendedprice < pmid
                                   THEN l_quantity ELSE 0 END)::BIGINT
                      + sum(CASE WHEN l_extendedprice = pmid
                                 THEN l_quantity ELSE 0 END)::BIGINT)::DOUBLE
                     / (2 * sum(l_quantity)::BIGINT)::DOUBLE, 6) AS cdf_mid,
               round((2 * sum(CASE WHEN l_extendedprice < pmax
                                   THEN l_quantity ELSE 0 END)::BIGINT
                      + sum(CASE WHEN l_extendedprice = pmax
                                 THEN l_quantity ELSE 0 END)::BIGINT)::DOUBLE
                     / (2 * sum(l_quantity)::BIGINT)::DOUBLE, 6) AS cdf_max,
               true AS wq25_ok, true AS wq50_ok, true AS wq75_ok
        FROM lineitem l JOIN p USING (l_returnflag)
        GROUP BY l.l_returnflag
    """,
    "td_highcard_sql_build_lineitem": """
        WITH g AS (
          SELECT l_orderkey % 10000 AS g,
                 quantile_cont(l_extendedprice, 0.5) AS p50,
                 count(l_extendedprice) AS n
          FROM lineitem GROUP BY 1
        )
        SELECT count(*) AS n_groups,
               sum(n)::BIGINT AS n_rows,
               sum(round(p50 * 10000)::BIGINT)::BIGINT AS p50_checksum
        FROM g
    """,
    "td_mad_events": """
        SELECT event_type, round(mad(value), 4) AS mad
        FROM events GROUP BY event_type
    """,
    "td_fused_stats_events": """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 4) AS p50_value,
               round(quantile_cont(value, 0.9), 4) AS p90_value,
               round(avg(value), 4) AS mean_value
        FROM events GROUP BY event_type
    """,
}
