"""Hypertable rollup: incremental ingests == one-shot build, replay
idempotence, untouched buckets byte-identical, coarser-window merge
== direct build, window validation."""

import pytest
from pyspark.sql import functions as F

from tdigest_spark.operators.digest_agg import tdigest_agg, tdigest_stats
from tdigest_spark.operators.hypertable import (
    hypertable_upsert,
    hypertable_window_stats,
)
from tdigest_spark.sources.tables import load

LOSSLESS = 1_000_000
DAY = 86_400


def _stats_map():
    return {"p50": ("quantile", 0.5), "n": ("total_weight",)}


def test_incremental_equals_one_shot_and_replay(spark, sf_dir, tmp_path):
    ev = load(spark, sf_dir, "events").select("ts", "event_type", "value")
    cut = ev.agg(F.expr("percentile_approx(cast(ts as timestamp), 0.5)")).collect()[0][0]
    early = ev.filter(F.col("ts").cast("timestamp") <= F.lit(cut))
    late = ev.filter(F.col("ts").cast("timestamp") > F.lit(cut))
    table = str(tmp_path / "rollup")
    assert hypertable_upsert(
        early, "value", "ts", DAY, table, by=["event_type"], delta=LOSSLESS
    ) == 0
    import json

    def row_key(r):
        d = r.asDict(recursive=True)
        return (
            d["bucket_start"].timestamp(),
            json.dumps(d, sort_keys=True, default=str),
        )

    before = {row_key(r) for r in spark.read.parquet(table).collect()}
    assert hypertable_upsert(
        late, "value", "ts", DAY, table, by=["event_type"], delta=LOSSLESS
    ) == 1
    # replaying ingest 1 is a committed no-op
    assert (
        hypertable_upsert(
            late, "value", "ts", DAY, table, by=["event_type"],
            delta=LOSSLESS, ingest_id=1,
        )
        is None
    )
    got = hypertable_window_stats(
        spark, table, DAY, DAY, _stats_map(), by=["event_type"]
    )
    direct = tdigest_stats(
        tdigest_agg(
            ev.withColumn(
                "window_start",
                F.to_timestamp(
                    F.floor(F.col("ts").cast("timestamp").cast("double") / DAY) * DAY
                ),
            ),
            "value",
            by=["window_start", "event_type"],
            delta=LOSSLESS,
        ),
        _stats_map(),
    )
    g = {(r.window_start, r.event_type): (round(r.p50, 6), r.n) for r in got.collect()}
    d = {(r.window_start, r.event_type): (round(r.p50, 6), r.n) for r in direct.collect()}
    assert g == d
    # untouched buckets from ingest 0 (strictly before the cut's day)
    # survive ingest 1 byte-identical
    after = {row_key(r) for r in spark.read.parquet(table).collect()}
    cut_day_start = int(cut.timestamp() // DAY) * DAY
    untouched_before = {r for r in before if r[0] < cut_day_start}
    assert untouched_before and untouched_before <= after


def test_coarser_window_merge_equals_direct(spark, sf_dir, tmp_path):
    ev = load(spark, sf_dir, "events").select("ts", "event_type", "value")
    table = str(tmp_path / "rollup2")
    hypertable_upsert(ev, "value", "ts", DAY, table, delta=LOSSLESS)
    got = hypertable_window_stats(spark, table, DAY, 2 * DAY, _stats_map())
    direct = tdigest_stats(
        tdigest_agg(
            ev.withColumn(
                "window_start",
                F.to_timestamp(
                    F.floor(F.col("ts").cast("timestamp").cast("double") / (2 * DAY))
                    * (2 * DAY)
                ),
            ),
            "value",
            by=["window_start"],
            delta=LOSSLESS,
        ),
        _stats_map(),
    )
    g = {r.window_start: (round(r.p50, 6), r.n) for r in got.collect()}
    d = {r.window_start: (round(r.p50, 6), r.n) for r in direct.collect()}
    assert g == d and len(g) > 1


def test_window_must_be_bucket_multiple(spark, sf_dir, tmp_path):
    ev = load(spark, sf_dir, "events").select("ts", "value")
    table = str(tmp_path / "rollup3")
    hypertable_upsert(ev, "value", "ts", DAY, table)
    with pytest.raises(ValueError, match="multiple"):
        hypertable_window_stats(spark, table, DAY, DAY + 1, _stats_map())


def test_null_group_key_stays_single_row(spark, tmp_path):
    import datetime as dt

    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 4)
    rows = [
        (base, None, 1.0), (base, "a", 2.0),
        (base + dt.timedelta(hours=1), None, 3.0),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, g string, value double")
    table = str(tmp_path / "rt_null")
    hypertable_upsert(df, "value", "ts", DAY, table, by=["g"], delta=LOSSLESS)
    hypertable_upsert(
        spark.createDataFrame(
            [(base + dt.timedelta(hours=2), None, 4.0)],
            "ts timestamp, g string, value double",
        ),
        "value", "ts", DAY, table, by=["g"], delta=LOSSLESS,
    )
    t = spark.read.parquet(table)
    # NULL-keyed group must stay ONE row per bucket (null-safe split),
    # and its digest must carry all three NULL-group values
    per_key = t.groupBy("bucket_start", "g").count().collect()
    assert all(r["count"] == 1 for r in per_key)
    got = hypertable_window_stats(
        spark, table, DAY, DAY, {"n": ("total_weight",)}, by=["g"]
    )
    n = {r.g: int(r.n) for r in got.collect()}
    assert n == {None: 3, "a": 1}


# ---------------------------------------------------------------- downsample

WEEK = 7 * DAY


def _mk_events(spark, n_days=28, per_day=5, start_day=0):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (
            base + dt.timedelta(days=d, hours=3 * h),
            f"g{d % 2}",
            float(d * 10 + h) + 0.25,
        )
        for d in range(start_day, n_days)
        for h in range(per_day)
    ]
    return spark.createDataFrame(rows, "ts timestamp, g string, value double")


def _direct_week_stats(ev, by=("g",)):
    return tdigest_stats(
        tdigest_agg(
            ev.withColumn(
                "window_start",
                F.to_timestamp(
                    F.floor(F.col("ts").cast("timestamp").cast("double") / WEEK) * WEEK
                ),
            ),
            "value",
            by=["window_start", *by],
            delta=LOSSLESS,
        ),
        _stats_map(),
    )


def _as_map(df, by=("g",)):
    return {
        (r.window_start, *[r[c] for c in by]): (round(r.p50, 6), r.n)
        for r in df.collect()
    }


def test_downsample_tiered_merge_matches_direct(spark, tmp_path):
    from tdigest_spark.operators.hypertable import hypertable_downsample

    ev = _mk_events(spark)
    table = str(tmp_path / "ds")
    hypertable_upsert(ev, "value", "ts", DAY, table, by=["g"], delta=LOSSLESS)
    as_of = "2024-01-29T00:00:00+00:00"
    iid = hypertable_downsample(
        spark, table, DAY, as_of, tiers=[(14 * DAY, WEEK)]
    )
    assert iid == 1
    t = spark.read.parquet(table)
    widths = {r.bucket_sec for r in t.select("bucket_sec").distinct().collect()}
    assert widths == {DAY, WEEK}  # old region coarsened, recent region kept
    # coarse rows shrank the table: >1 day folded per coarse row
    assert t.count() < 28 * 2
    got = hypertable_window_stats(
        spark, table, DAY, WEEK, _stats_map(), by=["g"]
    )
    assert _as_map(got) == _as_map(_direct_week_stats(ev))
    # a window the coarse rows don't divide is rejected loudly
    with pytest.raises(ValueError, match="offending widths"):
        hypertable_window_stats(spark, table, DAY, DAY, _stats_map(), by=["g"])


def test_downsample_drop_and_replay_noop(spark, tmp_path):
    from tdigest_spark.operators.hypertable import hypertable_downsample

    ev = _mk_events(spark)
    table = str(tmp_path / "dsdrop")
    hypertable_upsert(ev, "value", "ts", DAY, table, by=["g"], delta=LOSSLESS)
    import datetime as dt

    as_of = dt.datetime(2024, 1, 29, tzinfo=dt.timezone.utc)
    cutoff = as_of.timestamp() - 21 * DAY
    hypertable_downsample(
        spark, table, DAY, as_of, tiers=[(14 * DAY, WEEK)],
        drop_older_than=21 * DAY,
    )
    # retained mass == raw rows in buckets ending after the cutoff;
    # coarse buckets are dropped whole (their END decides)
    t = spark.read.parquet(table)
    ends = [
        r.bucket_start.replace(tzinfo=dt.timezone.utc).timestamp() + r.bucket_sec
        for r in t.collect()
    ]
    assert ends and min(ends) > cutoff
    # replaying the downsample's ingest id is a no-op
    assert (
        hypertable_downsample(
            spark, table, DAY, as_of, tiers=[(14 * DAY, WEEK)], ingest_id=1
        )
        is None
    )


def test_downsample_late_data_then_recoarsen(spark, tmp_path):
    """Late data lands at base width inside a coarsened region, window
    stats stay exact, and the NEXT downsample folds it into the coarse
    row."""
    from tdigest_spark.operators.hypertable import hypertable_downsample

    ev = _mk_events(spark)
    # hold out day 2 (inside the region the first downsample coarsens)
    import datetime as dt

    d2 = dt.datetime(2024, 1, 3)
    late = ev.filter(F.to_date("ts") == F.lit(d2.date()))
    on_time = ev.filter(F.to_date("ts") != F.lit(d2.date()))
    table = str(tmp_path / "dslate")
    hypertable_upsert(on_time, "value", "ts", DAY, table, by=["g"], delta=LOSSLESS)
    as_of = "2024-01-29T00:00:00+00:00"
    hypertable_downsample(spark, table, DAY, as_of, tiers=[(14 * DAY, WEEK)])
    hypertable_upsert(late, "value", "ts", DAY, table, by=["g"], delta=LOSSLESS)
    got = hypertable_window_stats(spark, table, DAY, WEEK, _stats_map(), by=["g"])
    assert _as_map(got) == _as_map(_direct_week_stats(ev))
    n_before = spark.read.parquet(table).count()
    hypertable_downsample(spark, table, DAY, as_of, tiers=[(14 * DAY, WEEK)])
    t = spark.read.parquet(table)
    assert t.count() < n_before  # the late base rows folded in
    got2 = hypertable_window_stats(spark, table, DAY, WEEK, _stats_map(), by=["g"])
    assert _as_map(got2) == _as_map(_direct_week_stats(ev))


def test_downsample_validation(spark, tmp_path):
    from tdigest_spark.operators.hypertable import hypertable_downsample

    table = str(tmp_path / "dsval")
    with pytest.raises(ValueError, match="no table"):
        hypertable_downsample(spark, table, DAY, 0.0, tiers=[(DAY, WEEK)])
    hypertable_upsert(
        _mk_events(spark, n_days=2), "value", "ts", DAY, table, delta=LOSSLESS
    )
    with pytest.raises(ValueError, match="multiple"):
        hypertable_downsample(spark, table, DAY, 0.0, tiers=[(DAY, DAY + 1)])
    with pytest.raises(ValueError, match="strictly increase"):
        hypertable_downsample(
            spark, table, DAY, 0.0, tiers=[(DAY, 2 * DAY), (WEEK, 2 * DAY)]
        )
    with pytest.raises(TypeError, match="as_of"):
        hypertable_downsample(spark, table, DAY, True, tiers=[(DAY, WEEK)])
    # widths that both divide bucket_sec but not EACH OTHER could make
    # a finer row straddle its coarse target bucket — rejected loudly
    with pytest.raises(ValueError, match="divisibility chain"):
        hypertable_downsample(
            spark, table, DAY, 0.0, tiers=[(7 * DAY, 2 * DAY), (30 * DAY, 5 * DAY)]
        )


def test_downsample_two_tier_chain_exact(spark, tmp_path):
    """A two-tier chain (day -> week -> 4 weeks) coarsens in one pass
    and 4-week window stats stay exact vs the direct build."""
    from tdigest_spark.operators.hypertable import hypertable_downsample

    ev = _mk_events(spark)
    table = str(tmp_path / "ht_chain")
    hypertable_upsert(ev, "value", "ts", DAY, table, by=["g"], delta=LOSSLESS)
    hypertable_downsample(
        spark, table, DAY, "2024-03-01T00:00:00+00:00",
        tiers=[(7 * DAY, WEEK), (21 * DAY, 4 * WEEK)],
    )
    widths = {
        r.bucket_sec
        for r in spark.read.parquet(table).select("bucket_sec").distinct().collect()
    }
    assert 4 * WEEK in widths and WEEK in widths
    W4 = 4 * WEEK
    got = hypertable_window_stats(spark, table, DAY, W4, _stats_map(), by=["g"])
    direct = tdigest_stats(
        tdigest_agg(
            ev.withColumn(
                "window_start",
                F.to_timestamp(
                    F.floor(F.col("ts").cast("timestamp").cast("double") / W4) * W4
                ),
            ),
            "value",
            by=["window_start", "g"],
            delta=LOSSLESS,
        ),
        _stats_map(),
    )
    assert _as_map(got) == _as_map(direct)


# --------------------------------------------------------- sketch hypertable


def _sk_specs():
    return {"h": ("hll", "uid"), "c": ("cms", "g"), "k": ("kll", "value", 1_000_000)}


def _sk_kinds():
    return {"h": "hll", "c": "cms", "k": "kll"}


def _sk_ests():
    return {
        "nd": ("hll_estimate", "h"),
        "n": ("cms_total", "c"),
        "p50": ("kll_quantile", "k", 0.5),
    }


def _mk_uid_events(spark, n_days=28, per_day=6):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (
            base + dt.timedelta(days=d, hours=2 * h),
            f"g{d % 2}",
            f"user{(d * 7 + h) % 11}",
            float(d * 10 + h) + 0.5,
        )
        for d in range(n_days)
        for h in range(per_day)
    ]
    return spark.createDataFrame(rows, "ts timestamp, g string, uid string, value double")


def _sk_week_map(df):
    return {
        (r.window_start, r.g): (round(r.nd, 6), int(r.n), round(r.p50, 6))
        for r in df.collect()
    }


def test_sketch_hypertable_incremental_matches_batch(spark, tmp_path):
    """Two-batch sketch ingest == one-shot batch build, estimate-exact
    (HLL register max / CMS counter add are re-associations; KLL is
    lossless at this k) — and KLL p50 / CMS total equal the EXACT
    per-window answers."""
    from tdigest_spark.operators.hypertable import (
        sketch_hypertable_upsert,
        sketch_hypertable_window,
    )
    from tdigest_spark.operators.sketch_agg import sketch_build, sketch_estimates

    ev = _mk_uid_events(spark)
    table = str(tmp_path / "skht")
    half = F.pmod(F.xxhash64("uid"), F.lit(2))
    assert sketch_hypertable_upsert(
        ev.where(half == 0), _sk_specs(), "ts", DAY, table, by=["g"]
    ) == 0
    assert sketch_hypertable_upsert(
        ev.where(half == 1), _sk_specs(), "ts", DAY, table, by=["g"]
    ) == 1
    got = sketch_hypertable_window(
        spark, table, DAY, WEEK, _sk_kinds(), _sk_ests(), by=["g"]
    )
    wk = F.to_timestamp(
        F.floor(F.col("ts").cast("timestamp").cast("double") / WEEK) * WEEK
    ).alias("window_start")
    oneshot = sketch_estimates(
        sketch_build(ev.select(wk, "g", "uid", "value"), _sk_specs(),
                     by=["window_start", "g"]),
        _sk_ests(),
    )
    assert _sk_week_map(got) == _sk_week_map(oneshot)
    exact = ev.select(wk, "g", "uid", "value").groupBy("window_start", "g").agg(
        F.count("*").alias("n_exact"),
        F.expr("percentile(value, 0.5)").alias("p50_exact"),
    )
    ex = {(r.window_start, r.g): (int(r.n_exact), round(r.p50_exact, 6)) for r in exact.collect()}
    for key, (_, n, p50) in _sk_week_map(got).items():
        assert (n, p50) == ex[key]


def test_sketch_hypertable_downsample_estimates_unchanged(spark, tmp_path):
    """Tiered coarsening of a sketch rollup changes NO window estimate
    (the merges are re-associations) while shrinking the table."""
    from tdigest_spark.operators.hypertable import (
        sketch_hypertable_downsample,
        sketch_hypertable_upsert,
        sketch_hypertable_window,
    )

    ev = _mk_uid_events(spark)
    table = str(tmp_path / "skhtds")
    sketch_hypertable_upsert(ev, _sk_specs(), "ts", DAY, table, by=["g"])
    before = _sk_week_map(
        sketch_hypertable_window(spark, table, DAY, WEEK, _sk_kinds(), _sk_ests(), by=["g"])
    )
    n_before = spark.read.parquet(table).count()
    iid = sketch_hypertable_downsample(
        spark, table, DAY, "2024-01-29T00:00:00+00:00", _sk_kinds(),
        tiers=[(14 * DAY, WEEK)],
    )
    assert iid == 1
    t = spark.read.parquet(table)
    assert t.count() < n_before
    assert {r.bucket_sec for r in t.select("bucket_sec").distinct().collect()} == {DAY, WEEK}
    after = _sk_week_map(
        sketch_hypertable_window(spark, table, DAY, WEEK, _sk_kinds(), _sk_ests(), by=["g"])
    )
    assert after == before
    # late rows at base width still merge into the coarsened table
    late = _mk_uid_events(spark, n_days=1)
    sketch_hypertable_upsert(late, _sk_specs(), "ts", DAY, table, by=["g"])
    got = sketch_hypertable_window(
        spark, table, DAY, WEEK, _sk_kinds(), _sk_ests(), by=["g"]
    )
    # CMS totals are additive-exact: first week gained exactly len(late) rows
    wk0 = min(k[0] for k in before)
    n_late = {r.g: r.n for r in late.groupBy("g").agg(F.count("*").alias("n")).collect()}
    for (w, g), (_, n, _) in _sk_week_map(got).items():
        assert n == before[(w, g)][1] + (n_late.get(g, 0) if w == wk0 else 0)


def test_hypertable_info(spark, tmp_path):
    """Metrics snapshot: ingest id + snapshot revision off the pointer,
    per-width bucket counts and coverage off one rollup-table scan."""
    from tdigest_spark.operators.hypertable import (
        hypertable_downsample,
        hypertable_info,
    )

    ev = _mk_events(spark)
    table = str(tmp_path / "ht_info")
    hypertable_upsert(ev, "value", "ts", DAY, table, by=["g"], delta=LOSSLESS)
    info = hypertable_info(spark, table, DAY)
    assert info["last_ingest_id"] == 0 and info["snapshot_rev"] == 0
    assert info["group_keys"] == ["g"]
    # _mk_events: one group per day -> 28 day-buckets
    assert set(info["widths"]) == {DAY} and info["n_rows"] == 28
    assert info["widths"][DAY]["first_start"].startswith("2024-01-01")
    hypertable_downsample(
        spark, table, DAY, "2024-01-29T00:00:00+00:00",
        tiers=[(14 * DAY, WEEK)], bump_id=False,
    )
    info = hypertable_info(spark, table, DAY)
    # bump_id=False: same id, revision advanced. Epoch-aligned weeks
    # start on Thursdays (Jan 4 / Jan 11 2024); weeks ending by Jan 15
    # are [Dec 28, Jan 4) (3 day-rows) and [Jan 4, Jan 11) (7
    # day-rows) — each merges to 2 rows (g alternates per day), so
    # 10 day-rows become 4 week-rows: 28 - 10 + 4 = 22.
    assert info["last_ingest_id"] == 0 and info["snapshot_rev"] == 1
    assert set(info["widths"]) == {DAY, WEEK}
    assert info["widths"][WEEK]["rows"] == 4 and info["n_rows"] == 22
    assert info["widths"][WEEK]["last_end"].startswith("2024-01-11")


# ------------------------------------------------------------ sliding windows


def _direct_sliding_stats(ev, window_sec, slide_sec, by=("g",)):
    """Independent oracle: explode each raw event to every sliding
    window containing it (ws multiples of slide in (t-window, t]),
    lossless digest per (window, keys)."""
    e = F.col("ts").cast("timestamp").cast("double")
    lastk = F.floor(e / slide_sec).cast("long")
    firstk = (F.floor((e - window_sec) / slide_sec) + 1).cast("long")
    exploded = ev.withColumn("__wsk", F.explode(F.sequence(firstk, lastk))).withColumn(
        "window_start", F.to_timestamp(F.col("__wsk") * slide_sec)
    )
    return tdigest_stats(
        tdigest_agg(exploded, "value", by=["window_start", *by], delta=LOSSLESS),
        _stats_map(),
    )


def test_hypertable_sliding_matches_direct(spark, tmp_path):
    from tdigest_spark.operators.hypertable import hypertable_sliding_stats

    ev = _mk_events(spark)
    table = str(tmp_path / "ht_slide")
    hypertable_upsert(ev, "value", "ts", DAY, table, by=["g"], delta=LOSSLESS)
    got = hypertable_sliding_stats(
        spark, table, DAY, WEEK, DAY, _stats_map(), by=["g"]
    )
    direct = _direct_sliding_stats(ev, WEEK, DAY)
    g, d = _as_map(got), _as_map(direct)
    assert g == d
    # genuinely sliding: ~7x more window rows than weeks of data
    assert len({k[0] for k in g}) > 20


def test_hypertable_sliding_mixed_widths_and_validation(spark, tmp_path):
    """Sliding windows keep working on a DOWNSAMPLED (mixed-width)
    table when window/slide respect the coarse granularity, and reject
    a slide finer than a stored width."""
    from tdigest_spark.operators.hypertable import (
        hypertable_downsample,
        hypertable_sliding_stats,
    )

    ev = _mk_events(spark)
    table = str(tmp_path / "ht_slide_ds")
    hypertable_upsert(ev, "value", "ts", DAY, table, by=["g"], delta=LOSSLESS)
    hypertable_downsample(
        spark, table, DAY, "2024-01-29T00:00:00+00:00", tiers=[(14 * DAY, WEEK)]
    )
    widths = {
        r.bucket_sec
        for r in spark.read.parquet(table).select("bucket_sec").distinct().collect()
    }
    assert widths == {DAY, WEEK}
    got = hypertable_sliding_stats(
        spark, table, DAY, 2 * WEEK, WEEK, _stats_map(), by=["g"]
    )
    direct = _direct_sliding_stats(ev, 2 * WEEK, WEEK)
    assert _as_map(got) == _as_map(direct)
    with pytest.raises(ValueError, match="offending widths"):
        hypertable_sliding_stats(spark, table, DAY, WEEK, DAY, _stats_map(), by=["g"])


def test_hypertable_sliding_and_info_on_emptied_table(spark, tmp_path):
    """A retention pass that drops EVERYTHING leaves a valid empty
    table: sliding stats return an empty frame (not IndexError), and
    hypertable_info reports zero coverage."""
    from tdigest_spark.operators.hypertable import (
        hypertable_downsample,
        hypertable_info,
        hypertable_sliding_stats,
    )

    ev = _mk_events(spark)
    table = str(tmp_path / "ht_empty")
    hypertable_upsert(ev, "value", "ts", DAY, table, by=["g"], delta=LOSSLESS)
    hypertable_downsample(
        spark, table, DAY, "2030-01-01T00:00:00+00:00", tiers=(),
        drop_older_than=DAY,
    )
    got = hypertable_sliding_stats(spark, table, DAY, WEEK, DAY, _stats_map(), by=["g"])
    assert got.count() == 0
    assert {"window_start", "g", "p50", "n"} <= set(got.columns)
    info = hypertable_info(spark, table, DAY)
    assert info["n_rows"] == 0 and info["widths"] == {}


def test_sketch_hypertable_sliding_matches_one_shot(spark, tmp_path):
    """Sliding sketch estimates from the rollup == the one-shot
    sketch_sliding batch build over raw rows (merge re-association),
    and CMS totals equal exact per-window counts."""
    from tdigest_spark.operators.hypertable import (
        sketch_hypertable_sliding,
        sketch_hypertable_upsert,
    )
    from tdigest_spark.operators.sketch_agg import sketch_estimates, sketch_sliding

    ev = _mk_uid_events(spark)
    table = str(tmp_path / "skht_slide")
    sketch_hypertable_upsert(ev, _sk_specs(), "ts", DAY, table, by=["g"])
    got = sketch_hypertable_sliding(
        spark, table, DAY, WEEK, DAY, _sk_kinds(), _sk_ests(), by=["g"]
    )
    oneshot = sketch_estimates(
        sketch_sliding(ev, _sk_specs(), "ts", WEEK, DAY, by=["g"]), _sk_ests()
    )
    gm, om = _sk_week_map(got), _sk_week_map(oneshot)
    assert gm == om and len({k[0] for k in gm}) > 20
    e = F.col("ts").cast("timestamp").cast("double")
    exact = (
        ev.withColumn(
            "__wsk",
            F.explode(
                F.sequence(
                    (F.floor((e - WEEK) / DAY) + 1).cast("long"),
                    F.floor(e / DAY).cast("long"),
                )
            ),
        )
        .withColumn("window_start", F.to_timestamp(F.col("__wsk") * DAY))
        .groupBy("window_start", "g")
        .count()
    )
    ex = {(r.window_start, r.g): int(r["count"]) for r in exact.collect()}
    for key, (_, n, _) in gm.items():
        assert n == ex[key]


# ------------------------------------------------------------ streaming sinks


def test_hypertable_sink_downsample_then_resume(spark, tmp_path):
    """The full streamed-continuous-aggregate lifecycle: micro-batches
    feed the rollup through hypertable_sink, a bump_id=False retention
    pass coarsens it WITHOUT consuming a batch id, and the resumed
    stream's next real micro-batch still merges (it would be silently
    skipped as a replay if the downsample had bumped the id chain).
    Final week-window stats equal the direct batch build over ALL rows."""
    import datetime as dt

    from tdigest_spark.operators.hypertable import (
        hypertable_downsample,
        hypertable_sink,
    )
    from tdigest_spark.streaming._batch import _last_committed_batch

    ev = _mk_events(spark)
    base = dt.datetime(2024, 1, 1)
    src = tmp_path / "ht_src"
    cuts = [base + dt.timedelta(days=10), base + dt.timedelta(days=20)]
    ev.filter(F.col("ts") < cuts[0]).coalesce(1).write.parquet(str(src / "chunk=0"))
    ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])).coalesce(
        1
    ).write.parquet(str(src / "chunk=1"))

    table = str(tmp_path / "ht_sink_table")
    ckpt = str(tmp_path / "ht_sink_ck")

    def run_sink():
        stream = (
            spark.readStream.schema("ts timestamp, g string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/chunk=*")
        )
        q = hypertable_sink(
            stream, "value", "ts", DAY, table, ckpt, by=["g"], delta=LOSSLESS
        )
        q.awaitTermination(300)

    run_sink()
    assert _last_committed_batch(table) == 1

    # retention maintenance on the live sink-fed table: must NOT bump
    # the id chain, and the next-oldest week coarsens to WEEK width
    as_of = base + dt.timedelta(days=20)
    hypertable_downsample(
        spark, table, DAY, as_of.replace(tzinfo=dt.timezone.utc),
        tiers=[(7 * DAY, WEEK)], bump_id=False,
    )
    assert _last_committed_batch(table) == 1
    widths = {
        r.bucket_sec
        for r in spark.read.parquet(table).select("bucket_sec").distinct().collect()
    }
    assert widths == {DAY, WEEK}

    # the held-back chunk arrives; the resumed stream presents batch 2
    ev.filter(F.col("ts") >= cuts[1]).coalesce(1).write.parquet(str(src / "chunk=2"))
    run_sink()
    assert _last_committed_batch(table) == 2  # real batch merged, not skipped

    got = hypertable_window_stats(
        spark, table, DAY, WEEK, _stats_map(), by=["g"]
    )
    assert _as_map(got) == _as_map(_direct_week_stats(ev))


def test_downsample_bump_id_false_idempotent_and_validates(spark, tmp_path):
    from tdigest_spark.operators.hypertable import hypertable_downsample

    ev = _mk_events(spark)
    table = str(tmp_path / "ht_bump")
    hypertable_upsert(ev, "value", "ts", DAY, table, by=["g"], delta=LOSSLESS)
    with pytest.raises(ValueError, match="mutually exclusive"):
        hypertable_downsample(
            spark, table, DAY, "2024-02-01T00:00:00+00:00",
            tiers=[(7 * DAY, WEEK)], ingest_id=5, bump_id=False,
        )
    got = hypertable_downsample(
        spark, table, DAY, "2024-02-01T00:00:00+00:00",
        tiers=[(7 * DAY, WEEK)], bump_id=False,
    )
    assert got == 0  # committed at the CURRENT id
    rows1 = {
        tuple(sorted(r.asDict(recursive=True).items(), key=lambda kv: kv[0]))
        for r in spark.read.parquet(table).withColumn(
            "d", F.sha2(F.to_json(F.struct("*")), 256)
        ).select("bucket_start", "bucket_sec", "g", "d").collect()
    }
    # structurally idempotent: a re-run finds nothing eligible and
    # commits identical data at the same id
    assert hypertable_downsample(
        spark, table, DAY, "2024-02-01T00:00:00+00:00",
        tiers=[(7 * DAY, WEEK)], bump_id=False,
    ) == 0
    rows2 = {
        tuple(sorted(r.asDict(recursive=True).items(), key=lambda kv: kv[0]))
        for r in spark.read.parquet(table).withColumn(
            "d", F.sha2(F.to_json(F.struct("*")), 256)
        ).select("bucket_start", "bucket_sec", "g", "d").collect()
    }
    assert rows1 == rows2


def test_snapshot_revision_pruning(spark, tmp_path):
    """Revision commits (bump_id=False) follow the same keep-2 pruning
    as id commits: the pointer always resolves, mixed id/rev
    generations sort correctly, and an id bump after revisions resumes
    the chain."""
    import os

    from tdigest_spark.operators.hypertable import hypertable_downsample
    from tdigest_spark.streaming._batch import _last_committed_batch

    ev = _mk_events(spark)
    table = str(tmp_path / "ht_rev")
    hypertable_upsert(ev, "value", "ts", DAY, table, by=["g"], delta=LOSSLESS)

    def snaps():
        return sorted(os.listdir(f"{table}.snapshots"))

    assert snaps() == ["v0"]
    for _ in range(3):
        hypertable_downsample(
            spark, table, DAY, "2024-01-29T00:00:00+00:00",
            tiers=[(14 * DAY, WEEK)], bump_id=False,
        )
    # three revisions at id 0; keep-2 pruning leaves the last two
    assert snaps() == ["v0.2", "v0.3"]
    assert os.path.basename(os.readlink(table)) == "v0.3"
    assert _last_committed_batch(table) == 0
    # a later real ingest bumps the id chain past the revisions
    late = _mk_events(spark, n_days=1)
    hypertable_upsert(late, "value", "ts", DAY, table, by=["g"], delta=LOSSLESS)
    assert _last_committed_batch(table) == 1
    assert snaps() == ["v0.3", "v1"]
    n = spark.read.parquet(table).count()
    assert n > 0


def test_sketch_hypertable_sink_matches_one_shot(spark, tmp_path):
    """Streamed companion-sketch rollup == one-shot batch build
    (estimate-exact), through the foreachBatch sink."""
    import datetime as dt

    from tdigest_spark.operators.hypertable import (
        sketch_hypertable_sink,
        sketch_hypertable_window,
    )
    from tdigest_spark.operators.sketch_agg import sketch_build, sketch_estimates
    from tdigest_spark.streaming._batch import _last_committed_batch

    ev = _mk_uid_events(spark)
    base = dt.datetime(2024, 1, 1)
    src = tmp_path / "skht_src"
    cut = base + dt.timedelta(days=14)
    ev.filter(F.col("ts") < cut).coalesce(1).write.parquet(str(src / "chunk=0"))
    ev.filter(F.col("ts") >= cut).coalesce(1).write.parquet(str(src / "chunk=1"))
    table = str(tmp_path / "skht_sink_table")
    stream = (
        spark.readStream.schema("ts timestamp, g string, uid string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/chunk=*")
    )
    q = sketch_hypertable_sink(
        stream, _sk_specs(), "ts", DAY, table, str(tmp_path / "skht_ck"), by=["g"]
    )
    q.awaitTermination(300)
    assert _last_committed_batch(table) == 1
    got = sketch_hypertable_window(
        spark, table, DAY, WEEK, _sk_kinds(), _sk_ests(), by=["g"]
    )
    wk = F.to_timestamp(
        F.floor(F.col("ts").cast("timestamp").cast("double") / WEEK) * WEEK
    ).alias("window_start")
    oneshot = sketch_estimates(
        sketch_build(ev.select(wk, "g", "uid", "value"), _sk_specs(),
                     by=["window_start", "g"]),
        _sk_ests(),
    )
    assert _sk_week_map(got) == _sk_week_map(oneshot)


def _write_chunks(ev, src, cuts):
    """Split ``ev`` at the ``cuts`` timestamps into one parquet file per
    chunk under ``src`` (one micro-batch each)."""
    bounds = [None, *cuts, None]
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        part = ev
        if lo is not None:
            part = part.filter(F.col("ts") >= lo)
        if hi is not None:
            part = part.filter(F.col("ts") < hi)
        part.coalesce(1).write.parquet(str(src / f"chunk={i}"))


def test_hypertable_sink_replay_with_stateful_upstream(spark, tmp_path):
    """A replayed micro-batch must still be DRAINED by the hypertable
    sink: with streaming_bloom_dedup upstream, skipping the batch
    without consuming it leaves the dedup state stores uncommitted and
    Spark 4's commit validation fails the batch. Rerunning with a fresh
    checkpoint (fresh Bloom state, redelivered batch ids) must leave
    the window stats unchanged."""
    import datetime as dt

    from tdigest_spark.operators.hypertable import hypertable_sink
    from tdigest_spark.streaming.dedup_stream import streaming_bloom_dedup

    ev = _mk_events(spark)
    src = tmp_path / "ht_dedup_src"
    _write_chunks(ev, src, [dt.datetime(2024, 1, 15)])
    table = str(tmp_path / "ht_dedup_table")

    def run(ck: str):
        stream = (
            spark.readStream.schema("ts timestamp, g string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/chunk=*")
        )
        fresh = streaming_bloom_dedup(
            stream.withColumn("k", F.concat_ws("|", "g", "value")), "k", buckets=4
        ).drop("k")
        q = hypertable_sink(
            fresh, "value", "ts", DAY, table, str(tmp_path / ck), by=["g"],
            delta=LOSSLESS,
        )
        q.awaitTermination(300)

    def week_stats():
        return _as_map(
            hypertable_window_stats(spark, table, DAY, WEEK, _stats_map(), by=["g"])
        )

    run("ck_a")
    before = week_stats()
    assert before == _as_map(_direct_week_stats(ev))
    run("ck_b")
    assert week_stats() == before


def test_sketch_hypertable_sink_crash_before_commit_resumes_exactly(
    spark, tmp_path, crash_pointer_swap
):
    """A crash at the commit point of batch 1 leaves the bucketed blob
    table at batch 0; the restart with the SAME checkpoint ends with
    the table of an uninterrupted run, blob bytes included."""
    import datetime as dt

    from tdigest_spark.operators.hypertable import sketch_hypertable_sink
    from tdigest_spark.streaming._batch import _last_committed_batch

    base = dt.datetime(2024, 1, 1)
    src = tmp_path / "skht_crash_src"
    _write_chunks(
        _mk_uid_events(spark), src,
        [base + dt.timedelta(days=10), base + dt.timedelta(days=20)],
    )

    def run(table: str, ck: str):
        stream = (
            spark.readStream.schema("ts timestamp, g string, uid string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/chunk=*")
        )
        q = sketch_hypertable_sink(stream, _sk_specs(), "ts", DAY, table, ck, by=["g"])
        q.awaitTermination(300)

    def rows(table: str):
        return sorted(
            (
                tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
                for r in spark.read.parquet(table).collect()
            ),
            key=lambda t: (t[0], t[1]),
        )

    clean = str(tmp_path / "skht_clean")
    run(clean, str(tmp_path / "skht_ck_clean"))
    table, ck = str(tmp_path / "skht_crashed"), str(tmp_path / "skht_ck_crashed")
    crash_pointer_swap(table, 1)
    with pytest.raises(Exception, match="injected crash"):
        run(table, ck)
    assert _last_committed_batch(table) == 0
    run(table, ck)
    assert _last_committed_batch(table) == _last_committed_batch(clean) == 2
    assert rows(table) == rows(clean)


# ------------------------------------------------------------------- gapfill


def _mk_gappy(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (base + dt.timedelta(days=d, hours=h), f"g{d % 2}", float(d * 10 + h))
        for d in (0, 1, 2, 5, 6)  # days 3-4 missing
        for h in range(3)
    ]
    return spark.createDataFrame(rows, "ts timestamp, g string, value double")


def test_gapfill_null_matches_duckdb(spark, tmp_path):
    """fill='null' densification == a DuckDB generate_series +
    left-join twin over the same window stats."""
    import duckdb

    from tdigest_spark.operators.hypertable import gapfill_windows

    df = _mk_gappy(spark)
    table = str(tmp_path / "gf")
    hypertable_upsert(df, "value", "ts", DAY, table, by=["g"], delta=LOSSLESS)
    stats = hypertable_window_stats(spark, table, DAY, DAY, _stats_map(), by=["g"])
    got = gapfill_windows(stats, DAY, by=["g"], fill="null")
    gm = {
        (r.window_start, r.g): (
            None if r.p50 is None else round(r.p50, 6),
            None if r.n is None else int(r.n),
            r.gap_filled,
        )
        for r in got.collect()
    }
    con = duckdb.connect()
    con.register("ev", df.toPandas())
    om = {
        (r.ws.to_pydatetime(), r.g): (
            None if r.p50 != r.p50 else round(r.p50, 6),  # NaN check
            None if r.n != r.n else int(r.n),
            bool(r.gap_filled),
        )
        for r in con.execute(f"""
            WITH stats AS (
              SELECT make_timestamp(CAST(floor(epoch(ts)/{DAY}) AS BIGINT)
                                    * {DAY} * 1000000) AS ws,
                     g, quantile_cont(value, 0.5) AS p50,
                     CAST(count(*) AS DOUBLE) AS n
              FROM ev GROUP BY 1, 2),
            bounds AS (SELECT min(ws) AS lo, max(ws) AS hi FROM stats),
            grid AS (
              SELECT g, unnest(generate_series((SELECT lo FROM bounds),
                                               (SELECT hi FROM bounds),
                                               INTERVAL 1 DAY)) AS ws
              FROM (SELECT DISTINCT g FROM stats))
            SELECT grid.ws, grid.g, s.p50, s.n,
                   s.ws IS NULL AS gap_filled
            FROM grid LEFT JOIN stats s
              ON grid.ws = s.ws AND grid.g = s.g
        """).df().itertuples()
    }
    assert gm == om
    # grid spans the global 7 days per group; g alternates by day, so
    # g0 (days 0,2,6) has 4 gaps and g1 (days 1,5) has 5
    assert sum(1 for v in gm.values() if v[2]) == 9


def test_gapfill_locf_and_range(spark, tmp_path):
    """locf carries the whole stat struct forward per group; leading
    gaps (including rows added by an earlier explicit start) stay
    NULL; bad fill mode raises; empty input stays empty."""
    from tdigest_spark.operators.hypertable import gapfill_windows

    df = _mk_gappy(spark)
    table = str(tmp_path / "gfl")
    hypertable_upsert(df, "value", "ts", DAY, table, by=["g"], delta=LOSSLESS)
    stats = hypertable_window_stats(spark, table, DAY, DAY, _stats_map(), by=["g"])
    base = stats.toPandas().sort_values(["g", "window_start"])
    got = gapfill_windows(
        stats, DAY, by=["g"], fill="locf",
        start="2023-12-30T00:00:00+00:00",
    ).toPandas().sort_values(["g", "window_start"], ignore_index=True)
    # expected: densify per group then pandas ffill over (p50, n)
    for g, sub in got.groupby("g"):
        sub = sub.reset_index(drop=True)
        obs = base[base["g"] == g].set_index("window_start")
        last = None
        for _, row in sub.iterrows():
            if row["window_start"] in obs.index:
                assert not row["gap_filled"]
                last = obs.loc[row["window_start"]]
                assert round(row["p50"], 6) == round(last["p50"], 6)
                assert row["n"] == last["n"]
            else:
                assert row["gap_filled"]
                if last is None:  # leading gap: nothing to carry
                    assert row["p50"] != row["p50"] or row["p50"] is None
                else:
                    assert round(row["p50"], 6) == round(last["p50"], 6)
                    assert row["n"] == last["n"]
    # explicit earlier start adds leading windows for every group
    assert (got.groupby("g")["window_start"].min() == got["window_start"].min()).all()
    import pytest as _pt

    with _pt.raises(ValueError, match="fill mode"):
        gapfill_windows(stats, DAY, by=["g"], fill="interpolate")
    empty = gapfill_windows(stats.limit(0), DAY, by=["g"])
    assert empty.count() == 0 and "gap_filled" in empty.columns


# ----------------------------------------------------------------- plan shape


def _n_exchanges(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return (
        sum(
            1
            for line in plan.splitlines()
            if "Exchange" in line and "Reused" not in line
        ),
        plan,
    )


def test_sliding_fanout_is_narrow(spark, tmp_path):
    """The pane fan-out (explode to covering windows) adds NO shuffle:
    the only Exchange in a sliding read is the per-window merge."""
    from tdigest_spark.operators.hypertable import (
        _sliding_rows,
        hypertable_sliding_stats,
    )

    ev = _mk_events(spark)
    table = str(tmp_path / "ht_plan")
    hypertable_upsert(ev, "value", "ts", DAY, table, by=["g"], delta=LOSSLESS)
    n, plan = _n_exchanges(_sliding_rows(spark, table, DAY, WEEK, DAY))
    assert n == 0, plan  # explode+filter only — narrow
    n, plan = _n_exchanges(
        hypertable_sliding_stats(spark, table, DAY, WEEK, DAY, _stats_map(), by=["g"])
    )
    assert n == 1, plan  # exactly the merge's partial->final Exchange


def test_gapfill_grid_join_no_raw_shuffle(spark, tmp_path):
    """gapfill's grid join shuffles only sketch-table-sized inputs:
    the whole null-fill plan carries no more Exchanges than the
    underlying window read plus the grid join itself."""
    from tdigest_spark.operators.hypertable import gapfill_windows

    ev = _mk_gappy(spark)
    table = str(tmp_path / "gf_plan")
    hypertable_upsert(ev, "value", "ts", DAY, table, by=["g"], delta=LOSSLESS)
    stats = hypertable_window_stats(spark, table, DAY, DAY, _stats_map(), by=["g"])
    base_n, _ = _n_exchanges(stats)
    n, plan = _n_exchanges(gapfill_windows(stats, DAY, by=["g"], fill="null"))
    # grid build (distinct + explode) and the left join add bounded
    # sketch-sized Exchanges on top of the window read — never a raw scan
    assert n <= base_n + 3, plan
    assert "Scan parquet" not in plan or "digest" in plan


def test_gapfill_composes_with_sketch_estimates(spark, tmp_path):
    """gapfill_windows is payload-agnostic: densifying a
    sketch_hypertable_window estimates table fills distinct-count /
    total columns per group with locf carry."""
    from tdigest_spark.operators.hypertable import (
        gapfill_windows,
        sketch_hypertable_upsert,
        sketch_hypertable_window,
    )

    ev = _mk_uid_events(spark, n_days=28).filter(
        # knock out week 2 (epoch weeks; Jan 11-17 inclusive)
        ~F.col("ts").between("2024-01-11", "2024-01-18")
    )
    table = str(tmp_path / "gf_sk")
    sketch_hypertable_upsert(ev, _sk_specs(), "ts", DAY, table, by=["g"])
    est = sketch_hypertable_window(
        spark, table, DAY, WEEK, _sk_kinds(), _sk_ests(), by=["g"]
    )
    filled = gapfill_windows(est, WEEK, by=["g"], fill="locf").collect()
    gaps = [r for r in filled if r.gap_filled]
    assert gaps, "the knocked-out week must appear as a gap"
    by_key = {(r.window_start, r.g): r for r in filled}
    for r in gaps:
        prev = [
            o for (w, g), o in by_key.items()
            if g == r.g and w < r.window_start and not o.gap_filled
        ]
        assert prev, "locf gaps must have an observed predecessor here"
        last = max(prev, key=lambda o: o.window_start)
        assert (r.nd, r.n, r.p50) == (last.nd, last.n, last.p50)
