"""Structured Streaming digest tests: file-source micro-batches with
availableNow trigger, stateful per-key digests, foreachBatch sink.
Streaming result must equal the batch digest over the same data
(exactly, in lossless mode)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tdigest_spark.operators.digest_agg import tdigest_agg, tdigest_stats
from tdigest_spark.sources.tables import load

LOSSLESS = 1_000_000


@pytest.fixture(scope="module")
def stream_dir(spark, sf_dir, tmp_path_factory):
    """events split into 3 parquet chunk files (the micro-batches)."""
    d = tmp_path_factory.mktemp("stream_src")
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    pdf = ev.toPandas()
    for i, chunk in enumerate(np.array_split(pdf.index.to_numpy(), 3)):
        spark.createDataFrame(pdf.loc[chunk]).coalesce(1).write.parquet(
            str(d / f"chunk={i}")
        )
    return d


def test_stateful_digest_stream_matches_batch(spark, sf_dir, stream_dir, tmp_path):
    from tdigest_spark.streaming.digest_stream import stateful_digest_stream

    schema = "event_type string, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/chunk=*")
    )
    out = stateful_digest_stream(
        stream, "value", ["event_type"], delta=LOSSLESS, quantiles=(0.5,)
    )
    q = (
        out.writeStream.format("memory")
        .queryName("digests")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    res = spark.sql(
        """SELECT event_type, n_values, q_0_5 FROM digests
           WHERE (event_type, n_values) IN
             (SELECT event_type, max(n_values) FROM digests GROUP BY event_type)"""
    ).collect()
    got = {r["event_type"]: r for r in res}

    ev = load(spark, sf_dir, "events").select("event_type", "value")
    batch = tdigest_stats(
        tdigest_agg(ev, "value", by=["event_type"], delta=LOSSLESS),
        {"q_0_5": ("quantile", 0.5), "n": ("total_weight",)},
    ).collect()
    for r in batch:
        g = got[r["event_type"]]
        assert g["n_values"] == int(r["n"])
        # streaming builds incrementally (3 merges); lossless both ways
        assert g["q_0_5"] == pytest.approx(r["q_0_5"], abs=1e-9)


def test_digest_sink_foreachbatch(spark, sf_dir, stream_dir, tmp_path):
    from tdigest_spark.streaming.digest_stream import digest_sink

    schema = "event_type string, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/chunk=*")
    )
    table = str(tmp_path / "digest_table")
    q = digest_sink(
        stream, "value", ["event_type"], table, str(tmp_path / "ck2"), delta=LOSSLESS
    )
    q.awaitTermination(300)

    final = tdigest_stats(
        spark.read.parquet(table), {"p50": ("quantile", 0.5), "n": ("total_weight",)}
    ).collect()
    got = {r["event_type"]: r for r in final}
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    batch = tdigest_stats(
        tdigest_agg(ev, "value", by=["event_type"], delta=LOSSLESS),
        {"p50": ("quantile", 0.5), "n": ("total_weight",)},
    ).collect()
    for r in batch:
        assert got[r["event_type"]]["n"] == r["n"]
        assert got[r["event_type"]]["p50"] == pytest.approx(r["p50"], abs=1e-9)


@pytest.fixture(scope="module")
def timed_stream_dir(spark, sf_dir, tmp_path_factory):
    """events split into 3 TIME-ORDERED chunks so the watermark
    advances across micro-batches (chunk i covers ~10 days each)."""
    d = tmp_path_factory.mktemp("timed_src")
    ev = load(spark, sf_dir, "events").select("ts", "event_type", "value")
    pdf = ev.toPandas().sort_values("ts", ignore_index=True)
    for i, chunk in enumerate(np.array_split(pdf.index.to_numpy(), 3)):
        spark.createDataFrame(pdf.loc[chunk]).coalesce(1).write.parquet(
            str(d / f"chunk={i}")
        )
    return d


def test_windowed_digest_stream_with_eviction(spark, sf_dir, timed_stream_dir, tmp_path):
    """Windowed digests must match the batch groupBy(window) result and
    early windows must fire final=true (state evicted) once the
    watermark passes their end."""
    from tdigest_spark.streaming.digest_stream import windowed_digest_stream

    schema = "ts timestamp, event_type string, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{timed_stream_dir}/chunk=*")
    )
    out = windowed_digest_stream(
        stream, "value", "ts", by=["event_type"],
        window_duration="7 days", watermark="1 day",
        delta=LOSSLESS, quantiles=(0.5,),
    )
    q = (
        out.writeStream.format("memory")
        .queryName("win_digests")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    res = spark.sql("SELECT * FROM win_digests").toPandas()
    assert len(res) > 0

    # final (evicted) windows exist: watermark moved ~20 days past the
    # first 7-day window's end across the 3 chunks
    finals = res[res["final"]]
    assert len(finals) > 0, "no window was evicted by the watermark"

    # last emission per (window, key) must equal the batch result
    last = (
        res.sort_values("n_values")
        .groupby(["window_start", "event_type"], as_index=False)
        .last()
    )
    ev = load(spark, sf_dir, "events").select("ts", "event_type", "value")
    batch = (
        tdigest_stats(
            tdigest_agg(
                ev.withColumn("__w", F.window("ts", "7 days"))
                .select(F.col("__w")["start"].alias("window_start"), "event_type", "value"),
                "value",
                by=["window_start", "event_type"],
                delta=LOSSLESS,
            ),
            {"q_0_5": ("quantile", 0.5), "n": ("total_weight",)},
        )
    ).toPandas()
    got = {
        (r["window_start"], r["event_type"]): (r["n_values"], r["q_0_5"])
        for _, r in last.iterrows()
    }
    assert len(batch) == len(got)
    for _, r in batch.iterrows():
        n, q50 = got[(r["window_start"], r["event_type"])]
        assert n == int(r["n"])
        assert q50 == pytest.approx(r["q_0_5"], abs=1e-9)


def test_streaming_bloom_dedup(spark, sf_dir, tmp_path):
    """Bounded-state streaming dedup: planted cross-chunk duplicates
    are dropped, first occurrences all survive (Bloom has no false
    negatives; at these sizes fpp ~ 1e-12 so the check is exact)."""
    import numpy as np

    from tdigest_spark.streaming.dedup_stream import streaming_bloom_dedup

    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    pdf = ev.toPandas().sort_values("event_id", ignore_index=True)
    chunks = np.array_split(pdf.index.to_numpy(), 3)
    d = tmp_path / "dd_src"
    for i, chunk in enumerate(chunks):
        part = pdf.loc[chunk]
        if i > 0:  # replant 20 rows from the previous chunk = duplicates
            part = __import__("pandas").concat(
                [part, pdf.loc[chunks[i - 1][:20]]], ignore_index=True
            )
        spark.createDataFrame(part).coalesce(1).write.parquet(str(d / f"chunk={i}"))

    stream = (
        spark.readStream.schema("event_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/chunk=*")
    )
    out = streaming_bloom_dedup(stream, "event_id", buckets=4)
    q = (
        out.writeStream.format("memory")
        .queryName("dd_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ddck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("SELECT event_id FROM dd_stream").toPandas()["event_id"]
    assert got.is_unique
    assert set(got) == set(pdf["event_id"])  # every key exactly once


def test_sketch_sink_foreachbatch(spark, sf_dir, stream_dir, tmp_path):
    """Companion-sketch streaming sink: three micro-batches merged into
    a blob table must equal the single-pass batch build BYTE-FOR-BYTE —
    HLL register-max, CMS counter-add and Bloom bit-OR merges are
    exactly chunking-invariant, so streamed == batch is an equality,
    not a bound. Replay with a fresh checkpoint must be a no-op (same
    snapshot-pointer protocol as digest_sink)."""
    from tdigest_spark.operators.sketch_agg import sketch_build, sketch_estimates
    from tdigest_spark.streaming.digest_stream import sketch_sink

    schema = "event_type string, value double"
    specs = {
        "hll_v": ("hll", "value"),
        "cms_v": ("cms", "value"),
        "bloom_v": ("bloom", "value"),
    }
    table = str(tmp_path / "sketch_table")

    def run(ck: str):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stream_dir}/chunk=*")
        )
        q = sketch_sink(stream, specs, ["event_type"], table, str(tmp_path / ck))
        q.awaitTermination(300)

    run("ck_sk_a")

    def blobs(df):
        return {
            r["event_type"]: tuple(bytes(r[c]) for c in specs)
            for r in df.select("event_type", *specs).collect()
        }

    streamed = blobs(spark.read.parquet(table))
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    batch = blobs(sketch_build(ev, specs, by=["event_type"]))
    assert streamed == batch

    # estimates sanity: per-type HLL distinct count within 3 sigma
    est = {
        r["event_type"]: r["nd"]
        for r in sketch_estimates(
            spark.read.parquet(table), {"nd": ("hll_estimate", "hll_v")}
        ).collect()
    }
    exact = {
        r["event_type"]: r["nd"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("value").alias("nd"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(est[k] - n) <= 3 * 1.04 / (2**6) * n + 3  # p=12 -> m=4096

    # replay: fresh checkpoint redelivers batch ids 0..n — all skipped
    run("ck_sk_b")
    assert blobs(spark.read.parquet(table)) == streamed


def test_digest_sink_untouched_groups_pass_through(spark, tmp_path):
    """digest_sink's incremental-view split: a group absent from later
    micro-batches is carried through the anti-join (never re-merged)
    and the final stats equal the one-shot batch build exactly
    (lossless)."""
    import pandas as pd

    from tdigest_spark.streaming.digest_stream import digest_sink

    d = tmp_path / "src_dpt"
    chunks = [
        pd.DataFrame({"g": ["a", "b", "b"], "v": [1.0, 2.0, 3.0]}),
        pd.DataFrame({"g": ["b", "b"], "v": [4.0, 5.0]}),  # 'a' absent
        pd.DataFrame({"g": ["b"], "v": [6.0]}),
    ]
    for i, c in enumerate(chunks):
        spark.createDataFrame(c).coalesce(1).write.parquet(str(d / f"chunk={i}"))
    stream = (
        spark.readStream.schema("g string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/chunk=*")
    )
    table = str(tmp_path / "tbl_dpt")
    q = digest_sink(stream, "v", ["g"], table, str(tmp_path / "ck_dpt"), delta=LOSSLESS)
    q.awaitTermination(300)
    got = {
        r["g"]: (r["n"], r["p50"])
        for r in tdigest_stats(
            spark.read.parquet(table),
            {"p50": ("quantile", 0.5), "n": ("total_weight",)},
        ).collect()
    }
    allpdf = pd.concat(chunks, ignore_index=True)
    want = {
        r["g"]: (r["n"], r["p50"])
        for r in tdigest_stats(
            tdigest_agg(spark.createDataFrame(allpdf), "v", by=["g"], delta=LOSSLESS),
            {"p50": ("quantile", 0.5), "n": ("total_weight",)},
        ).collect()
    }
    assert got == want


def test_sketch_sink_untouched_groups_pass_through(spark, tmp_path):
    """Incremental-view maintenance: a group absent from later
    micro-batches takes the anti-join pass-through (its blobs are never
    re-merged), and the final table still equals the batch build over
    all rows — HLL/CMS merges are commutative so pass-through order
    can't change the bytes."""
    import pandas as pd

    from tdigest_spark.operators.sketch_agg import sketch_build
    from tdigest_spark.streaming.digest_stream import sketch_sink

    d = tmp_path / "src_pt"
    chunks = [
        pd.DataFrame({"g": ["a", "b", "b"], "v": ["x", "y", "z"]}),
        pd.DataFrame({"g": ["b", "b"], "v": ["y", "w"]}),  # 'a' absent
        pd.DataFrame({"g": ["b"], "v": ["q"]}),
    ]
    for i, c in enumerate(chunks):
        spark.createDataFrame(c).coalesce(1).write.parquet(str(d / f"chunk={i}"))
    stream = (
        spark.readStream.schema("g string, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/chunk=*")
    )
    specs = {"h": ("hll", "v"), "c": ("cms", "v")}
    table = str(tmp_path / "tbl_pt")
    q = sketch_sink(stream, specs, ["g"], table, str(tmp_path / "ck_pt"))
    q.awaitTermination(300)
    got = {
        r["g"]: (bytes(r["h"]), bytes(r["c"]))
        for r in spark.read.parquet(table).collect()
    }
    allpdf = pd.concat(chunks, ignore_index=True)
    want = {
        r["g"]: (bytes(r["h"]), bytes(r["c"]))
        for r in sketch_build(
            spark.createDataFrame(allpdf), specs, by=["g"]
        ).collect()
    }
    assert got == want


@pytest.fixture(scope="module")
def zipf_stream_dir(spark, tmp_path_factory):
    """Zipf-keyed (g, key) pairs split into 3 chunks — a skewed
    high-cardinality stream for the heavy-hitter state operator."""
    import pandas as pd

    d = tmp_path_factory.mktemp("zipf_src")
    rng = np.random.default_rng(7)
    n = 30_000
    pdf = pd.DataFrame(
        {
            "g": [f"g{v}" for v in rng.integers(0, 2, n)],
            "key": [f"k{int(v)}" for v in np.minimum(rng.zipf(1.5, n), 400)],
        }
    )
    for i, chunk in enumerate(np.array_split(pdf.index.to_numpy(), 3)):
        spark.createDataFrame(pdf.loc[chunk]).coalesce(1).write.parquet(
            str(d / f"chunk={i}")
        )
    return d, pdf


def _run_topk_stream(spark, src_dir, tmp_path, name, k, m):
    from tdigest_spark.streaming.topk_stream import stateful_topk_stream

    stream = (
        spark.readStream.schema("g string, key string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/chunk=*")
    )
    out = stateful_topk_stream(stream, "key", ["g"], k=k, m=m)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # final emission per group = the rows carrying that group's max n_rows
    return spark.sql(
        f"""SELECT * FROM {name}
            WHERE (g, n_rows) IN (SELECT g, max(n_rows) FROM {name} GROUP BY g)"""
    ).toPandas()


def test_stateful_topk_stream(spark, zipf_stream_dir, tmp_path):
    """Streaming Misra-Gries heavy hitters: with capacity above the
    distinct-key count the result is EXACT (no decrement ever fires);
    with a tiny capacity forcing evictions every [cnt_min, cnt_max]
    interval must still contain the true count and the interval width
    must match the published n/(cap+1) guarantee. State is O(capacity)
    counters per group regardless of stream length."""
    src_dir, pdf = zipf_stream_dir
    exact = pdf.groupby(["g", "key"]).size()
    n_per_g = pdf.groupby("g").size()

    # --- lossless regime: cap = 8*64 = 512 > 400 distinct keys
    got = _run_topk_stream(spark, src_dir, tmp_path, "topk_exact", 5, None)
    for g, sub in got.groupby("g"):
        sub = sub.sort_values("rank")
        want = (
            exact[g]
            .reset_index()
            .rename(columns={0: "cnt"})
            .sort_values(["cnt", "key"], ascending=[False, True])
            .head(5)
        )
        assert list(sub["key"]) == list(want["key"])
        assert list(sub["cnt_min"]) == list(want["cnt"])
        # no eviction ever fired -> dec_total = 0 -> interval collapses
        assert (sub["cnt_min"] == sub["cnt_max"]).all()
        assert (sub["n_rows"] == n_per_g[g]).all()

    # --- forced-eviction regime: cap = 8*2 = 16 << 400 distinct
    got = _run_topk_stream(spark, src_dir, tmp_path, "topk_tiny", 5, 2)
    for g, sub in got.groupby("g"):
        widths = (sub["cnt_max"] - sub["cnt_min"]).unique()
        # evictions fired; the incurred decrement is one exact value
        # per group, within the classic n/(cap+1) guarantee
        assert len(widths) == 1 and 0 < widths[0] <= int(n_per_g[g]) // 17
        for _, r in sub.iterrows():
            true = int(exact[g].get(r["key"], 0))
            assert r["cnt_min"] <= true <= r["cnt_max"], (g, r["key"], true)
        # the Zipf head is far above the n/(cap+1) admission bar and
        # must always survive to rank 1
        top_true = exact[g].idxmax()
        assert sub.sort_values("rank")["key"].iloc[0] == top_true


def test_digest_sink_replay_is_idempotent(spark, sf_dir, stream_dir, tmp_path):
    """Redelivered batch ids (fresh checkpoint, same table) must be
    skipped — the snapshot-pointer commit carries the last merged batch
    id WITH the data, so a replay can never double-merge weights."""
    from tdigest_spark.operators.digest_agg import tdigest_stats
    from tdigest_spark.streaming.digest_stream import digest_sink

    schema = "event_type string, value double"

    def run(ck: str):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stream_dir}/chunk=*")
        )
        q = digest_sink(
            stream, "value", ["event_type"], table, str(tmp_path / ck), delta=LOSSLESS
        )
        q.awaitTermination(300)

    table = str(tmp_path / "digest_table_replay")
    run("ck_a")
    before = {
        r["event_type"]: (r["n"], r["p50"])
        for r in tdigest_stats(
            spark.read.parquet(table), {"p50": ("quantile", 0.5), "n": ("total_weight",)}
        ).collect()
    }
    # second run with a FRESH checkpoint redelivers batch ids 0..n —
    # every one must hit the <= last_batch guard and be skipped
    run("ck_b")
    after = {
        r["event_type"]: (r["n"], r["p50"])
        for r in tdigest_stats(
            spark.read.parquet(table), {"p50": ("quantile", 0.5), "n": ("total_weight",)}
        ).collect()
    }
    assert after == before


def test_digest_sink_replay_with_stateful_upstream(spark, stream_dir, tmp_path):
    """The replay skip must still DRAIN the micro-batch: with a
    stateful operator upstream (here streaming_bloom_dedup), an early
    return leaves its per-partition state stores uncommitted and
    Spark 4's commit validation fails the whole batch
    (STATE_STORE_COMMIT_VALIDATION_FAILED) — the regression behind
    streaming/_batch.py."""
    from tdigest_spark.operators.digest_agg import tdigest_stats
    from tdigest_spark.streaming.dedup_stream import streaming_bloom_dedup
    from tdigest_spark.streaming.digest_stream import digest_sink

    schema = "event_type string, value double"

    def run(ck: str):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stream_dir}/chunk=*")
        )
        fresh = streaming_bloom_dedup(
            stream.withColumn("k", F.concat_ws("|", "event_type", "value")),
            "k", buckets=4,
        ).drop("k")
        q = digest_sink(
            fresh, "value", ["event_type"], table, str(tmp_path / ck),
            delta=LOSSLESS,
        )
        q.awaitTermination(300)

    table = str(tmp_path / "digest_sink_stateful_replay")
    run("ck_a")
    stats = {"p50": ("quantile", 0.5), "n": ("total_weight",)}
    before = {
        r["event_type"]: (r["n"], r["p50"])
        for r in tdigest_stats(spark.read.parquet(table), stats).collect()
    }
    # fresh checkpoint = fresh Bloom state AND redelivered batch ids:
    # every batch must drain through the stateful stage, then skip
    run("ck_b")
    after = {
        r["event_type"]: (r["n"], r["p50"])
        for r in tdigest_stats(spark.read.parquet(table), stats).collect()
    }
    assert after == before


def test_digest_sink_crash_before_commit_resumes_exactly(
    spark, stream_dir, tmp_path, crash_pointer_swap
):
    """A crash at the commit point of batch 1 (its snapshot written,
    the pointer not yet swapped) leaves the table at batch 0; the
    restart with the SAME checkpoint re-runs batch 1 and ends with the
    table of an uninterrupted run, digest for digest."""
    from tdigest_spark.streaming._batch import _last_committed_batch
    from tdigest_spark.streaming.digest_stream import digest_sink

    def run(table: str, ck: str):
        stream = (
            spark.readStream.schema("event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stream_dir}/chunk=*")
        )
        q = digest_sink(stream, "value", ["event_type"], table, ck, delta=LOSSLESS)
        q.awaitTermination(300)

    def rows(table: str):
        return sorted(
            (r.asDict(recursive=True) for r in spark.read.parquet(table).collect()),
            key=lambda d: str(d["event_type"]),
        )

    clean = str(tmp_path / "clean_table")
    run(clean, str(tmp_path / "ck_clean"))
    table, ck = str(tmp_path / "crashed_table"), str(tmp_path / "ck_crashed")
    crash_pointer_swap(table, 1)
    with pytest.raises(Exception, match="injected crash"):
        run(table, ck)
    assert _last_committed_batch(table) == 0
    run(table, ck)
    assert _last_committed_batch(table) == _last_committed_batch(clean) == 2
    assert rows(table) == rows(clean)


def test_streaming_sliding_via_panes(spark, sf_dir, timed_stream_dir, tmp_path):
    """STREAMING sliding windows, the scale-correct composition: the
    stream aggregates each row ONCE into pane-sized (1 day) tumbling
    digests emitted as mergeable structs (emit='digest', bounded
    state), and every 7d/1d sliding window is derived from the pane
    digests by associative merge (panes_to_sliding) — result equals
    the batch tdigest_sliding over the same rows exactly (lossless)."""
    from pyspark.sql import Window

    from tdigest_spark.operators.digest_agg import (
        panes_to_sliding,
        tdigest_sliding,
        tdigest_stats,
    )
    from tdigest_spark.streaming.digest_stream import windowed_digest_stream

    schema = "ts timestamp, event_type string, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{timed_stream_dir}/chunk=*")
    )
    out = windowed_digest_stream(
        stream, "value", "ts", by=["event_type"],
        window_duration="1 day", watermark="1 day",
        delta=LOSSLESS, emit="digest",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("slide_panes")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "spckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    # last emission per (pane, key) = the complete pane digest
    # (total_weight grows monotonically across micro-batches)
    tbl = spark.table("slide_panes")
    w = Window.partitionBy("window_start", "event_type").orderBy(
        F.col("digest.total_weight").desc()
    )
    panes = (
        tbl.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            F.floor(F.unix_micros("window_start") / (86400 * 1_000_000)).alias("__pane"),
            "event_type",
            "digest",
        )
    )
    sliding = panes_to_sliding(
        panes, 86400, 7 * 86400, 86400, by=["event_type"], delta=LOSSLESS
    )
    got = tdigest_stats(
        sliding, {"p50": ("quantile", 0.5), "n": ("total_weight",)}
    ).toPandas()

    ev = load(spark, sf_dir, "events").select("ts", "event_type", "value")
    want = tdigest_stats(
        tdigest_sliding(ev, "value", "ts", 7 * 86400, 86400,
                        by=["event_type"], delta=LOSSLESS),
        {"p50": ("quantile", 0.5), "n": ("total_weight",)},
    ).toPandas()
    g = {
        (r["window_start"], r["event_type"]): (int(r["n"]), r["p50"])
        for _, r in got.iterrows()
    }
    assert len(want) == len(g)
    for _, r in want.iterrows():
        n, p50 = g[(r["window_start"], r["event_type"])]
        assert n == int(r["n"])
        assert p50 == pytest.approx(r["p50"], abs=1e-9)


def test_drift_monitor_scores_alerts_and_replays(spark, sf_dir, tmp_path):
    """Streaming drift gate: per-batch scores equal the batch
    digest_drift against the static reference; a shifted batch and a
    brand-new group raise alerts; replay with a fresh checkpoint
    rewrites identical log rows (partition-overwrite idempotence)."""
    import numpy as np
    import pandas as pd

    from tdigest_spark.operators.digest_agg import tdigest_agg
    from tdigest_spark.operators.drift import digest_drift
    from tdigest_spark.streaming.drift_stream import drift_monitor

    ev = load(spark, sf_dir, "events").select("event_type", "value")
    pdf = ev.toPandas()
    src = tmp_path / "drift_src"
    # chunks 0/1: two halves of the real data; chunk 2: values shifted
    # +1000 (total drift) plus a brand-new group
    halves = np.array_split(pdf.index.to_numpy(), 2)
    for i, chunk in enumerate(halves):
        spark.createDataFrame(pdf.loc[chunk]).coalesce(1).write.parquet(
            str(src / f"chunk={i}")
        )
    shifted = pdf.copy()
    shifted["value"] = shifted["value"] + 1000.0
    shifted = pd.concat(
        [shifted, pd.DataFrame({"event_type": ["zzz"] * 5, "value": [1.0] * 5})],
        ignore_index=True,
    )
    spark.createDataFrame(shifted).coalesce(1).write.parquet(str(src / "chunk=2"))

    reference = tdigest_agg(ev, "value", by=["event_type"], delta=LOSSLESS)
    log = str(tmp_path / "drift_log")

    def run(ck):
        stream = (
            spark.readStream.schema("event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/chunk=*")
        )
        q = drift_monitor(
            stream, reference, "value", ["event_type"], log,
            str(tmp_path / ck), delta=LOSSLESS, thresholds={"ks": 0.5},
        )
        q.awaitTermination(300)

    run("ck_a")
    logdf = spark.read.parquet(log)
    rows = logdf.collect()
    assert {r["batch_id"] for r in rows} == {0, 1, 2}
    # halves of the same distribution: no alerts in batches 0/1
    assert not any(r["alert"] for r in rows if r["batch_id"] in (0, 1))
    b2 = {r["event_type"]: r for r in rows if r["batch_id"] == 2}
    assert b2["zzz"]["alert"] and b2["zzz"]["ks"] is None  # new group
    for k, r in b2.items():
        if k != "zzz":
            assert r["alert"] and r["ks"] > 0.5  # +1000 shift: total drift

    # per-batch scores == batch-wise digest_drift against the reference
    for i, chunk_pdf in enumerate([pdf.loc[halves[0]], pdf.loc[halves[1]], shifted]):
        cur = tdigest_agg(
            spark.createDataFrame(chunk_pdf), "value", by=["event_type"], delta=LOSSLESS
        )
        want = {
            r["event_type"]: r
            for r in digest_drift(reference, cur, by=["event_type"], how="right").collect()
        }
        got = {r["event_type"]: r for r in rows if r["batch_id"] == i}
        assert set(got) == set(want)
        for k in want:
            for m in ("ks", "w1", "psi"):
                a, b = got[k][m], want[k][m]
                assert (a is None and b is None) or a == pytest.approx(b, abs=1e-9)

    # replay: fresh checkpoint redelivers batches 0..2 — the log must
    # end up identical, not doubled
    run("ck_b")
    again = spark.read.parquet(log).collect()
    assert len(again) == len(rows)
    assert sorted(map(str, again)) == sorted(map(str, rows))


def test_stateful_funnel_stream_matches_batch(spark, tmp_path):
    """Streaming funnel state == batch funnel_steps when each key's
    events arrive in time order (the documented greedy-state regime):
    chunks split by TIME, final per-key row compared exactly."""
    import numpy as np
    import pandas as pd

    from tdigest_spark.operators.funnel import funnel_steps
    from tdigest_spark.streaming.funnel_stream import stateful_funnel_stream

    rng = np.random.default_rng(5)
    steps = ["visit", "signup", "purchase"]
    rows = []
    for u in range(60):
        for i in range(rng.integers(1, 12)):
            rows.append(
                (
                    f"u{u}",
                    steps[int(rng.integers(0, 3))],
                    float(1_700_000_000 + rng.integers(0, 100_000)),
                )
            )
    pdf = pd.DataFrame(rows, columns=["user", "step", "ep"]).sort_values("ep")
    d = tmp_path / "src"
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), 3)):
        spark.createDataFrame(pdf.iloc[chunk]).withColumn(
            "ts", F.col("ep").cast("timestamp")
        ).drop("ep").coalesce(1).write.parquet(str(d / f"chunk={i}"))

    stream = (
        spark.readStream.schema("user string, step string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/chunk=*")
    )
    out = stateful_funnel_stream(stream, "step", steps, "ts", by="user")
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # last emission per key = the final state
    got = {
        r["user"]: r
        for r in spark.sql(
            """SELECT * FROM funnel_stream
               WHERE (user, steps_completed) IN
                 (SELECT user, max(steps_completed) FROM funnel_stream GROUP BY user)"""
        ).collect()
    }

    batch_src = spark.createDataFrame(pdf).withColumn(
        "ts", F.col("ep").cast("timestamp")
    )
    want = {
        r["user"]: r
        for r in funnel_steps(batch_src, "step", steps, "ts", by="user").collect()
    }
    assert set(got) == set(want)
    for u, w in want.items():
        g = got[u]
        assert g["steps_completed"] == w["steps_completed"], u
        for j in range(1, 4):
            assert g[f"t_step_{j}"] == w[f"t_step_{j}"], (u, j)


def test_retention_stream_matches_batch_any_order(spark, tmp_path):
    """Streaming retention pairs are order-INSENSITIVE: delivery is
    deliberately shuffled across micro-batches, and
    retention_report(sink) must equal cohort_retention(batch) exactly.
    Also checks exactly-once emission of each (key, period) pair."""
    import numpy as np
    import pandas as pd

    from tdigest_spark.operators.retention import cohort_retention
    from tdigest_spark.streaming.retention_stream import (
        retention_pairs_stream,
        retention_report,
    )

    rng = np.random.default_rng(9)
    period = 86_400
    rows = []
    for u in range(80):
        start = int(rng.integers(0, 5))
        for o in sorted(set(rng.integers(0, 10, size=rng.integers(1, 8)))):
            for _ in range(int(rng.integers(1, 4))):  # duplicate events
                rows.append(
                    (
                        f"u{u}",
                        float(
                            1_700_000_000
                            + (start + o) * period
                            + rng.integers(0, period)
                        ),
                    )
                )
    pdf = pd.DataFrame(rows, columns=["user_id", "ep"])
    pdf = pdf.sample(frac=1.0, random_state=3).reset_index(drop=True)  # shuffle
    d = tmp_path / "src"
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), 4)):
        spark.createDataFrame(pdf.iloc[chunk]).withColumn(
            "ts", F.col("ep").cast("timestamp")
        ).drop("ep").coalesce(1).write.parquet(str(d / f"chunk={i}"))

    stream = (
        spark.readStream.schema("user_id string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/chunk=*")
    )
    pairs = retention_pairs_stream(stream, "ts", key="user_id", period_sec=period)
    q = (
        pairs.writeStream.format("memory")
        .queryName("ret_pairs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    sink = spark.table("ret_pairs")
    # exactly-once: no (key, period) pair appears twice
    assert sink.count() == sink.select("__k", "period").distinct().count()

    got = retention_report(sink, period_sec=period).toPandas()
    batch_src = spark.createDataFrame(pdf).withColumn(
        "ts", F.col("ep").cast("timestamp")
    )
    want = cohort_retention(batch_src, "ts", key="user_id", period_sec=period).toPandas()
    key = ["cohort_start", "offset"]
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(g[w.columns], w)
