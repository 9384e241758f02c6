"""Web-pages pipeline tests: generator determinism, extraction
invariant, skewed-key sketching, checkpoint/resume semantics."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from tdigest_spark.functions.text import extract_text, with_text_features
from tdigest_spark.jobs.webpages import run_checkpointed, sketch_webpages
from tdigest_spark.sources.webpages import synth_webpages

N = 5_000


@pytest.fixture(scope="module")
def pages(spark):
    return synth_webpages(spark, N).cache()


def test_schema_matches_input_hint(pages):
    assert [(f.name, f.dataType.simpleString()) for f in pages.schema.fields] == [
        ("url", "string"),
        ("warc_ts", "timestamp"),
        ("html", "binary"),
        ("text", "string"),
        ("lang", "string"),
    ]


def test_deterministic_and_unique_urls(spark, pages):
    again = synth_webpages(spark, N)
    assert pages.exceptAll(again).count() == 0
    assert pages.select("url").distinct().count() == N


def test_extraction_invariant_byte_identical(pages):
    n_bad = pages.where(extract_text("html") != F.col("text")).count()
    assert n_bad == 0


def test_lang_skew_present(pages):
    counts = {r["lang"]: r["n"] for r in pages.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["en"] / N == pytest.approx(0.45, abs=0.03)
    assert min(counts.values()) < 0.05 * N  # a genuinely small tail group


def test_sketch_webpages_stats_accuracy(spark, pages):
    out = {r["lang"]: r for r in sketch_webpages(spark, pages, delta=100).collect()}
    pdf = with_text_features(pages).select("lang", "n_chars").toPandas()
    for lang, g in pdf.groupby("lang"):
        v = np.sort(g["n_chars"].to_numpy())
        r = out[lang]
        assert r["n_docs"] == len(v)
        # rank error of p50/p99 within ~2/delta
        for col, q in (("p50_chars", 0.5), ("p99_chars", 0.99)):
            rank = np.searchsorted(v, r[col]) / len(v)
            assert abs(rank - q) < 0.025, (lang, col)
        assert abs(r["distinct_urls_est"] / len(v) - 1) < 0.05


def test_sketch_webpages_is_one_pass(spark):
    """The job exists for its single scan: one Range leaf feeds one
    partial-build stage, one per-lang merge and one estimate stage."""
    out = sketch_webpages(spark, synth_webpages(spark, N))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Range (") == 1
    assert plan.count("MapInPandas") == 2
    assert plan.count("FlatMapGroupsInPandas") == 1


def test_sketch_webpages_hll_equals_core(spark, pages):
    """Both builds hash with the same hash64 and HLL merge is a register
    max, so each lang's estimate equals the driver-side core sketch's."""
    from tdigest_spark.sketch.hll import HLL

    out = {r["lang"]: r["distinct_urls_est"] for r in sketch_webpages(spark, pages).collect()}
    pdf = pages.select("lang", "url").toPandas()
    want = {
        lang: round(HLL(12).add(g["url"]).estimate(), 1)
        for lang, g in pdf.groupby("lang")
    }
    assert out == want


def test_checkpoint_resume(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    out1 = run_checkpointed(spark, 4_000, ckpt, "job1", n_buckets=4, delta=1_000_000)
    rows1 = {r["lang"]: r for r in out1.collect()}
    manifest = json.load(open(os.path.join(ckpt, "job1.manifest.json")))
    assert len(manifest["buckets"]) == 4
    assert sum(b["rows"] for b in manifest["buckets"].values()) == 4_000
    assert all(b["docs_per_sec"] > 0 for b in manifest["buckets"].values())

    # simulate a partial failure: drop one bucket, resume recomputes it only
    del manifest["buckets"]["2"]
    json.dump(manifest, open(os.path.join(ckpt, "job1.manifest.json"), "w"))
    done_before = {k: v["wall_s"] for k, v in manifest["buckets"].items()}
    out2 = run_checkpointed(spark, 4_000, ckpt, "job1", n_buckets=4, delta=1_000_000)
    rows2 = {r["lang"]: r for r in out2.collect()}
    m2 = json.load(open(os.path.join(ckpt, "job1.manifest.json")))
    assert set(m2["buckets"]) == {"0", "1", "2", "3"}
    for k, w in done_before.items():
        assert m2["buckets"][k]["wall_s"] == w  # untouched buckets not re-run

    # resumed result identical (lossless digests -> exact equality)
    assert set(rows1) == set(rows2)
    for lang in rows1:
        assert rows1[lang]["p50_chars"] == rows2[lang]["p50_chars"]
        assert rows1[lang]["n_docs"] == rows2[lang]["n_docs"]

    # checkpointed merge equals direct single-pass (exact when lossless)
    direct = {
        r["lang"]: r
        for r in sketch_webpages(
            spark, synth_webpages(spark, 4_000), delta=1_000_000
        ).collect()
    }
    for lang in rows1:
        assert rows1[lang]["p50_chars"] == direct[lang]["p50_chars"]


def test_checkpoint_resume_after_torn_manifest_write(spark, tmp_path, monkeypatch):
    """A crash while the manifest is being written (here: on the third
    bucket, after half the JSON is out) must leave a manifest the
    rerun can read; the resumed job then equals a clean run."""
    import types

    from tdigest_spark.jobs import webpages

    calls = {"n": 0}

    def torn_dump(obj, f, **kw):
        calls["n"] += 1
        if calls["n"] == 3:
            f.write(json.dumps(obj, **kw)[:20])
            raise OSError("injected crash mid-manifest-write")
        json.dump(obj, f, **kw)

    ckpt = str(tmp_path / "ckpt")
    with monkeypatch.context() as m:
        m.setattr(
            webpages, "json",
            types.SimpleNamespace(load=json.load, dump=torn_dump, dumps=json.dumps),
        )
        with pytest.raises(OSError, match="injected"):
            run_checkpointed(spark, 4_000, ckpt, "job1", n_buckets=4, delta=1_000_000)
    done = json.load(open(os.path.join(ckpt, "job1.manifest.json")))["buckets"]
    assert set(done) == {"0", "1"}

    resumed = {r["lang"]: r for r in run_checkpointed(
        spark, 4_000, ckpt, "job1", n_buckets=4, delta=1_000_000
    ).collect()}
    m2 = json.load(open(os.path.join(ckpt, "job1.manifest.json")))["buckets"]
    assert set(m2) == {"0", "1", "2", "3"}
    for k in ("0", "1"):
        assert m2[k]["wall_s"] == done[k]["wall_s"]  # not re-run
    clean = {r["lang"]: r for r in run_checkpointed(
        spark, 4_000, str(tmp_path / "clean"), "job1", n_buckets=4,
        delta=1_000_000,
    ).collect()}
    assert resumed == clean


def test_catalog_gated_io_roundtrip(spark, tmp_path):
    """Iceberg-or-parquet gate: in this sandbox the probe must degrade
    to parquet, and the round trip must preserve schema + rows +
    partitioning."""
    from pyspark.sql import functions as F

    from tdigest_spark.sources.catalog import iceberg_available, read_table, write_table

    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("lang"),
        (F.col("id") * 1.5).alias("v"),
    )
    fmt = write_table(df, str(tmp_path / "t"), partition_by=("lang",))
    assert fmt == ("iceberg" if iceberg_available(spark) else "parquet")
    assert fmt == "parquet"  # sandbox has no iceberg jar
    back = read_table(spark, str(tmp_path / "t"))
    assert back.count() == 100
    assert set(back.columns) == {"id", "lang", "v"}
    # partition pruning reaches the scan on the partition column
    plan = back.where(F.col("lang") == "1")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or back.where(F.col("lang") == "1").count() == 33
