"""Failure paths release their cache pins: an operator or sink that
fails part-way must not leave persisted data behind for the life of the
session."""

from __future__ import annotations

import pytest
from pyspark import StorageLevel

TEXTS = [
    "the quick brown fox jumps over the lazy dog by the river bank",
    "the quick brown fox jumps over the lazy dog by the river bank",
    "a completely different page about tables chairs and lamps",
]


class Boom(RuntimeError):
    pass


def _boom(*_a, **_k):
    raise Boom("injected failure")


@pytest.fixture
def pins(spark, monkeypatch):
    """Records every DataFrame persisted during the test, plus the ids
    of the RDDs persisted before it."""
    cls = type(spark.range(1))
    made: list = []
    orig = cls.persist

    def persist(self, *a, **k):
        made.append(orig(self, *a, **k))
        return made[-1]

    monkeypatch.setattr(cls, "persist", persist)
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    return made, before


def _assert_released(spark, pins) -> None:
    made, before = pins
    for df in made:
        assert df.storageLevel == StorageLevel.NONE, df
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    # a local checkpoint is owned by its DataFrame and freed with it
    leaked = [
        i for i in rdds.keys()
        if i not in before and not rdds[i].rdd().isLocallyCheckpointed()
    ]
    assert leaked == []


def _write_source(spark, root, schema: str, rows) -> str:
    src = str(root / "src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{src}/chunk=0")
    return src


def test_neardup_pairs_indexed_failure_leaves_no_pins(spark, pins, tmp_path, monkeypatch):
    import tdigest_spark.operators.neardup_index as ndi

    docs = spark.createDataFrame(list(enumerate(TEXTS)), "doc_id long, text string")
    idx = str(tmp_path / "idx")
    ndi.build_neardup_index(docs, "doc_id", "text", idx, n_shards=4)
    batch = docs.selectExpr("doc_id + 100 AS doc_id", "text")
    monkeypatch.setattr(ndi, "jaccard_verify", _boom)
    with pytest.raises(Boom):
        ndi.neardup_pairs_indexed(spark, idx, batch, "doc_id", "text")
    _assert_released(spark, pins)


def test_neardup_ingest_sink_failure_leaves_no_pins(spark, pins, tmp_path):
    from tdigest_spark.streaming.neardup_stream import neardup_ingest_sink

    schema = "doc_id long, text string"
    src = _write_source(spark, tmp_path, schema, list(enumerate(TEXTS)))
    q = neardup_ingest_sink(
        spark.readStream.schema(schema).parquet(f"{src}/chunk=*"),
        "doc_id", "text", str(tmp_path / "idx"), str(tmp_path / "pairs"),
        str(tmp_path / "ck"), n_shards=4, on_survivors=_boom,
    )
    with pytest.raises(Exception, match="injected failure"):
        q.awaitTermination(300)
    assert len(pins[0]) == 4  # batch bands + shingles, candidates, pairs
    _assert_released(spark, pins)


def test_crawl_ingest_failure_leaves_no_pins(spark, pins, tmp_path, monkeypatch):
    from datetime import datetime

    import tdigest_spark.functions.quality as quality
    from tdigest_spark.jobs.crawl_ingest import crawl_ingest_sink

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    rows = [
        (f"http://site.example/{i}", datetime(2026, 1, 1), bytearray(t.encode()), t, "en")
        for i, t in enumerate(TEXTS)
    ]
    src = _write_source(spark, tmp_path, schema, rows)
    monkeypatch.setattr(quality, "score_quality", _boom)
    q = crawl_ingest_sink(
        spark.readStream.schema(schema).parquet(f"{src}/chunk=*"),
        *(str(tmp_path / k) for k in ("idx", "pairs", "corpus", "ck")),
        quality_threshold=0.5, n_shards=4,
    )
    with pytest.raises(Exception, match="injected failure"):
        q.awaitTermination(300)
    # the sink's four pins plus the survivors pinned by on_survivors
    assert len(pins[0]) == 5
    _assert_released(spark, pins)
