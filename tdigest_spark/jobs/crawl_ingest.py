"""Continuous crawl ingest: the streaming front half of the curation
pipeline, composed from the engine's own stages.

``jobs.curate`` is the batch curation pass; this job is what runs
BEFORE it on a live crawl — admitting pages into the corpus as they
arrive while holding the corpus duplicate-free and quality-floored:

1. **URL exact dedup** — ``url_normalize`` canonical keys through
   ``streaming_bloom_dedup``: bounded state forever (a Bloom blob per
   bucket, never a per-key state store), re-fetches of a known page
   drop before they cost anything downstream.
2. **Text near-dup dedup** — ``neardup_ingest_sink``: each micro-batch
   probes the persisted MinHash band index (and itself), keep-first
   survivors only; the batch dedups against everything EVER ingested
   without rescanning it.
3. **Quality scoring** (optional) — the broadcast logistic scorer over
   the curation signals (all codegen, zero extra shuffle); rows under
   the threshold are quarantined out of the curated corpus. The
   threshold is a fixed floor (``quality_threshold``), an ADAPTIVE one
   (``quality_quantile``: quarantine the bottom q of scores relative
   to a t-digest of every previously committed batch's scores — the
   engine's own sketch as the pipeline's control loop, so the bar
   tracks corpus drift instead of rotting like a hand-picked
   constant), or both (the stricter wins). Each batch's cumulative
   score digest rides the same exactly-once hook (deterministic
   per-batch file + atomic replace); the threshold applied to batch N
   depends only on batches < N, so a crash-replay re-decides batch N
   identically.
4. **Corpus + metrics commit** — survivors land in a per-batch corpus
   directory and a per-batch metrics JSON records lineage
   (post-dedup rows, quality-rejected, rows out, mean quality;
   dedup pairs themselves live in the sink's pairs table). All
   writes ride the near-dup sink's ``on_survivors`` hook, i.e. they
   happen BEFORE the manifest swap — a crash anywhere replays the
   batch into identical bytes, so corpus, metrics, pairs and index
   commit exactly-once together.

Scale shape: stages 1 and 3 are narrow (no shuffle); stage 2 pays one
signature pass per batch and partition-pruned index probes
(``streaming/neardup_stream.py``); the corpus write appends per-batch
directories that ``compact_neardup_segments``-style housekeeping can
fold later. Input is the input_hint table shape (url, warc_ts, html,
text, lang).

No reference counterpart (the reference is a numeric-sketch library,
``tdigest/src/Data/TDigest/Internal.hs:4-7``) — this is the
training-data-pipeline surface over it.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from tdigest_spark.functions.urls import url_normalize

__all__ = [
    "crawl_ingest_sink",
    "read_curated",
    "read_ingest_metrics",
    "read_score_digest",
]

_METRICS_SUB = "_metrics"
_STATE_SUB = "_state"


def _score_digest_path(corpus_dir: str, batch_id: int) -> str:
    return os.path.join(corpus_dir, _STATE_SUB, f"score_digest_b{batch_id}.bin")


def _latest_score_digest(corpus_dir: str, before_batch: int | None = None):
    """The newest committed cumulative score digest (optionally only
    batches < ``before_batch``), or None. Per-batch files are
    deterministic overwrites keyed by batch id, so the newest eligible
    file is always a fully-committed prior batch's digest — the same
    crash-safety argument as ``read_curated``."""
    from tdigest_spark.sketch.tdigest import TDigest

    sdir = os.path.join(corpus_dir, _STATE_SUB)
    if not os.path.isdir(sdir):
        return None
    ids = [
        int(n[len("score_digest_b"):-4])
        for n in os.listdir(sdir)
        if n.startswith("score_digest_b") and n.endswith(".bin")
    ]
    if before_batch is not None:
        ids = [i for i in ids if i < before_batch]
    if not ids:
        return None
    with open(_score_digest_path(corpus_dir, max(ids)), "rb") as f:
        return TDigest.from_bytes(f.read())


def read_score_digest(corpus_dir: str):
    """The cumulative quality-score t-digest over every committed
    batch (None before the first scored batch) — the distribution the
    adaptive gate thresholds against; also the corpus-health dashboard
    series (quantiles/CDF without rescanning any text).

    Crash window: the newest file may belong to a batch whose manifest
    commit did not land (crash between the hook and the swap). Resuming
    the stream heals it — the replay overwrites the file and commits —
    so this only matters for a reader inspecting a crashed, unresumed
    pipeline; the gate itself is immune (it thresholds batch N against
    ids < N, all committed)."""
    return _latest_score_digest(corpus_dir)


def crawl_ingest_sink(
    stream: DataFrame,
    index_dir: str,
    pairs_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
    id_col: str = "url",
    text_col: str = "text",
    threshold: float = 0.6,
    quality_threshold: float | None = None,
    quality_quantile: float | None = None,
    quality_weights: dict | None = None,
    score_digest_delta: int = 200,
    heldout: DataFrame | None = None,
    heldout_id_col: str = "doc_id",
    decon_threshold: float = 0.8,
    bloom_buckets: int = 16,
    bloom_bits: int = 1 << 22,
    **neardup_kwargs,
):
    """Wire the four stages over ``stream`` and start it. Returns the
    StreamingQuery. With both quality gates ``None``, stage 3 is
    skipped entirely; otherwise curated rows carry ``quality_prob``.

    ``heldout``: optional eval-set table (same ``text_col``) — each
    batch is decontaminated against it (exact sha2 + near-dup LSH at
    ``decon_threshold``, :func:`~tdigest_spark.operators.dedup.
    decontaminate`) BEFORE the quality gate, so benchmark leakage
    never reaches the corpus; the heldout side is broadcast-small by
    contract and persisted once here, the batch pays its one existing
    signature pass. Flagged pages still anchor the dedup index (same
    rationale as quality-rejected pages: a re-crawl of a leaked page
    should collapse, not re-litigate).

    ``quality_threshold``: fixed score floor. ``quality_quantile``:
    adaptive floor — quarantine scores below this quantile of the
    cumulative score digest of all PREVIOUSLY committed batches (batch
    N's bar never depends on batch N, so replays re-decide
    identically; the first scored batch has no history and applies
    only the fixed floor, if any). Both set: the stricter floor wins
    per batch. The applied floor is recorded per batch in the metrics
    (``applied_quality_threshold``).

    Exactly-once: corpus/metrics/score-digest writes are deterministic
    per-batch overwrites inside the near-dup sink's pre-commit hook;
    dedup lineage, corpus contents and the adaptive gate's state can
    never disagree after a crash."""
    from tdigest_spark.streaming.dedup_stream import streaming_bloom_dedup
    from tdigest_spark.streaming.neardup_stream import neardup_ingest_sink

    canon = stream.withColumn(
        "canon_url", F.coalesce(url_normalize(id_col), F.col(id_col))
    )
    fresh = streaming_bloom_dedup(
        canon, "canon_url", buckets=bloom_buckets, n_bits=bloom_bits
    )

    scoring = quality_threshold is not None or quality_quantile is not None
    if heldout is not None:
        heldout = heldout.persist()

    def on_survivors(survivors: DataFrame, batch_id: int) -> None:
        from pyspark import StorageLevel

        # pin the batch's survivors: the hook triggers this plan (an
        # anti-join over the micro-batch) up to four times (count,
        # decontamination, scoring, corpus write) — without the pin
        # each pass re-reads the batch input and re-runs the join
        survivors = survivors.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            out = survivors
            n_survived = out.count()
            n_contaminated = 0
            n_quality_dropped = 0
            mean_quality = None
            applied = None
            if heldout is not None and n_survived:
                from tdigest_spark.operators.dedup import decontaminate

                flagged = (
                    decontaminate(
                        out, heldout, id_col="canon_url", text_col=text_col,
                        heldout_id_col=heldout_id_col,
                        threshold=decon_threshold,
                    )
                    .select(F.col("corpus_id").alias("canon_url"))
                    .distinct()
                    .localCheckpoint(eager=True)
                )
                n_contaminated = flagged.count()
                if n_contaminated:
                    out = out.join(F.broadcast(flagged), "canon_url", "left_anti")
            if scoring:
                from tdigest_spark.functions.quality import score_quality
                from tdigest_spark.functions.textstats import (
                    with_curation_signals,
                    with_text_stats,
                )

                scored = score_quality(
                    with_curation_signals(with_text_stats(out, text_col), text_col),
                    weights=quality_weights,
                )
                added = [
                    c for c in scored.columns
                    if c not in out.columns and c != "quality_prob"
                ]
                scored = scored.drop(*added).localCheckpoint(eager=True)
                applied = quality_threshold
                if quality_quantile is not None:
                    prior = _latest_score_digest(corpus_dir, before_batch=batch_id)
                    if prior is not None and prior.total_weight > 0:
                        adaptive = prior.quantile(quality_quantile)
                        applied = (
                            adaptive if applied is None else max(applied, adaptive)
                        )
                agg = scored.agg(
                    F.count("*").alias("n"),
                    F.avg("quality_prob").alias("mq"),
                    F.sum(
                        # NULL scores (e.g. empty/unextractable text) are
                        # unquantifiable: any active bar rejects them, and
                        # they are COUNTED — metrics must match the corpus
                        F.when(
                            F.lit(applied is not None)
                            & (
                                F.col("quality_prob").isNull()
                                | (F.col("quality_prob") < F.lit(applied if applied is not None else 0.0))
                            ),
                            1,
                        ).otherwise(0).cast("long")
                    ).alias("nd"),
                ).collect()[0]
                mean_quality = agg["mq"]
                n_quality_dropped = int(agg["nd"] or 0)
                if applied is not None:
                    out = scored.where(F.col("quality_prob") >= applied)
                else:
                    out = scored
                if quality_quantile is not None and int(agg["n"] or 0) > 0:
                    # fold THIS batch's scores into the cumulative digest
                    # (one blob row collected — never the scores themselves);
                    # deterministic per-batch file, atomic replace
                    from tdigest_spark.operators.digest_agg import tdigest_agg
                    from tdigest_spark.sketch.tdigest import TDigest

                    row = tdigest_agg(
                        scored, "quality_prob", delta=score_digest_delta
                    ).collect()[0]["digest"]
                    cum = TDigest.from_row(row)
                    prior = _latest_score_digest(corpus_dir, before_batch=batch_id)
                    if prior is not None:
                        cum = prior.merge(cum)
                    os.makedirs(os.path.join(corpus_dir, _STATE_SUB), exist_ok=True)
                    dpath = _score_digest_path(corpus_dir, batch_id)
                    with open(dpath + ".tmp", "wb") as f:
                        f.write(cum.to_bytes())
                    os.replace(dpath + ".tmp", dpath)
            out.write.mode("overwrite").parquet(
                os.path.join(corpus_dir, f"b{batch_id}")
            )
            os.makedirs(os.path.join(corpus_dir, _METRICS_SUB), exist_ok=True)
            mpath = os.path.join(corpus_dir, _METRICS_SUB, f"b{batch_id}.json")
            tmp = mpath + ".tmp"
            with open(tmp, "w") as f:
                json.dump(
                    {
                        "batch_id": batch_id,
                        "rows_after_neardup": n_survived,
                        "decontaminated": n_contaminated,
                        "quality_rejected": n_quality_dropped,
                        "rows_out": n_survived - n_contaminated - n_quality_dropped,
                        "mean_quality": mean_quality,
                        "applied_quality_threshold": applied,
                    },
                    f,
                )
            os.replace(tmp, mpath)
        finally:
            # released on every path: a failed batch must not leave its
            # pin in the CacheManager for the life of the session
            survivors.unpersist()

    return neardup_ingest_sink(
        fresh,
        "canon_url",
        text_col,
        index_dir,
        pairs_dir,
        checkpoint_dir,
        threshold=threshold,
        on_survivors=on_survivors,
        **neardup_kwargs,
    )


def read_curated(spark: SparkSession, corpus_dir: str) -> DataFrame:
    """The curated corpus across batches. Per-batch dirs are
    deterministic overwrites, so crash-then-replay leftovers are
    byte-identical to their committed twins — the glob read is safe
    (same argument as ``read_neardup_pairs``)."""
    subs = sorted(
        os.path.join(corpus_dir, d)
        for d in os.listdir(corpus_dir)
        if d.startswith("b")
    )
    if not subs:
        raise ValueError(f"read_curated: no batch dirs under {corpus_dir}")
    return spark.read.parquet(*subs)


def read_ingest_metrics(corpus_dir: str) -> list[dict]:
    """Per-batch lineage/metrics records, batch order."""
    mdir = os.path.join(corpus_dir, _METRICS_SUB)
    if not os.path.isdir(mdir):
        return []  # zero batches fired (empty source / all checkpointed)
    out = []
    for name in sorted(
        os.listdir(mdir), key=lambda n: int(n[1:].split(".")[0])
    ):
        if name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                out.append(json.load(f))
    return out


def main() -> None:
    """spark-submit --py-files tdigest_spark.zip -m tdigest_spark.jobs.crawl_ingest

    Drains everything currently available from ``--src`` (availableNow
    trigger), prints the per-batch lineage metrics plus a run summary,
    and optionally folds the band-index segments afterwards
    (``--compact`` — the LSM housekeeping that keeps probe fan-out
    flat across repeated invocations of this job on a growing crawl).
    """
    import argparse

    from tdigest_spark.session import get_spark

    ap = argparse.ArgumentParser(description="streaming crawl-ingest job")
    ap.add_argument("--src", required=True, help="parquet dir of crawl pages")
    ap.add_argument("--work-dir", required=True, help="root for index/pairs/corpus/checkpoint")
    ap.add_argument("--id-col", default="url")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--threshold", type=float, default=0.6)
    ap.add_argument(
        "--quality-threshold", type=float, default=None,
        help="drop pages whose logistic quality_prob falls below this (default: gate off)",
    )
    ap.add_argument(
        "--quality-quantile", type=float, default=None,
        help="adaptive gate: drop pages below this quantile of the cumulative "
        "score digest of previously committed batches",
    )
    ap.add_argument(
        "--heldout", default=None,
        help="parquet path of an eval set to decontaminate against "
        "(must carry --heldout-id-col and the stream's text column)",
    )
    ap.add_argument("--heldout-id-col", default="doc_id")
    ap.add_argument("--decon-threshold", type=float, default=0.8)
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    ap.add_argument(
        "--compact", action="store_true",
        help="fold band-index segments into one after the drain",
    )
    args = ap.parse_args()

    spark = get_spark("crawl_ingest")
    schema = spark.read.parquet(args.src).schema
    reader = spark.readStream.schema(schema)
    if args.max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", args.max_files_per_trigger)
    dirs = {k: os.path.join(args.work_dir, k) for k in ("index", "pairs", "corpus", "checkpoint")}
    q = crawl_ingest_sink(
        reader.parquet(args.src),
        dirs["index"], dirs["pairs"], dirs["corpus"], dirs["checkpoint"],
        id_col=args.id_col, text_col=args.text_col,
        threshold=args.threshold, quality_threshold=args.quality_threshold,
        quality_quantile=args.quality_quantile,
        heldout=(spark.read.parquet(args.heldout) if args.heldout else None),
        heldout_id_col=args.heldout_id_col,
        decon_threshold=args.decon_threshold,
    )
    q.awaitTermination()
    metrics = read_ingest_metrics(dirs["corpus"])
    for m in metrics:
        print(json.dumps(m))
    summary = {
        "batches": len(metrics),
        "rows_out": sum(m["rows_out"] for m in metrics),
        "decontaminated": sum(m.get("decontaminated", 0) for m in metrics),
        "quality_rejected": sum(m["quality_rejected"] for m in metrics),
    }
    if args.compact:
        from tdigest_spark.streaming.neardup_stream import compact_neardup_segments

        summary["segments_compacted"] = compact_neardup_segments(
            spark, dirs["index"]
        )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
