"""The flagship 100 TB-shaped job: sketch per-document features of the
Common-Crawl-style web-pages table, with per-bucket checkpoints
(resume), lineage and metrics — runnable via
``spark-submit --py-files`` (north_rule).

Execution shape at scale (SURVEY.md §3.1/§4):

  codegen'd generator/Iceberg scan  ->  feature expressions (JVM)
  ->  mapInPandas partial sketches per (partition x lang)   [no shuffle
      of raw rows; only O(delta) digest structs + fixed-size blobs]
  ->  per-lang merge (lang is 45%-'en' skewed by design, but the hot
      'en' reducer sees one partial per input partition, not its rows)
  ->  per-lang + global rank statistics.

Checkpointing: the id-range is split into ``n_buckets`` contiguous
buckets; each bucket's per-lang partial digests are written to a
parquet checkpoint keyed by (job_id, bucket). Resume = skip buckets
already present — re-running after a failure recomputes only missing
buckets, then merges all partials (digest merge is associative, so
merged-from-checkpoint == single-pass within bound; asserted in
tests). A manifest JSON records lineage (bucket -> id range, rows,
wall seconds, docs/sec).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tdigest_spark.functions.text import with_text_features
from tdigest_spark.operators.digest_agg import (
    tdigest_agg,
    tdigest_merge_agg,
    tdigest_stats,
)
from tdigest_spark.operators.sketch_agg import sketch_build, sketch_estimates
from tdigest_spark.sources.catalog import read_table, write_table
from tdigest_spark.sources.webpages import synth_webpages

STAT_SPEC = {
    "p50_chars": ("quantile", 0.5),
    "p99_chars": ("quantile", 0.99),
    "p999_chars": ("quantile", 0.999),
    "mean_chars": ("mean",),
    "n_docs": ("total_weight",),
}


def sketch_webpages(
    spark: SparkSession,
    pages: DataFrame,
    delta: int = 200,
) -> DataFrame:
    """ONE pass over pages -> per-lang t-digest of text length + HLL of
    urls: one :func:`sketch_build` with the ``"td"`` and ``"hll"`` kinds
    (both sketches fill in the same partial stage — at 100 TB the scan
    dominates and every extra pass doubles it; one per-lang blob merge
    follows), then :func:`sketch_estimates` for the ``STAT_SPEC``
    columns plus ``distinct_urls_est``.
    """
    feats = with_text_features(pages).select("lang", "url", "n_chars")
    built = sketch_build(
        feats,
        {"digest": ("td", "n_chars", delta), "hll": ("hll", "url", 12)},
        by=["lang"],
    )
    ests = {
        name: (f"td_{stat}", "digest", *args)
        for name, (stat, *args) in STAT_SPEC.items()
    }
    ests["distinct_urls_est"] = ("hll_estimate", "hll")
    return (
        sketch_estimates(built, ests)
        .withColumn("n_docs", F.col("n_docs").cast("long"))
        .withColumn("distinct_urls_est", F.round("distinct_urls_est", 1))
    )


# ----------------------------------------------------------------- resume

def run_checkpointed(
    spark: SparkSession,
    n_docs: int,
    checkpoint_dir: str,
    job_id: str = "webpages",
    n_buckets: int = 16,
    delta: int = 200,
    partitions_per_bucket: int = 8,
) -> DataFrame:
    """Checkpointed sketch build with per-bucket lineage + resume."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    manifest_path = os.path.join(checkpoint_dir, f"{job_id}.manifest.json")
    manifest = {"job_id": job_id, "n_docs": n_docs, "n_buckets": n_buckets, "buckets": {}}
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        assert manifest["n_docs"] == n_docs, "manifest/job n_docs mismatch"
        # resuming with a different bucketing would silently reuse done
        # buckets whose id ranges no longer line up — refuse instead
        assert manifest.get("n_buckets", n_buckets) == n_buckets, (
            "manifest/job n_buckets mismatch — resume with the original "
            f"n_buckets={manifest.get('n_buckets')} or use a new checkpoint dir"
        )

    step = (n_docs + n_buckets - 1) // n_buckets
    for b in range(n_buckets):
        key = str(b)
        part_path = os.path.join(checkpoint_dir, f"{job_id}.bucket={b}")
        if manifest["buckets"].get(key, {}).get("done") and os.path.exists(part_path):
            continue  # resume: bucket already sketched
        lo, hi = b * step, min((b + 1) * step, n_docs)
        t0 = time.perf_counter()
        # the generator is a pure function of id, so a bucket is just an
        # id-range slice of the same SQL (lineage: bucket -> [lo, hi))
        pages = spark.sql(_range_sql(lo, hi, partitions_per_bucket))
        feats = with_text_features(pages).select("lang", "n_chars")
        partials = tdigest_agg(feats, "n_chars", by=["lang"], delta=delta)
        fmt = write_table(partials.withColumn("bucket", F.lit(b)), part_path)
        dt = time.perf_counter() - t0
        rows = hi - lo
        manifest["buckets"][key] = {
            "done": True,
            "id_range": [lo, hi],
            "rows": rows,
            "wall_s": round(dt, 3),
            "docs_per_sec": round(rows / dt, 1),
            "path": part_path,
            "format": fmt,
        }
        # write-temp + os.replace: a crash mid-write leaves the previous
        # manifest whole, never truncated JSON the resume cannot parse
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, manifest_path)

    # read each bucket with the format its WRITER recorded in the
    # manifest (a resume session whose iceberg availability differs
    # from the writer's must not re-probe); buckets from before the
    # manifest carried formats default to the current session's probe
    by_fmt: dict[str | None, list[str]] = {}
    for m in manifest["buckets"].values():
        by_fmt.setdefault(m.get("format"), []).append(m["path"])
    parts = [read_table(spark, *paths, fmt=f) for f, paths in by_fmt.items()]
    all_partials = parts[0]
    for p in parts[1:]:
        all_partials = all_partials.unionByName(p)
    all_partials = all_partials.drop("bucket")
    final = tdigest_merge_agg(all_partials, by=["lang"])
    return tdigest_stats(final, STAT_SPEC).withColumn(
        "n_docs", F.col("n_docs").cast("long")
    )


def _range_sql(lo: int, hi: int, parts: int) -> str:
    from tdigest_spark.sources.webpages import webpages_sql_spark

    inner = webpages_sql_spark(hi, parts)
    # generator is a pure function of id; slicing the range = slicing ids
    return inner.replace(
        f"range(0, {hi}, 1, {parts})", f"range({lo}, {hi}, 1, {parts})"
    )


# ----------------------------------------------------------------- bench

BENCH_DOCS = 1_000_000


def bench_sketch_webpages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bench.py workload: docs/sec of the full sketch pass on 1M
    synthetic pages (sf_dir unused — input is generated)."""
    cpus = int(spark.sparkContext.defaultParallelism)
    pages = synth_webpages(spark, BENCH_DOCS, n_partitions=cpus * 2)
    out = sketch_webpages(spark, pages, delta=200)
    return out.withColumn("n_docs_total", F.lit(BENCH_DOCS)).withColumnRenamed(
        "n_docs", "n_docs_lang"
    ).withColumnRenamed("n_docs_total", "n_docs")


# ----------------------------------------------------------------- CLI

def main() -> None:
    """spark-submit --py-files tdigest_spark.zip -m tdigest_spark.jobs.webpages"""
    import argparse

    from tdigest_spark.session import get_spark

    ap = argparse.ArgumentParser(description="web-pages sketch job")
    ap.add_argument("--n-docs", type=int, default=1_000_000)
    ap.add_argument("--checkpoint-dir", default="/tmp/webpages_ckpt")
    ap.add_argument("--job-id", default="webpages")
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--delta", type=int, default=200)
    args = ap.parse_args()

    spark = get_spark("sketch_webpages")
    t0 = time.perf_counter()
    out = run_checkpointed(
        spark, args.n_docs, args.checkpoint_dir, args.job_id,
        n_buckets=args.n_buckets, delta=args.delta,
    )
    rows = out.collect()
    dt = time.perf_counter() - t0
    for r in sorted(rows, key=lambda r: r["lang"]):
        print(json.dumps(r.asDict()))
    print(json.dumps({"total_wall_s": round(dt, 2), "docs_per_sec": round(args.n_docs / dt, 1)}))
    spark.stop()


if __name__ == "__main__":
    main()
