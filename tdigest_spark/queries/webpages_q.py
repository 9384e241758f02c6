"""Web-pages pipeline query family (the north_rule flagship surface).

The synthetic table is a pure function of the row id expressed in SQL
that evaluates identically in Spark and DuckDB
(sources/webpages.py), so even though the table is generated — not one
of the driver's parquet files — the oracle can regenerate it inside
DuckDB and value-check the whole pipeline: per-row extraction
invariant, per-lang counts, lossless digest quantiles of text length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tdigest_spark.functions.text import extract_text, with_text_features
from tdigest_spark.operators.digest_agg import tdigest_agg, tdigest_stats
from tdigest_spark.sources.webpages import synth_webpages, webpages_sql_duckdb

N_DOCS = 20_000  # correctness scale; bench runs 1M+ (jobs/webpages.py)
LOSSLESS = 1_000_000


def _invariant_facts(pages: DataFrame) -> DataFrame:
    """Global extraction invariants: text extracted from html is
    byte-identical to the text column, for every url (input_hint's
    parity requirement). One row; cross-joined onto the per-lang
    quantiles (consolidated from round-1's wp_invariant_extract under
    the 50-row driver cap)."""
    return pages.agg(
        F.count("*").alias("g_docs"),
        F.sum((extract_text("html") == F.col("text")).cast("long")).alias("g_exact"),
        F.countDistinct("url").alias("g_urls"),
    )


def wp_lang_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang skew profile (feeds the salting choice) + token-count
    features via built-ins, one scan — consolidates round-2's
    wp_lang_counts + wp_token_stats under the 50-row budget."""
    pages = synth_webpages(spark, N_DOCS)
    feats = with_text_features(pages)
    return feats.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.min(F.length("text")).alias("min_chars"),
        F.max(F.length("text")).alias("max_chars"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.round(F.avg("avg_token_len"), 4).alias("avg_tok_len"),
    )


def wp_textlen_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang t-digest of text length, lossless -> exact quantile
    parity with DuckDB over the regenerated table."""
    pages = synth_webpages(spark, N_DOCS)
    feats = with_text_features(pages).select("lang", "n_chars")
    dig = tdigest_agg(feats, "n_chars", by=["lang"], delta=LOSSLESS)
    out = tdigest_stats(
        dig,
        {
            "p50": ("quantile", 0.5),
            "p99": ("quantile", 0.99),
            "p999": ("quantile", 0.999),
            "n_docs": ("total_weight",),
        },
    )
    out = (
        out.withColumn("n_docs", F.col("n_docs").cast("long"))
        .withColumn("p50", F.round("p50", 4))
        .withColumn("p99", F.round("p99", 4))
        .withColumn("p999", F.round("p999", 4))
    )
    return out.crossJoin(F.broadcast(_invariant_facts(pages)))


_DUCK = webpages_sql_duckdb(N_DOCS)

QUERIES = {
    "wp_lang_token_stats": wp_lang_token_stats,
    "wp_textlen_quantiles": wp_textlen_quantiles,
}

ORACLES = {
    "wp_lang_token_stats": f"""
        WITH pages AS ({_DUCK})
        SELECT lang, count(*) AS n_docs,
               min(length(text)) AS min_chars,
               max(length(text)) AS max_chars,
               round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
               sum(len(string_split(text, ' ')))::BIGINT AS sum_tokens,
               round(avg(length(replace(text, ' ', ''))::DOUBLE
                         / len(string_split(text, ' '))), 4) AS avg_tok_len
        FROM pages GROUP BY lang
    """,
    "wp_textlen_quantiles": f"""
        WITH pages AS ({_DUCK})
        SELECT lang,
               round(quantile_cont(length(text)::DOUBLE, 0.5), 4) AS p50,
               round(quantile_cont(length(text)::DOUBLE, 0.99), 4) AS p99,
               round(quantile_cont(length(text)::DOUBLE, 0.999), 4) AS p999,
               count(*) AS n_docs,
               g_docs, g_exact, g_urls
        FROM pages CROSS JOIN (
          SELECT count(*) AS g_docs,
                 sum(CASE WHEN regexp_extract(decode(html), '<p>(.*)</p>', 1) = text
                          THEN 1 ELSE 0 END)::BIGINT AS g_exact,
                 count(DISTINCT url) AS g_urls
          FROM pages
        ) inv
        GROUP BY lang, g_docs, g_exact, g_urls
    """,
}
