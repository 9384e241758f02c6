"""Deterministic synthetic Common-Crawl-style web-pages table.

Schema per BASELINE.json ``input_hint``: ``(url string, warc_ts
timestamp, html binary, text string, lang string)``. Generation is a
pure function of the row id via LCG arithmetic (constants from the
classic glibc LCG) expressed in ANSI SQL that evaluates **identically**
in Spark and DuckDB — so the driver's DuckDB oracle can regenerate the
very same table and check pipeline outputs value-for-value, and the
per-row invariant (byte-identical ``text`` per ``url``; the <p> body of
``html`` re-extracts to exactly ``text``) is machine-checked.

No external data, no Python row loop: the table materializes JVM-side
from ``range()`` through whole-stage-codegen expressions, so generating
10^12 rows on a cluster is embarrassingly parallel and shuffle-free.

``lang`` is deliberately skewed (45% ``en`` ... 1.5% ``ko``) to
exercise skewed-key grouping (north_rule skew handling): the hot
``en`` reducer must see per-partition partials, not raw rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Placeholders: {src} range source, {STR}/{INT} cast targets,
# {TS O/C} timestamp-from-epoch-seconds, {BIN O/C} string->binary.
_TEMPLATE = """
WITH g0 AS (
  SELECT id, (id * 1103515245 + 12345) % 2147483648 AS u1 FROM {src}
), g1 AS (
  SELECT id, u1, (u1 * 69069 + 1) % 2147483648 AS u2 FROM g0
), g2 AS (
  SELECT id, u1, u2, (u2 * 69069 + 1) % 2147483648 AS u3 FROM g1
), g3 AS (
  SELECT id, u1, u2, u3, (u3 * 69069 + 1) % 2147483648 AS u4 FROM g2
), body AS (
  SELECT id, u1, u2, u3, u4,
    CASE WHEN u2 % 1000 < 450 THEN 'en'
         WHEN u2 % 1000 < 620 THEN 'zh'
         WHEN u2 % 1000 < 740 THEN 'es'
         WHEN u2 % 1000 < 830 THEN 'de'
         WHEN u2 % 1000 < 900 THEN 'fr'
         WHEN u2 % 1000 < 950 THEN 'ru'
         WHEN u2 % 1000 < 985 THEN 'ja'
         ELSE 'ko' END AS lang,
    rtrim(concat(
      repeat(concat('w', cast(u1 % 32 AS {STR}), ' '), cast(1 + u2 % 29 AS {INT})),
      repeat(concat('w', cast(u2 % 32 AS {STR}), ' '), cast(1 + u3 % 23 AS {INT})),
      repeat(concat('w', cast(u3 % 32 AS {STR}), ' '), cast(1 + u4 % 17 AS {INT})),
      repeat(concat('w', cast(u4 % 32 AS {STR}), ' '), cast(1 + u1 % 11 AS {INT}))
    )) AS text
  FROM g3
)
SELECT
  concat('https://d', cast(u1 % 1000 AS {STR}), '.example.com/page/',
         cast(id AS {STR})) AS url,
  {TSO}1704067200 + id % 31536000{TSC} AS warc_ts,
  {BINO}concat('<html><head><title>Page ', cast(id AS {STR}),
         '</title></head><body><p>', text, '</p></body></html>'){BINC} AS html,
  text,
  lang
FROM body
"""


def webpages_sql_spark(n_docs: int, n_partitions: int | None = None) -> str:
    src = f"range(0, {n_docs}, 1, {n_partitions})" if n_partitions else f"range({n_docs})"
    return _TEMPLATE.format(
        src=src, STR="STRING", INT="INT",
        TSO="timestamp_seconds(", TSC=")",
        BINO="cast(", BINC=" AS BINARY)",
    )


def webpages_sql_duckdb(n_docs: int) -> str:
    return _TEMPLATE.format(
        src=f"range({n_docs}) t(id)", STR="VARCHAR", INT="BIGINT",
        TSO="to_timestamp(", TSC=")::TIMESTAMP",
        BINO="encode(", BINC=")",
    )


def synth_webpages(
    spark: SparkSession, n_docs: int, n_partitions: int | None = None
) -> DataFrame:
    """The Iceberg-shaped source table (parquet-degradable, SURVEY.md
    §7); at scale this is ``spark.read.format('iceberg')`` over the
    real crawl — everything downstream only sees the DataFrame."""
    return spark.sql(webpages_sql_spark(n_docs, n_partitions))
