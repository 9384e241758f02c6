"""Similarity-search query family (embeddings table, 64-dim float
vectors). Exact brute-force cosine is fully oracle-checked against
DuckDB ``list_cosine_similarity``; the LSH near-dup path plants
direction-identical duplicates (scaled copies — cosine exactly 1, so
bucket collision probability is exactly 1 and the result set is
deterministic) and is oracle-checked against exhaustive SQL."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tdigest_spark.operators.similarity import cosine_topk, lsh_neardup_pairs
from tdigest_spark.sources.tables import load


def sim_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for every 100th vector as a query.

    No longer a standalone driver row — round 5 folded it into
    :func:`sim_ivf_indexed_topk` as its tagged ``exact`` leg (SURVEY
    §8.3 swap discipline; the freed slot admitted ``sim_pq_topk``).
    Kept callable for tests and users."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    out = cosine_topk(emb, queries, "vec_id", "embedding", k=5)
    return out.select(
        "query_id", "rank", "vec_id", F.round("cosine", 4).alias("cosine")
    )


def _augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.where(F.col("vec_id") % 9 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding").cast("array<double>"), lambda x: x * 2.0).alias(
            "embedding"
        ),
    )
    return emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionAll(copies)


def sim_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed near-dup retrieval of the planted scaled copies."""
    corpus = _augmented(spark, sf_dir)
    pairs = lsh_neardup_pairs(corpus, "vec_id", "embedding", threshold=0.999)
    return pairs.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def sim_ivf_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two tagged legs in one driver row (round-5 fold, SURVEY §8.3):

    - ``exact`` — brute-force cosine top-5, every 100th vector as a
      query (round-1's ``sim_topk_exact``, now a leg).
    - ``ivf`` — persisted-IVF-index search (build once into a
      cell-partitioned table, probe with scan-time partition pruning),
      run exhaustively (nprobe = nlist) so the result provably equals
      brute force and hash-matches the SQL oracle.

    Pruned-probe recall, the partition-filter plan, and the in-memory
    (non-persisted) ``ivf_topk`` variant — round-2's sim_ivf_topk —
    are covered in test_pipeline_ops.py."""
    import tempfile

    from tdigest_spark.operators.similarity import build_ivf_index, ivf_topk_indexed

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    exact = sim_topk_exact(spark, sf_dir).select(
        F.lit("exact").alias("leg"), "query_id", "rank", "vec_id", "cosine"
    )
    index_dir = tempfile.mkdtemp(prefix="ivf_index_") + "/idx"
    fmt = build_ivf_index(emb, "vec_id", "embedding", index_dir, nlist=8, seed=7)
    queries = emb.where(F.col("vec_id") % 180 == 0)
    ivf = ivf_topk_indexed(
        spark, index_dir, queries, "vec_id", "embedding", k=3, nprobe=8, fmt=fmt
    ).select(
        F.lit("ivf").alias("leg"),
        "query_id",
        "rank",
        "vec_id",
        F.round("cosine", 4).alias("cosine"),
    )
    return exact.unionAll(ivf)


def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF-PQ search (round-5 admission; the round-4 verdict's
    #2): build the cell-partitioned PQ index once (16-byte codes +
    full vectors in the same shards), probe exhaustively, ADC-shortlist
    128 candidates per query, exact-cosine re-rank to top-5 — sized so
    the result provably equals brute force on this corpus and
    hash-matches the SQL oracle. The row hashes ``(query_id, rank,
    vec_id)`` only: a rounded cosine can straddle a rounding boundary
    between the two engines. Pruned-probe recall, ADC-vs-exact
    agreement, the PartitionFilters plan, and the append/refresh
    lifecycle are covered in tests/test_pq.py."""
    import tempfile

    from tdigest_spark.operators.pq import build_ivfpq_index, ivfpq_topk_indexed

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    index_dir = tempfile.mkdtemp(prefix="ivfpq_index_") + "/idx"
    fmt = build_ivfpq_index(
        emb, "vec_id", "embedding", index_dir, nlist=8, m=16, ksub=32, seed=7
    )
    queries = emb.where(F.col("vec_id") % 150 == 0)
    out = ivfpq_topk_indexed(
        spark, index_dir, queries, "vec_id", "embedding",
        k=5, nprobe=8, rerank=128, fmt=fmt,
    )
    return out.select("query_id", "rank", "vec_id")


def sim_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding duplicate clusters: LSH near-dup pairs closed into
    components (min-vec_id label), the embedding-side keep-one policy.
    Oracle: recursive CTE over the exhaustive cosine>=0.999 graph."""
    from tdigest_spark.operators.dedup import connected_components

    corpus = _augmented(spark, sf_dir)
    pairs = lsh_neardup_pairs(corpus, "vec_id", "embedding", threshold=0.999)
    return connected_components(pairs.select("id_a", "id_b")).select(
        F.col("id").alias("vec_id"), "component"
    )


QUERIES = {
    "sim_lsh_neardup": sim_lsh_neardup,
    "sim_ivf_indexed_topk": sim_ivf_indexed_topk,
    "sim_pq_topk": sim_pq_topk,
    "sim_dup_clusters": sim_dup_clusters,
}

ORACLES = {
    "sim_ivf_indexed_topk": """
        WITH exact_scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                 list_cosine_similarity(c.embedding::DOUBLE[],
                                        q.embedding::DOUBLE[]) AS cos
          FROM embeddings c
          JOIN embeddings q ON q.vec_id % 100 = 0 AND c.vec_id <> q.vec_id
        ), exact_ranked AS (
          SELECT query_id, vec_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, vec_id ASC) AS rank
          FROM exact_scored
        ),
        ivf_scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                 list_cosine_similarity(c.embedding::DOUBLE[],
                                        q.embedding::DOUBLE[]) AS cos
          FROM embeddings c
          JOIN embeddings q ON q.vec_id % 180 = 0 AND c.vec_id <> q.vec_id
        ), ivf_ranked AS (
          SELECT query_id, vec_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, vec_id ASC) AS rank
          FROM ivf_scored
        )
        SELECT 'exact' AS leg, query_id, rank, vec_id, round(cos, 4) AS cosine
        FROM exact_ranked WHERE rank <= 5
        UNION ALL
        SELECT 'ivf' AS leg, query_id, rank, vec_id, round(cos, 4) AS cosine
        FROM ivf_ranked WHERE rank <= 3
    """,
    "sim_pq_topk": """
        WITH scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                 list_cosine_similarity(c.embedding::DOUBLE[],
                                        q.embedding::DOUBLE[]) AS cos
          FROM embeddings c
          JOIN embeddings q ON q.vec_id % 150 = 0 AND c.vec_id <> q.vec_id
        ), ranked AS (
          SELECT query_id, vec_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, vec_id ASC) AS rank
          FROM scored
        )
        SELECT query_id, rank, vec_id FROM ranked WHERE rank <= 5
    """,
    "sim_dup_clusters": """
        WITH RECURSIVE corpus AS (
          SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 100000,
                 list_transform(embedding::DOUBLE[], x -> x * 2.0)
          FROM embeddings WHERE vec_id % 9 = 0
        ),
        pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
          WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.999
        ),
        edges AS (
          SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ),
        reach(u, v) AS (
          SELECT u, v FROM edges
          UNION
          SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
        )
        SELECT u AS vec_id, least(u, min(v)) AS component
        FROM reach GROUP BY u
    """,
    "sim_lsh_neardup": """
        WITH corpus AS (
          SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 100000,
                 list_transform(embedding::DOUBLE[], x -> x * 2.0)
          FROM embeddings WHERE vec_id % 9 = 0
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.embedding, b.embedding), 4)
                   AS cosine
        FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.999
    """,
}
