"""tdigest_spark — PySpark-native distributed sketch / approximate-
aggregation engine (see README.md, SURVEY.md).

Top-level re-exports cover the primary API; submodules hold the rest
(operators.dedup, operators.similarity, operators.multimodal,
functions.textstats, streaming.*, sources.*, jobs.*). Imports are
lazy (PEP 562) so `import tdigest_spark` stays cheap and pyspark is
only touched when an API is first used.
"""

from __future__ import annotations

__version__ = "0.1.0"

_EXPORTS = {
    # session
    "get_spark": ("tdigest_spark.session", "get_spark"),
    # t-digest
    "TDigest": ("tdigest_spark.sketch.tdigest", "TDigest"),
    "tdigest_agg": ("tdigest_spark.operators.digest_agg", "tdigest_agg"),
    "tdigest_merge_agg": ("tdigest_spark.operators.digest_agg", "tdigest_merge_agg"),
    "tdigest_stats": ("tdigest_spark.operators.digest_agg", "tdigest_stats"),
    "tdigest_cdf_at": ("tdigest_spark.operators.digest_agg", "tdigest_cdf_at"),
    "with_percentile_rank": (
        "tdigest_spark.operators.digest_agg",
        "with_percentile_rank",
    ),
    "filter_percentile_range": (
        "tdigest_spark.operators.digest_agg",
        "filter_percentile_range",
    ),
    "tdigest_histogram": ("tdigest_spark.operators.digest_agg", "tdigest_histogram"),
    "tdigest_rollup": ("tdigest_spark.operators.digest_agg", "tdigest_rollup"),
    "tdigest_cube": ("tdigest_spark.operators.digest_agg", "tdigest_cube"),
    "tdigest_describe": ("tdigest_spark.operators.digest_agg", "tdigest_describe"),
    "digest_drift": ("tdigest_spark.operators.drift", "digest_drift"),
    "ks_distance": ("tdigest_spark.operators.drift", "ks_distance"),
    "w1_distance": ("tdigest_spark.operators.drift", "w1_distance"),
    "psi_score": ("tdigest_spark.operators.drift", "psi_score"),
    "tdigest_sliding": ("tdigest_spark.operators.digest_agg", "tdigest_sliding"),
    "panes_to_sliding": ("tdigest_spark.operators.digest_agg", "panes_to_sliding"),
    # hypertable rollup lifecycle (continuous aggregates)
    "time_bucket": ("tdigest_spark.operators.hypertable", "time_bucket"),
    "hypertable_upsert": ("tdigest_spark.operators.hypertable", "hypertable_upsert"),
    "hypertable_window_stats": (
        "tdigest_spark.operators.hypertable",
        "hypertable_window_stats",
    ),
    "hypertable_sliding_stats": (
        "tdigest_spark.operators.hypertable",
        "hypertable_sliding_stats",
    ),
    "hypertable_downsample": (
        "tdigest_spark.operators.hypertable",
        "hypertable_downsample",
    ),
    "hypertable_sink": ("tdigest_spark.operators.hypertable", "hypertable_sink"),
    "hypertable_info": ("tdigest_spark.operators.hypertable", "hypertable_info"),
    "gapfill_windows": ("tdigest_spark.operators.hypertable", "gapfill_windows"),
    "sketch_hypertable_upsert": (
        "tdigest_spark.operators.hypertable",
        "sketch_hypertable_upsert",
    ),
    "sketch_hypertable_window": (
        "tdigest_spark.operators.hypertable",
        "sketch_hypertable_window",
    ),
    "sketch_hypertable_sliding": (
        "tdigest_spark.operators.hypertable",
        "sketch_hypertable_sliding",
    ),
    "sketch_hypertable_downsample": (
        "tdigest_spark.operators.hypertable",
        "sketch_hypertable_downsample",
    ),
    "sketch_hypertable_sink": (
        "tdigest_spark.operators.hypertable",
        "sketch_hypertable_sink",
    ),
    # companion sketches
    "HLL": ("tdigest_spark.sketch.hll", "HLL"),
    "CountMin": ("tdigest_spark.sketch.cms", "CountMin"),
    "KLL": ("tdigest_spark.sketch.kll", "KLL"),
    "BloomFilter": ("tdigest_spark.sketch.bloom", "BloomFilter"),
    "KMV": ("tdigest_spark.sketch.kmv", "KMV"),
    "FrequentDirections": ("tdigest_spark.sketch.fd", "FrequentDirections"),
    "fd_agg": ("tdigest_spark.operators.fd_agg", "fd_agg"),
    "fd_merge_agg": ("tdigest_spark.operators.fd_agg", "fd_merge_agg"),
    "fd_stats": ("tdigest_spark.operators.fd_agg", "fd_stats"),
    "fd_project": ("tdigest_spark.operators.fd_agg", "fd_project"),
    "fd_subspace_drift": ("tdigest_spark.operators.fd_agg", "fd_subspace_drift"),
    "kmv_samples": ("tdigest_spark.operators.sketch_agg", "kmv_samples"),
    "sketch_build": ("tdigest_spark.operators.sketch_agg", "sketch_build"),
    "sketch_merge_agg": ("tdigest_spark.operators.sketch_agg", "sketch_merge_agg"),
    "sketch_estimates": ("tdigest_spark.operators.sketch_agg", "sketch_estimates"),
    "sketch_agg": ("tdigest_spark.operators.sketch_agg", "sketch_agg"),
    "bloom_probe": ("tdigest_spark.operators.sketch_agg", "bloom_probe"),
    "cms_probe": ("tdigest_spark.operators.sketch_agg", "cms_probe"),
    "cms_grouped_build": ("tdigest_spark.operators.sketch_agg", "cms_grouped_build"),
    "cms_grouped_probe": ("tdigest_spark.operators.sketch_agg", "cms_grouped_probe"),
    "hll_overlap": ("tdigest_spark.operators.sketch_agg", "hll_overlap"),
    "kmv_overlap": ("tdigest_spark.operators.sketch_agg", "kmv_overlap"),
    "approx_topk": ("tdigest_spark.operators.topk", "approx_topk"),
    "bloom_semijoin": ("tdigest_spark.operators.sketch_join", "bloom_semijoin"),
    # event analytics
    "sessionize": ("tdigest_spark.operators.sessionize", "sessionize"),
    "session_stats": ("tdigest_spark.operators.sessionize", "session_stats"),
    "asof_join": ("tdigest_spark.operators.asof", "asof_join"),
    "range_join": ("tdigest_spark.operators.range_join", "range_join"),
    "funnel_steps": ("tdigest_spark.operators.funnel", "funnel_steps"),
    "funnel_counts": ("tdigest_spark.operators.funnel", "funnel_counts"),
    "cohort_retention": ("tdigest_spark.operators.retention", "cohort_retention"),
    "heavy_key_strings": ("tdigest_spark.operators.skew", "heavy_key_strings"),
    # per-row scorers / grouping lattice
    "tdigest_grouping_sets": (
        "tdigest_spark.operators.digest_agg",
        "tdigest_grouping_sets",
    ),
    "quantile_normalize": ("tdigest_spark.operators.digest_agg", "quantile_normalize"),
    "with_equidepth_bucket": (
        "tdigest_spark.operators.digest_agg",
        "with_equidepth_bucket",
    ),
    # LLM-pipeline operators
    "hash_sample": ("tdigest_spark.operators.sampling", "hash_sample"),
    "stratified_sample": ("tdigest_spark.operators.sampling", "stratified_sample"),
    "split_by_hash": ("tdigest_spark.operators.sampling", "split_by_hash"),
    "sample_k": ("tdigest_spark.operators.sampling", "sample_k"),
    "exact_dedup": ("tdigest_spark.operators.dedup", "exact_dedup"),
    "url_normalize": ("tdigest_spark.functions.urls", "url_normalize"),
    "url_host": ("tdigest_spark.functions.urls", "url_host"),
    "url_registered_domain": ("tdigest_spark.functions.urls", "url_registered_domain"),
    "minhash_dedup_pairs": ("tdigest_spark.operators.dedup", "minhash_dedup_pairs"),
    "simhash_pairs": ("tdigest_spark.operators.dedup", "simhash_pairs"),
    "decontaminate": ("tdigest_spark.operators.dedup", "decontaminate"),
    "apply_decontamination": (
        "tdigest_spark.operators.dedup",
        "apply_decontamination",
    ),
    "connected_components": ("tdigest_spark.operators.dedup", "connected_components"),
    "chunk_documents": ("tdigest_spark.operators.chunking", "chunk_documents"),
    "chunk_documents_tokens": (
        "tdigest_spark.operators.chunking",
        "chunk_documents_tokens",
    ),
    "pack_sequences": ("tdigest_spark.operators.packing", "pack_sequences"),
    "tfidf_top_terms": ("tdigest_spark.operators.tfidf", "tfidf_top_terms"),
    "token_count": ("tdigest_spark.functions.textstats", "token_count"),
    "cosine_topk": ("tdigest_spark.operators.similarity", "cosine_topk"),
    "build_ivf_index": ("tdigest_spark.operators.similarity", "build_ivf_index"),
    "ivf_topk_indexed": ("tdigest_spark.operators.similarity", "ivf_topk_indexed"),
    "append_ivf_index": ("tdigest_spark.operators.similarity", "append_ivf_index"),
    "train_pq_codebooks": ("tdigest_spark.operators.pq", "train_pq_codebooks"),
    "with_pq_code": ("tdigest_spark.operators.pq", "with_pq_code"),
    "pq_topk": ("tdigest_spark.operators.pq", "pq_topk"),
    "ivfpq_topk": ("tdigest_spark.operators.pq", "ivfpq_topk"),
    "build_ivfpq_index": ("tdigest_spark.operators.pq", "build_ivfpq_index"),
    "ivfpq_topk_indexed": ("tdigest_spark.operators.pq", "ivfpq_topk_indexed"),
    "append_ivfpq_index": ("tdigest_spark.operators.pq", "append_ivfpq_index"),
    "refresh_ivfpq_index": ("tdigest_spark.operators.pq", "refresh_ivfpq_index"),
    "bm25_scores": ("tdigest_spark.operators.bm25", "bm25_scores"),
    "bm25_topk": ("tdigest_spark.operators.bm25", "bm25_topk"),
    "bm25_topk_multi": ("tdigest_spark.operators.bm25", "bm25_topk_multi"),
    "rrf_fuse": ("tdigest_spark.operators.retrieval", "rrf_fuse"),
    # streaming
    "stateful_digest_stream": (
        "tdigest_spark.streaming.digest_stream",
        "stateful_digest_stream",
    ),
    "windowed_digest_stream": (
        "tdigest_spark.streaming.digest_stream",
        "windowed_digest_stream",
    ),
    "digest_sink": ("tdigest_spark.streaming.digest_stream", "digest_sink"),
    "sketch_sink": ("tdigest_spark.streaming.digest_stream", "sketch_sink"),
    "stateful_topk_stream": (
        "tdigest_spark.streaming.topk_stream",
        "stateful_topk_stream",
    ),
    "drift_monitor": ("tdigest_spark.streaming.drift_stream", "drift_monitor"),
    "streaming_bloom_dedup": (
        "tdigest_spark.streaming.dedup_stream",
        "streaming_bloom_dedup",
    ),
    # SQL surface
    "register_sql_functions": (
        "tdigest_spark.functions.sql_udfs",
        "register_sql_functions",
    ),
}

__all__ = sorted(_EXPORTS) + ["__version__"]


def __getattr__(name: str):
    try:
        mod_name, attr = _EXPORTS[name]
    except KeyError:
        raise AttributeError(f"module 'tdigest_spark' has no attribute {name!r}") from None
    import importlib

    return getattr(importlib.import_module(mod_name), attr)
