"""Query/oracle registry of the corpusops operators.

These queries exercise corpusops (dedup, ANN search, packing, text
filters, relational operators) on the sf tables, each paired with a
DuckDB oracle. They were part of the driver surface until the surface
was rebuilt over the validation engine (``__spark_entry__.py``); their
oracle parity is now checked only by tests/test_entry.py.
``queries`` holds the operators that had a driver row, ``extra_queries``
the ones already folded out of it; ``simhash_pairs`` is rows-only
(xxhash64 signatures have no SQL twin; its recall is gated by
``simhash_planted_recall``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from corpusops import harness as H
from corpusops import harness_text as HT


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH candidates, exact-Jaccard verified: the planted
    near-dups sit far above the 0.5 S-curve threshold, so the output
    must equal the exact inverted-index result."""
    from corpusops.textops import dedup

    return dedup.minhash_lsh_pairs(HT.derive_corpus(spark, sf_dir), threshold=0.6)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """9 chunk buckets (max_hamming=8: pigeonhole needs d+1)."""
    from corpusops.textops import dedup

    return dedup.simhash_near_pairs(HT.derive_corpus(spark, sf_dir), max_hamming=8)


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probing 4 of 8 cells must still recover the exact top-10."""
    from corpusops.textops import simsearch

    emb = HT.load(spark, sf_dir, "embeddings")
    cents = simsearch.seed_centroids(emb, n_cells=8)
    return simsearch.ivf_topk(emb, cents, query_id=0, k=10, n_probe=4)


def q_pandas_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from corpusops.textops import simsearch

    return simsearch.pandas_cosine_topk(HT.load(spark, sf_dir, "embeddings"), 0, k=10)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "simhash_planted_recall": HT.q_simhash_planted_recall,
        "ivf_ann_topk": q_ivf_ann_topk,
        "embed_neardup_lsh": HT.q_embed_neardup_lsh,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "seq_e2e_train_plan": HT.q_seq_e2e_train_plan,
        "seq_mixture_sample": HT.q_seq_mixture_sample,
        "seq_unigram_logprob": HT.q_seq_unigram_logprob,
        "seq_pack_epoch": HT.q_seq_pack_epoch,
        "events_asof_bucketed": HT.q_events_asof_bucketed,
        "seq_pack_tokens": HT.q_seq_pack_tokens,
        "doc_repetition": HT.q_doc_repetition,
        "seq_winnow_pairs": H.q_seq_winnow_pairs,
        "seq_pack_audit": HT.q_seq_pack_audit,
        "seq_token_remap": H.q_seq_token_remap,
        "doc_datacard": HT.q_doc_datacard,
        "seq_token_contamination": H.q_seq_token_contamination,
        "dedup_keep_best": HT.q_dedup_keep_best,
        "doc_incremental_dedup": HT.q_doc_incremental_dedup,
        "doc_pii_scrub": HT.q_doc_pii_scrub,
        "seq_stats": H.q_seq_stats,
        "seq_drift_psi": H.q_seq_drift_psi,
        "seq_vocab_by_source": H.q_seq_vocab_by_source,
        "seq_heavy_hitters": H.q_seq_heavy_hitters,
        "seq_quantiles_approx": HT.q_seq_quantiles_approx,
        "semdedup": HT.q_semdedup,
        "split_leakage": HT.q_split_leakage,
        "doc_weighted_sample": HT.q_doc_weighted_sample,
        "events_rate_spikes": HT.q_events_rate_spikes,
        "ivf_kmeans_centroids": HT.q_ivf_kmeans_centroids,
        "doc_contamination": HT.q_doc_contamination,
        "doc_curation_lsh": HT.q_doc_curation_lsh,
        "events_completeness": HT.q_events_completeness,
        "events_histogram": HT.q_events_histogram,
        "lineitem_referential": HT.q_lineitem_referential,
        "outcome_counts": HT.q_outcome_counts,
        "doc_gopher": HT.q_doc_gopher,
        "events_sessions": HT.q_events_sessions,
        "lineitem_range_join": HT.q_lineitem_range_join,
        "events_rollup": HT.q_events_rollup,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "simhash_planted_recall": HT.oracle_simhash_planted_recall(),
        "ivf_ann_topk": HT.oracle_ann_topk(),
        "embed_neardup_lsh": HT.oracle_embed_neardup_lsh(),
        "minhash_lsh_pairs": HT.oracle_doc_ngram_jaccard(),
        "seq_e2e_train_plan": HT.oracle_seq_e2e_train_plan(),
        "seq_mixture_sample": HT.oracle_seq_mixture_sample(),
        "seq_unigram_logprob": HT.oracle_seq_unigram_logprob(),
        "seq_pack_epoch": HT.oracle_seq_pack_epoch(),
        "events_asof_bucketed": HT.oracle_events_asof(),
        "seq_pack_tokens": HT.oracle_seq_pack_tokens(),
        "doc_repetition": HT.oracle_doc_repetition(),
        "seq_winnow_pairs": H.oracle_seq_winnow_pairs(),
        "seq_pack_audit": HT.oracle_seq_pack_audit(),
        "seq_token_remap": H.oracle_seq_token_remap(),
        "doc_datacard": HT.oracle_doc_datacard(),
        "seq_token_contamination": H.oracle_seq_token_contamination(),
        "dedup_keep_best": HT.oracle_dedup_keep_best(),
        "doc_incremental_dedup": HT.oracle_doc_incremental_dedup(),
        "doc_pii_scrub": HT.oracle_doc_pii_scrub(),
        "seq_stats": H.oracle_seq_stats(),
        "seq_drift_psi": H.oracle_seq_drift_psi(),
        "seq_vocab_by_source": H.oracle_seq_vocab_by_source(),
        "seq_heavy_hitters": H.oracle_seq_heavy_hitters(),
        "seq_quantiles_approx": HT.oracle_seq_quantiles_approx(),
        "semdedup": HT.oracle_semdedup(),
        "split_leakage": HT.oracle_split_leakage(),
        "doc_weighted_sample": HT.oracle_doc_weighted_sample(),
        "events_rate_spikes": HT.oracle_events_rate_spikes(),
        "ivf_kmeans_centroids": HT.oracle_ivf_kmeans_centroids(),
        "doc_contamination": HT.oracle_doc_contamination(),
        "doc_curation_lsh": HT.oracle_doc_curation(),
        "events_completeness": HT.oracle_events_completeness(),
        "events_histogram": HT.oracle_events_histogram(),
        "lineitem_referential": HT.oracle_lineitem_referential(),
        "outcome_counts": HT.oracle_outcome_counts(),
        "doc_gopher": HT.oracle_doc_gopher(),
        "events_sessions": HT.oracle_events_sessions(),
        "lineitem_range_join": HT.oracle_lineitem_range_join(),
        "events_rollup": HT.oracle_events_rollup(),
    }


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "embed_cosine_pairs": HT.q_embed_cosine_pairs,
        "pandas_ann_topk": q_pandas_ann_topk,
        "simhash_pairs": q_simhash_pairs,
        "doc_curation": HT.q_doc_curation,
        "seq_pack_offsets": HT.q_seq_pack_offsets,
        "lineitem_uniqueness": HT.q_lineitem_uniqueness,
        "customer_format": HT.q_customer_format,
        "seq_vocab_topk": H.q_seq_vocab_topk,
        "doc_token_count": HT.q_doc_token_count,
        "seq_pack_by_source": HT.q_seq_pack_by_source,
        "seq_quantiles": HT.q_seq_quantiles,
        "events_asof": HT.q_events_asof,
        "doc_fingerprint": HT.q_doc_fingerprint,
        "doc_pii": HT.q_doc_pii,
        "media_frame_plan": HT.q_media_frame_plan,
        "media_audio_chunks": HT.q_media_audio_chunks,
        "ann_topk": HT.q_ann_topk,
        "doc_chunk_dedup": HT.q_doc_chunk_dedup,
        "knn_label_vote": HT.q_knn_label_vote,
        "embed_profile": HT.q_embed_profile,
        "seq_length_buckets": H.q_seq_length_buckets,
        "seq_stratified_sample": H.q_seq_stratified_sample,
        "seq_shard_plan": H.q_seq_shard_plan,
        "seq_interleave_plan": H.q_seq_interleave_plan,
        "cross_source_dups": HT.q_cross_source_dups,
        "seq_score_top": H.q_seq_score_top,
        "dedup_cluster_split": HT.q_dedup_cluster_split,
        "seq_ntok_outliers": H.q_seq_ntok_outliers,
        "seq_window_chunks": H.q_seq_window_chunks,
        "seq_vocab_prune": H.q_seq_vocab_prune,
        "seq_pack_spans": HT.q_seq_pack_spans,
        "doc_quality": HT.q_doc_quality,
        "doc_langid": HT.q_doc_langid,
        "doc_split": HT.q_doc_split,
        "seq_dup_spans": H.q_seq_dup_spans,
        "seq_dup_scrub": H.q_seq_dup_scrub,
        "content_flags": HT.q_content_flags,
        "lineitem_structural": HT.q_lineitem_structural,
        "seq_bigram_logprob": HT.q_seq_bigram_logprob,
        "embed_quantize": HT.q_embed_quantize,
        "ann_recall": HT.q_ann_recall,
        "embed_drift": HT.q_embed_drift,
        "seq_clustering_audit": H.q_seq_clustering_audit,
        "seq_zorder_key": H.q_seq_zorder_key,
        "events_funnel": HT.q_events_funnel,
        "seq_pmi_pairs": HT.q_seq_pmi_pairs,
        "doc_boilerplate": HT.q_doc_boilerplate,
        "doc_dsir": HT.q_doc_dsir,
        "hard_negatives": HT.q_hard_negatives,
        "source_tfidf": HT.q_source_tfidf,
        "dedup_clusters": HT.q_dedup_clusters,
        "doc_ngram_jaccard": HT.q_doc_ngram_jaccard,
        "doc_exact_dup": HT.q_doc_exact_dup,
        "ann_batch_topk": HT.q_ann_batch_topk,
    }


def extra_oracle_sql() -> dict[str, str]:
    return {
        "embed_cosine_pairs": HT.oracle_embed_cosine_pairs(),
        "pandas_ann_topk": HT.oracle_ann_topk(),
        "doc_curation": HT.oracle_doc_curation(),
        "seq_pack_offsets": HT.oracle_seq_pack_offsets(),
        "lineitem_uniqueness": HT.oracle_lineitem_uniqueness(),
        "customer_format": HT.oracle_customer_format(),
        "seq_vocab_topk": H.oracle_seq_vocab_topk(),
        "doc_token_count": HT.oracle_doc_token_count(),
        "seq_pack_by_source": HT.oracle_seq_pack_by_source(),
        "seq_quantiles": HT.oracle_seq_quantiles(),
        "events_asof": HT.oracle_events_asof(),
        "doc_fingerprint": HT.oracle_doc_fingerprint(),
        "doc_pii": HT.oracle_doc_pii(),
        "media_frame_plan": HT.oracle_media_frame_plan(),
        "media_audio_chunks": HT.oracle_media_audio_chunks(),
        "ann_topk": HT.oracle_ann_topk(),
        "doc_chunk_dedup": HT.oracle_doc_chunk_dedup(),
        "knn_label_vote": HT.oracle_knn_label_vote(),
        "embed_profile": HT.oracle_embed_profile(),
        "seq_length_buckets": H.oracle_seq_length_buckets(),
        "seq_stratified_sample": H.oracle_seq_stratified_sample(),
        "seq_shard_plan": H.oracle_seq_shard_plan(),
        "seq_interleave_plan": H.oracle_seq_interleave_plan(),
        "cross_source_dups": HT.oracle_cross_source_dups(),
        "seq_score_top": H.oracle_seq_score_top(),
        "dedup_cluster_split": HT.oracle_dedup_cluster_split(),
        "seq_ntok_outliers": H.oracle_seq_ntok_outliers(),
        "seq_window_chunks": H.oracle_seq_window_chunks(),
        "seq_vocab_prune": H.oracle_seq_vocab_prune(),
        "seq_pack_spans": HT.oracle_seq_pack_spans(),
        "doc_quality": HT.oracle_doc_quality(),
        "doc_langid": HT.oracle_doc_langid(),
        "doc_split": HT.oracle_doc_split(),
        "seq_dup_spans": H.oracle_seq_dup_spans(),
        "seq_dup_scrub": H.oracle_seq_dup_scrub(),
        "content_flags": HT.oracle_content_flags(),
        "lineitem_structural": HT.oracle_lineitem_structural(),
        "seq_bigram_logprob": HT.oracle_seq_bigram_logprob(),
        "embed_quantize": HT.oracle_embed_quantize(),
        "ann_recall": HT.oracle_ann_recall(),
        "embed_drift": HT.oracle_embed_drift(),
        "seq_clustering_audit": H.oracle_seq_clustering_audit(),
        "seq_zorder_key": H.oracle_seq_zorder_key(),
        "events_funnel": HT.oracle_events_funnel(),
        "seq_pmi_pairs": HT.oracle_seq_pmi_pairs(),
        "doc_boilerplate": HT.oracle_doc_boilerplate(),
        "doc_dsir": HT.oracle_doc_dsir(),
        "hard_negatives": HT.oracle_hard_negatives(),
        "source_tfidf": HT.oracle_source_tfidf(),
        "dedup_clusters": HT.oracle_dedup_clusters(),
        "doc_ngram_jaccard": HT.oracle_doc_ngram_jaccard(),
        "doc_exact_dup": HT.oracle_doc_exact_dup(),
        "ann_batch_topk": HT.oracle_ann_batch_topk(),
    }
