"""Declared query surface (SURVEY §2.8) + LLM-pipeline extensions.

Importing this package populates the registry; ``__spark_entry__.py`` exposes
it to the driver.
"""

from .registry import QUERIES, ORACLE_SQL, query  # noqa: F401
from . import relational  # noqa: F401,E402
from . import relational2  # noqa: F401,E402
from . import relational3  # noqa: F401,E402
from . import arrays_ml  # noqa: F401,E402
from . import extensions  # noqa: F401,E402
from . import extensions2  # noqa: F401,E402
from . import extensions3  # noqa: F401,E402
from . import extensions4  # noqa: F401,E402
from . import extensions5  # noqa: F401,E402
from . import extensions6  # noqa: F401,E402
from . import extensions7  # noqa: F401,E402
from . import extensions8  # noqa: F401,E402
from . import extensions9  # noqa: F401,E402
from . import extensions10  # noqa: F401,E402
from . import extensions11  # noqa: F401,E402
from . import extensions12  # noqa: F401,E402
from . import extensions13  # noqa: F401,E402
from . import extensions14  # noqa: F401,E402
from . import extensions15  # noqa: F401,E402
from . import extensions16  # noqa: F401,E402
from . import extensions17  # noqa: F401,E402
from . import extensions18  # noqa: F401,E402
from . import extensions19  # noqa: F401,E402
from . import extensions20  # noqa: F401,E402
from . import drift  # noqa: F401,E402

# The external correctness harness evaluates at most the first 50
# registered queries per round, so registration is rotated to put every
# query without a green row first (relative order is kept within each
# group). A name is listed only if some CORRECTNESS_r*.json round holds
# a fully green row for it (tests/test_contract.py checks this). A change to what
# a query returns or to its oracle takes its name off, so it floats
# forward for a fresh row; a refactor that keeps both keeps it listed.
_ATTESTED_PRIOR_ROUNDS = frozenset({
    "q01_scan_project_cast", "q02_filter_predicate", "q03_clean_text",
    "q04_word_count_topk", "q05_topk_tiebreak", "q06_inner_join",
    "q07_multi_join_agg", "q08_left_outer_join", "q09_semi_join",
    "q10_anti_join", "q11_broadcast_dim_join", "q12_grouped_agg",
    "q13_count_distinct", "q14_rollup", "q15_confusion_matrix_shape",
    "q16_window_rank", "q17_window_running_avg", "q18_window_lag",
    "q19a_intersect", "q19b_except", "q19c_union_all_count", "q20_case_flags",
    "q21_date_parts", "q22_hash_split", "q23_mse", "q24_count_window_mean",
    "q25_ddm_drift_flags", "q26_json_extract", "q27_sessionize",
    "q28_nb_fit_predict", "q29_classification_metrics",
    "q30_sigma_schedule_gate", "q31_linear_map", "q32_poolings",
    "q33_seeded_noise_gate", "q34_time_window", "q35_cube", "q36_percentiles",
    "q37_string_functions", "q38_conditional_scalars",
    "q39_abrupt_drift_experiment", "q40_range_frame", "q41_first_last_nth",
    "q42_array_functions", "q43_asof_join", "q44_range_join_bins", "q45_pivot",
    "q46_grouping_sets", "q47_session_window", "q48_window_distribution",
    "q49_map_functions", "q50_interval_arithmetic", "q51_stats_aggregates",
    "q52_lstm_infer", "q53_correlated_subquery", "q54_unpivot",
    "q55_except_intersect_all", "q56_array_lambdas", "q57_topk_per_group",
    "q58_global_rank", "q59_gradual_drift_experiment",
    "q60_unsupervised_drift_experiment", "q61_mapping_experiment",
    "x01_dedup_exact", "x02_dedup_fingerprint", "x03_minhash_bands",
    "x04_minhash_pairs", "x05_simhash", "x06_ngram_jaccard",
    "x08_similarity_ann_lsh", "x09_embedding_near_dup",
    "x101_takedown_verdict", "x102_index_compaction_verdict",
    "x103_finetune_adaptation_audit", "x105_ivf_compaction_verdict",
    "x106_tsne_projection", "x107_mp4_metadata", "x108_lstm_finetune_session",
    "x109_rag_retrieval", "x10_text_stats", "x116_mlp_mapping_session",
    "x117_shard_export", "x118_leakage_safe_split", "x11_text_quality",
    "x120_shard_layout_verdict", "x121_epoch_composition",
    "x122_two_level_reshard", "x123_training_build_materialized",
    "x124_shard_stream_loader", "x125_train_from_shards_nb",
    "x126_train_from_shards_lstm", "x127_shard_stream_resume",
    "x128_epoch_reshard_training", "x129_multi_epoch_training", "x12_lang_id",
    "x13_rolling_fingerprint", "x14_multimodal_features", "x15_similarity_ivf",
    "x16_regex_tokens", "x17_tfidf_topk", "x18_bloom_join_filter",
    "x19_cms_heavy_hitters", "x20_stratified_sample", "x21_salted_skew_join",
    "x22_table_profile", "x23_dedup_clusters", "x24_vocab_encode",
    "x25_changelog_upsert", "x26_pii_scrub", "x27_length_histogram",
    "x28_bigram_topk", "x29_vector_quantize", "x30_time_rollup",
    "x31_event_funnel", "x32_cohort_retention", "x33_fuzzy_join",
    "x34_mad_outliers", "x36_lstm_sequence", "x37_bm25_topk",
    "x38_weighted_sample", "x39_sliding_window", "x40_ewma", "x41_table_diff",
    "x42_pca_project", "x43_audio_frames", "x44_image_resize",
    "x45_similarity_ivf_multiprobe", "x46_quality_filter",
    "x47_repetition_signals", "x48_decontaminate", "x49_containment_pairs",
    "x50_centroid_shift", "x51_quality_drift_monitor",
    "x52_semantic_dedup_clusters", "x53_sequence_packing",
    "x54_model_quality_filter", "x55_curation_pipeline", "x56_winsorize",
    "x57_page_hinkley", "x58_kmeans_cells", "x59_kmeans_ivf_topk",
    "x60_lm_perplexity", "x61_source_mixing", "x62_crossdoc_ngrams",
    "x63_doc_chunking", "x64_mmd_drift", "x65_ks_drift", "x66_chunk_dedup",
    "x67_zorder_key", "x68_bpe_merges", "x69_oov_rate",
    "x70_data_expectations", "x71_textrank", "x72_drift_dashboard",
    "x73_quantile_drift", "x74_token_mixing", "x75_dedup_savings",
    "x76_incremental_dedup", "x77_source_cap", "x78_png_features",
    "x79_index_probe", "x80_neardup_decontam", "x81_boilerplate_strip",
    "x82_cdc_chunks", "x83_ann_recall", "x84_prefix_jaccard_join",
    "x86_join_size_estimate", "x87_quantized_recall",
    "x88_minhash_recall_audit", "x89_hll_rollup",
    "x90_adaptive_similarity_join", "x91_sampled_recall_audit",
    "x92_transformer_embed", "x93_winsorize_approx_audit",
    "x94_ivf_index_lifecycle", "x95_ivf_occupancy_audit",
    "x97_transformer_semantic_shift", "x98_curation_stream_verdict",
    "x99_upsert_stream_verdict",
})


def _rotate_unattested_first() -> None:
    ordered = sorted(QUERIES, key=lambda n: n in _ATTESTED_PRIOR_ROUNDS)
    for mapping in (QUERIES, ORACLE_SQL):
        snapshot = {n: mapping[n] for n in ordered if n in mapping}
        mapping.clear()
        mapping.update(snapshot)


_rotate_unattested_first()

__all__ = ["QUERIES", "ORACLE_SQL", "query"]
