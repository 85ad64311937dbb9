"""Named-query registry — the driver contract surface.

Every implemented operator from SURVEY.md §2 registers here as a named
query ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) the
equivalent DuckDB oracle SQL. ``__spark_entry__.py`` re-exports this
registry verbatim.

Determinism rules (so the order-insensitive value-hash matches):
- every float column is ``round(x, 6)`` (or decimal-summed then cast) on
  BOTH sides;
- every top-k uses ``row_number`` with a total order (explicit tie-break);
- column aliases are identical on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a named query; ``oracle=None`` marks a non-SQL-expressible
    operator (driver falls back to a rows-only check)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


# Driver-check priority. The correctness harness verifies a PREFIX of the
# registry (the first 50 registered names), so iteration order decides
# which queries get a driver row. The order applies one rule: queries new
# since the last driver check first, then queries whose implementation
# changed, then the rest by staleness (oldest newest-stamp first, from the
# folded CORRECTNESS_r*.json ledger). Names past the prefix were
# hash-green at their newest driver check and stay covered by
# tests/test_oracle_parity.py.
PRIORITY: tuple[str, ...] = (
    "h25_cpu_scaling_probe",
    "d28_compaction_arrival_scrub", "ep15_source_drop_impact",
    "m11_lloyd_elbow_exact", "cur2_component_survivors",
    "cur11_semantic_survivors", "cur7_length_survivorship",
    "g5_grouping_sets_profile", "h11_dormant_high_balance",
    "h12_two_nation_volume", "h13_market_share",
    "h14_top_supplier_revenue", "h15_small_qty_revenue",
    "h16_disjunctive_revenue", "h17_sole_final_supplier",
    "h18_nation_profit", "m8_cluster_stability",
    "mix5_mixture_entropy", "mm6_audio_frame_profile",
    "n12_ann_multitable_recall", "n13_ann_table_sweep",
    "n14_ann_margin", "p10_data_quality_profile",
    "s12_dynamic_partition_overwrite", "s13_upsert_latest_wins",
    "s14_snapshot_diff", "s15_schema_evolution_scan",
    "t10_balanced_shards", "v12_vocab_coverage",
    "w12_weekday_hour_heatmap", "w13_interevent_quantiles",
    "w14_activity_gini", "x20_term_burstiness",
    "x21_heaps_law", "x22_lexical_diversity",
    "x23_langid_confusion", "x24_template_families",
    "n6_embedding_dedup_groups", "ep2_build_models",
    "st4_stream_stateful_user_stats", "m5_refine_pipeline",
    "s1_scan_projection", "p2_derived_concat",
    "p3_hash_sample", "p4_filter_nonempty",
    "p6_group_count_having", "a6_distinct",
    "a9_max_watermark", "t2_topk_per_group",
    "j1_broadcast_lookup_join", "j2_dense_rank_renumber",
    "m10_lloyd_deterministic", "n23_deterministic_ivf_topk",
    "v13_bpe_compression_curve", "h21_min_cost_supplier",
    "h22_supplier_diversity", "h23_important_part_share",
    "h24_dominant_seasonal_supplier", "cur17_bloom_sizing_sweep",
    "cur15_decontamination_impact", "d20_lsh_band_sweep",
    "d21_jaccard_threshold_sweep", "ep10_release_roadmap",
    "cur14_bloom_decontamination", "d12_cross_source_dups",
    "c1_cluster_term_scores", "c6_prob_coherence",
    "c7_quality_summary", "l2_cluster_labels",
    "n10_int8_quantization", "d27_cross_source_exposure",
    "d26_boilerplate_contagion", "st17_stream_span_scrub",
    "d24_span_scrub", "d25_cascade_quality_survivors",
    "ep14_scrub_budget_roadmap", "h6_order_priority_check",
    "h7_promo_revenue_share", "h8_returned_revenue_ranking",
    "d15_duplicate_spans", "t9_zorder_layout",
    "mm5_image_phash_groups", "x19_readability",
    "v8_count_min_heavy_hitters", "st9_stream_sliding_counts",
    "j10_salted_skew_join", "mix4_train_val_test_split",
    "d16_minhash_estimate_audit", "w11_rate_bursts",
    "n11_ann_recall_audit", "h9_customer_distribution",
    "h10_large_volume_customers", "pack2_overlap_chunking",
    "v9_bpe_merge_candidates", "v10_bpe_learned_merges",
    "v11_bpe_token_budget", "s11_small_file_compaction",
    "l3_inference_cost_report", "f13_html_strip",
    "m7_kmeans_elbow", "w16_cusum_changepoint",
    "s16_orc_roundtrip", "v14_oov_by_source",
    "cur9_split_leakage", "mix6_weighted_sample",
    "mm7_image_channel_stats", "cur5_passage_dedup",
    "mix2_stratified_quota", "x12_char_entropy",
    "t7_training_shards", "w6_decayed_engagement",
    "s9_bucketed_join_roundtrip", "d11_containment_pairs",
    "x13_zipf_profile", "w7_cohort_retention",
    "n7_prototype_confusion", "st8_stream_static_join",
    "x14_source_divergence", "mm3_audio_features",
    "mm4_video_features", "g3_cube_profile",
    "cur6_passage_scrub", "w8_value_outliers",
    "s10_jsonl_roundtrip", "n8_prototype_silhouette",
    "x15_zipf_alpha", "f12_fuzzy_term_variants",
    "ep4_curation_to_shards", "x16_pmi_collocations",
    "w9_gap_filled_daily", "p9_length_deciles",
    "u4_vocab_difference", "m6_quality_classifier",
    "w10_ordered_funnel", "mix3_temperature_weights",
    "x17_hapax_rate", "x18_word_length_outliers",
    "n9_norm_outliers", "j9_transition_matrix",
    "d14_source_dup_rates", "h3_shipping_priority",
    "h4_forecast_revenue", "h5_local_supplier_volume",
    "g4_salted_distinct_users", "v7_feature_hashing",
    "j5_semi_anti_join", "u1_union_all",
    "f1_clean_text", "f6_stopword_removal",
    "f8_regex_extract", "f11_json_decode",
    "st12_stream_drift_gate", "cur10_incremental_neardup",
    "d19_shingle_df_audit", "n16_hard_negatives",
    "s17_tombstone_delete", "s18_textlines_roundtrip",
    "n17_ann_hard_negatives", "st13_stream_neardup_admission",
    "s19_textlines_gzip_roundtrip", "cur12_versioned_admission",
    "cur13_decontamination_sweep", "h20_late_shipping_priority",
    "w17_trailing_range_stats", "mix8_epoch_upsampling",
    "v15_subword_fertility", "st14_stream_outer_join",
    "n18_pq_adc_audit", "n19_ivfpq_audit",
    "l5_batched_inference_plan", "x1_token_stats",
    "x2_quality_scores", "x3_language_id",
    "x4_fingerprint", "w1_tumbling_window_agg",
    "w2_sessionization", "w3_conditional_agg_funnel",
    "d7_jaccard_pairs", "n1_ann_brute_topk",
    "n2_srp_buckets", "n3_ann_lsh_topk",
    "n4_embedding_near_dups", "st1_stream_window_counts",
    "st2_stream_sessionize", "st5_stream_dedup",
    "st6_stream_stream_join", "mix1_source_mixing_sample",
    "x7_language_length_quantiles", "w5_asof_attribution",
    "g2_event_type_pivot", "s8_partitioned_sink_roundtrip",
    "j6_range_band_join", "u3_union_mixed_schemas",
    "t6_range_partitioned_export", "v4_vocab_top2000",
    "cur18_ngram_decontamination_sweep", "st15_stream_semantic_admission",
    "n21_srp_multiprobe_recall", "ep11_release_diff_card",
    "cur16_neardup_split_leakage", "n20_embedding_health",
    "s20_schema_evolution_read", "ep9_mixture_roadmap",
    "mix7_target_mixture_weights", "ep3_phase1_pipeline",
    "x8_approx_profile", "d3_lsh_candidate_pairs",
    "d4_minhash_dedup", "cur3_decontaminate",
    "d10_neardup_components", "d17_lsh_precision",
    "ep5_dedup_split_shards", "ep7_dataset_card",
    "st10_stream_dedup_gate", "ep6_stream_ingest_gate",
    "ep8_drift_report", "cur1_corpus_curation",
    "d5_simhash", "d6_simhash_near_dups",
    "h1_lineitem_pricing_summary", "h2_revenue_per_nation",
    "v1_tfidf_ngram", "m2_kmeans_cluster_sizes",
    "l1_enrich_documents", "m4_lda_topic_terms",
    "v5_pos_keywords", "x5_corpus_profile",
    "s3_csv_chunk_roundtrip", "s7_inline_table",
    "p8_threshold_bands", "w4_argmax_per_group",
    "u2_vocab_intersection", "g1_rollup_totals",
    "st3_stream_enrich", "mm1_media_features",
    "t1_sort_topk", "c5_merge_components",
    "d8_jaccard_capped", "n22_srp_probe_budget_sweep",
    "d22_exact_substring_spans", "ep12_data_card_diff",
    "d23_dedup_cascade", "st16_stream_cascade_admission",
    "ep13_dedup_budget_roadmap", "mix9_budget_waterfill",
    "n5_ann_ivf_topk", "mm2_frame_samples",
    "x6_subword_counts", "m1_kmeans_assignments",
    "m3_kmeans_predict_new_docs", "s5_model_roundtrip",
    "v2_term_counts", "v3_tfidf_unigram",
    "v6_doc_top_terms", "c2_group_centroids",
    "c3_group_withinss", "c4_centroid_cosine_pairs",
    "d1_exact_dup_groups", "d2_minhash_signatures",
    "x9_repetition_quality", "x10_pii_redaction",
    "pack1_token_budget_packing", "cur4_incremental_dedup",
    "st7_stream_curation_gate", "x11_unigram_logprob",
    "d9_simhash_banded_near_dups", "p11_referential_integrity",
    "st11_stream_type_totals", "l4_llm_cache_report",
    "w15_daily_autocorr", "x25_lexicon_screen",
    "n15_ivf_nprobe_sweep", "u5_vocab_symmetric_diff",
    "j13_coactivity_pairs", "x26_crosslang_dups",
    "h19_ship_latency_quantiles", "x27_effective_tokens",
    "d18_component_size_histogram", "x28_length_drift_ks",
    "pack3_packing_efficiency", "m9_classifier_threshold_sweep",
    "x29_token_psi", "g6_source_lang_chi2",
    "cur8_dedup_quality_interaction",
)


# Importing the query modules populates the registry.
def _load_all() -> None:
    from . import queries_relational  # noqa: F401
    from . import queries_text  # noqa: F401
    from . import queries_dedup  # noqa: F401
    from . import queries_similarity  # noqa: F401
    from . import queries_events  # noqa: F401
    from . import queries_cluster  # noqa: F401
    from . import queries_ml  # noqa: F401
    from . import queries_llm  # noqa: F401
    from . import queries_stream  # noqa: F401
    from . import queries_multimodal  # noqa: F401
    from . import queries_misc  # noqa: F401

    order = [n for n in PRIORITY if n in QUERIES]
    order += [n for n in QUERIES if n not in set(order)]  # safety net for new names
    for d in (QUERIES, ORACLE_SQL):
        reordered = {n: d[n] for n in order if n in d}
        d.clear()
        d.update(reordered)
