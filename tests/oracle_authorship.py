"""Oracle-authorship registry — the r10 closure of the BPE lesson
(r9 verdict item 2).

`text_bpe_merges` sat driver-green for two rounds on wrong merge
semantics because its DuckDB oracle REPLAYED the implementation's own
identity: a shared wrong assumption is invisible to a side-by-side
gate.  This registry records, for every declared query, where its
oracle's semantics COME FROM:

* ``independent`` — the oracle SQL is derivable from a public
  specification without reading the engine: TPC-H query text, the SQL
  standard's own operator semantics (ROLLUP/CUBE/window frames/set
  ops), or a literature formula with standard constants (Shannon
  entropy, PMI, interpolated percentiles).  Both engines implement the
  spec independently, so a shared-assumption defect has no channel.
* ``replay`` — the oracle transcribes engine-specific choices (md5
  coins and shingle rules, the quantized-cosine contract, sketch
  register maps, closed-form CDC resolutions, chunk boundaries,
  codebook training) so the driver gate proves only Spark↔DuckDB plan
  agreement.  Every such entry MUST cite an independent verification
  leg — a scalar/literature model property in tests/ (the
  test_bpe_properties.py pattern), hypothesis-driven where the family
  admits it — and tests/test_oracle_authorship.py mechanically checks
  the citation resolves to a real test.
* ``none`` — no DuckDB oracle exists (rows-only driver check); the
  entry states why and what stands in.

Evidence strings are "tests/<file>::<test>" or
"tests/<file>::<Class>::<method>"; anything after the first space is
commentary.  Keep this registry in the same commit as any oracle or
query change — the gate fails on unclassified queries.
"""

from __future__ import annotations

INDEPENDENT = "independent"
REPLAY = "replay"
NONE = "none"

_TPCH = "TPC-H specification query text (public spec; DuckDB side is the spec's own SQL)"
_SQLSTD = "SQL-standard operator semantics (both engines implement the standard independently)"

AUTHORSHIP: dict[str, tuple[str, str]] = {
    # ---- TPC-H block: the oracle IS the public spec's SQL ----
    "q1_pricing_summary": (INDEPENDENT, _TPCH),
    "q2_min_cost_supplier": (INDEPENDENT, _TPCH),
    "q3_shipping_priority": (INDEPENDENT, _TPCH),
    "q4_order_priority": (INDEPENDENT, _TPCH),
    "q5_region_revenue": (INDEPENDENT, _TPCH),
    "q6_forecast_revenue": (INDEPENDENT, _TPCH),
    "q7_volume_shipping": (INDEPENDENT, _TPCH),
    "q8_market_share": (INDEPENDENT, _TPCH),
    "q9_product_profit": (INDEPENDENT, _TPCH),
    "q10_returned_items": (INDEPENDENT, _TPCH),
    "q11_important_stock": (INDEPENDENT, _TPCH),
    "q12_shipping_lag": (INDEPENDENT, _TPCH),
    "q13_customer_distribution": (INDEPENDENT, _TPCH),
    "q15_top_supplier": (INDEPENDENT, _TPCH),
    "q16_parts_supplier_count": (INDEPENDENT, _TPCH),
    "q17_small_qty_revenue": (INDEPENDENT, _TPCH),
    "q18_large_volume_customers": (INDEPENDENT, _TPCH),
    "q19_discounted_revenue": (INDEPENDENT, _TPCH),
    "q20_excess_supply": (INDEPENDENT, _TPCH),
    "q21_waiting_suppliers": (INDEPENDENT, _TPCH),
    "q22_sales_opportunity": (INDEPENDENT, _TPCH),
    "promo_revenue": (INDEPENDENT, _TPCH + " (Q14)"),
    # ---- SQL-standard breadth block ----
    "top_orders": (INDEPENDENT, _SQLSTD),
    "customer_order_rank": (INDEPENDENT, _SQLSTD),
    "customers_set_ops": (INDEPENDENT, _SQLSTD),
    "orders_rollup": (INDEPENDENT, _SQLSTD),
    "orders_grouping_sets": (INDEPENDENT, _SQLSTD),
    "orders_rank_report": (INDEPENDENT, _SQLSTD),
    "orders_cube": (INDEPENDENT, _SQLSTD),
    "orders_pivot": (INDEPENDENT, _SQLSTD),
    "orders_by_year": (INDEPENDENT, _SQLSTD),
    "lineitem_distinct_stats": (INDEPENDENT, _SQLSTD),
    "supplier_min_acctbal": (INDEPENDENT, _SQLSTD),
    "events_topk_per_type": (INDEPENDENT, _SQLSTD),
    "big_orders_having": (INDEPENDENT, _SQLSTD),
    "conditional_agg": (INDEPENDENT, _SQLSTD),
    "customers_without_orders": (INDEPENDENT, _SQLSTD),
    "orders_above_cust_avg": (INDEPENDENT, _SQLSTD),
    "customers_with_orders_semi": (INDEPENDENT, _SQLSTD),
    "events_running_total": (INDEPENDENT, _SQLSTD),
    "events_type_stats": (INDEPENDENT, _SQLSTD),
    "orders_lag_gap": (INDEPENDENT, _SQLSTD),
    "events_range_frame": (INDEPENDENT, _SQLSTD),
    "events_moving_avg": (INDEPENDENT, _SQLSTD),
    "events_range_join": (INDEPENDENT, _SQLSTD + "; inequality-predicate join"),
    "events_hourly": (INDEPENDENT, _SQLSTD + "; date_trunc bucketing"),
    "events_active_users": (INDEPENDENT, _SQLSTD + "; distinct users per bucket"),
    "events_value_profile": (
        INDEPENDENT,
        "linear-interpolated percentile (literature definition; Spark "
        "percentile and DuckDB quantile_cont are independent implementations)",
    ),
    # ---- events analytics: engine-defined rules, scalar-replay models ----
    "events_sessionize": (REPLAY, "tests/test_sessionize_properties.py::test_batch_sessionize_matches_gap_fold"),
    "events_funnel": (REPLAY, "tests/test_funnel_properties.py::test_funnel_matches_per_user_replay"),
    "events_funnel_windowed": (REPLAY, "tests/test_funnel_properties.py::test_windowed_funnel_matches_per_user_replay"),
    "events_retention_cohorts": (REPLAY, "tests/test_analytics_properties.py::test_retention_cohorts_match_distinct_user_day_replay"),
    "events_transitions": (REPLAY, "tests/test_analytics_properties.py::test_transitions_match_per_user_replay"),
    "events_attribution": (REPLAY, "tests/test_analytics_properties.py::test_attribution_matches_backward_scan_replay"),
    "events_cohort_ltv": (REPLAY, "tests/test_analytics_properties.py::test_cohort_ltv_matches_per_user_replay"),
    "events_time_to_convert": (REPLAY, "tests/test_analytics_properties.py::test_time_to_convert_matches_rank_quantile_replay"),
    "events_quantile_sketch": (REPLAY, "tests/test_analytics_properties.py::test_quantile_sketch_matches_rank_and_bin_replay"),
    "events_value_histogram": (REPLAY, "tests/test_analytics_properties.py::test_value_histogram_matches_clamped_bin_replay"),
    "events_zscore_outliers": (REPLAY, "tests/test_analytics_properties.py::test_zscore_outliers_match_moment_replay"),
    "events_mad_outliers": (REPLAY, "tests/test_analytics_properties.py::test_mad_outliers_match_median_replay"),
    "events_user_similarity": (REPLAY, "tests/test_analytics_properties.py::test_user_similarity_matches_profile_cosine_model"),
    "orders_rfm_segments": (REPLAY, "tests/test_analytics_properties.py::test_rfm_segments_match_ntile_rank_replay"),
    "lineitem_copurchase_lift": (REPLAY, "tests/test_analytics_properties.py::test_copurchase_lift_matches_basket_replay"),
    "orders_pareto": (
        INDEPENDENT,
        "Pareto/Gini cumulative-share textbook formulas; directed units "
        "tests/test_r8_ops.py::TestOrdersPareto",
    ),
    "events_wau_hll": (REPLAY, "tests/test_sketch_properties.py::test_hll_registers_match_exact_sketch_replay"),
    "orders_bloom_revenue": (REPLAY, "tests/test_sketch_properties.py::test_bloom_no_false_negatives_and_lossless_prune"),
    "events_zorder_key": (REPLAY, "tests/test_zorder.py::test_morton_key_matches_model_and_is_bijective"),
    "events_asof_join": (REPLAY, "tests/test_asof.py::test_asof_property_random_vs_bruteforce"),
    "events_asof_nearest": (REPLAY, "tests/test_asof_properties.py::test_directional_asof_matches_merge_asof_replay"),
    "events_asof_tolerance": (REPLAY, "tests/test_asof_properties.py::test_directional_asof_matches_merge_asof_replay"),
    "events_sax_candidates": (REPLAY, "tests/test_tsindex_properties.py::test_sax_candidates_match_prefix_bucket_model"),
    "events_sax_recall": (REPLAY, "tests/test_tsindex_properties.py::test_sax_words_match_scalar_isax_model"),
    "events_sax_topk": (REPLAY, "tests/test_tsindex_properties.py::test_sax_words_match_scalar_isax_model"),
    "events_sax_planted": (REPLAY, "tests/test_tsindex_properties.py::test_sax_words_match_scalar_isax_model"),
    # ---- dedup family ----
    "dedup_exact_groups": (INDEPENDENT, "exact text equality (md5 is only an equality proxy)"),
    "dedup_exact_keep": (INDEPENDENT, "exact text equality (md5 is only an equality proxy)"),
    "dedup_ngram_jaccard": (REPLAY, "tests/test_dedup_properties.py::test_jaccard_pairs_match_bruteforce"),
    "dedup_minhash_signatures": (REPLAY, "tests/test_dedup_properties.py::test_minhash_signature_matches_hashlib_model"),
    "dedup_minhash_estimate": (REPLAY, "tests/test_dedup_properties.py::test_minhash_signature_matches_hashlib_model"),
    "dedup_minhash_lsh": (REPLAY, "tests/test_dedup_properties.py::test_lsh_candidates_match_banding_model"),
    "dedup_lsh_recall": (REPLAY, "tests/test_dedup_properties.py::test_lsh_candidates_match_banding_model"),
    "dedup_lsh_incremental": (REPLAY, "tests/test_dedup_properties.py::test_lsh_candidates_match_banding_model"),
    "dedup_simhash": (REPLAY, "tests/test_dedup_properties.py::test_simhash_matches_scalar_majority_model"),
    "dedup_simhash_recall": (REPLAY, "tests/test_dedup_properties.py::test_simhash_candidates_match_rotation_model"),
    "dedup_tfidf_cosine": (REPLAY, "tests/test_dedup_properties.py::test_tfidf_cosine_pairs_match_bruteforce"),
    "dedup_containment": (REPLAY, "tests/test_dedup_properties.py::test_containment_pairs_match_bruteforce"),
    "dedup_decisions": (REPLAY, "tests/test_dedup_properties.py::test_decisions_match_min_keeper_model"),
    "dedup_method_matrix": (REPLAY, "tests/test_dedup_properties.py::test_containment_dominates_jaccard (plus the per-method models)"),
    "dedup_clusters": (REPLAY, "tests/test_dedup_properties.py::test_clusters_match_union_find_model"),
    "dedup_clusters_fast": (REPLAY, "tests/test_dedup_properties.py::test_clusters_match_union_find_model (via test_clusters_fast_equals_plain_propagation)"),
    "dedup_canonical": (REPLAY, "tests/test_dedup_properties.py::test_canonical_matches_argmax_model"),
    "dedup_canonical_quality": (REPLAY, "tests/test_dedup_properties.py::test_canonical_quality_matches_argmax_model (plus the partition invariant)"),
    "dedup_semantic": (REPLAY, "tests/test_clustering_properties.py::test_kmeans_assignments_match_scalar_lloyd_model (cells) + cosine model"),
    "dedup_url_canonical": (REPLAY, "tests/test_textnorm_properties.py::test_canonical_url_matches_re_replay_and_is_idempotent"),
    "dedup_chunk_passages": (REPLAY, "tests/test_sampling_properties.py::test_chunk_documents_equals_sliding_window_model"),
    "dedup_content_chunks": (REPLAY, "tests/test_dedup_properties.py::test_content_chunks_match_scalar_cdc_model"),
    "dedup_rate_by_source": (
        INDEPENDENT,
        "exact-duplicate rate accounting over text equality (definitional "
        "aggregation); directed units tests/test_r8_ops.py::TestDedupRateBySource",
    ),
    # ---- pipeline / sampling family ----
    "pipeline_sample": (REPLAY, "tests/test_dedup_properties.py::test_sample_by_hash_matches_hashlib_coin"),
    "pipeline_quota_sample": (REPLAY, "tests/test_sampling_properties.py::test_quota_sample_equals_md5_rank_model"),
    "pipeline_temperature_mix": (REPLAY, "tests/test_sampling_properties.py::test_temperature_mix_equals_cross_multiplied_model"),
    "pipeline_split": (REPLAY, "tests/test_sampling_properties.py::test_train_split_equals_integer_threshold_model"),
    "pipeline_split_leakage": (REPLAY, "tests/test_sampling_properties.py::test_train_split_equals_integer_threshold_model (split leg) + tests/test_dedup_properties.py::test_lsh_candidates_match_banding_model (leak leg)"),
    "pipeline_weighted_sample": (REPLAY, "tests/test_sampling_properties.py::test_weighted_sample_equals_priority_key_model"),
    "pipeline_ab_assign": (REPLAY, "tests/test_sampling_properties.py::test_ab_assign_audit_total_and_layout_invariant"),
    "pipeline_domain_quota": (REPLAY, "tests/test_sampling_properties.py::test_quota_sample_equals_md5_rank_model"),
    "pipeline_pack_sequences": (REPLAY, "tests/test_sampling_properties.py::test_pack_sequences_equals_scalar_first_fit_model"),
    "pipeline_pack_efficiency": (REPLAY, "tests/test_sampling_properties.py::test_pack_sequences_equals_scalar_first_fit_model"),
    "pipeline_token_budget": (REPLAY, "tests/test_decomposition_properties.py::test_token_budget_global_equals_global_sort (the shared rank-and-cut rule) + tests/test_sampling.py::TestTokenBudgetSelect::test_budget_cut_is_rank_ordered (the per-shard SELECT variant this query actually runs, incl. the exact cum==budget boundary — r11 mutation-verified: the boundary relaxation is caught here, not by the global property)"),
    "pipeline_token_budget_global": (REPLAY, "tests/test_decomposition_properties.py::test_token_budget_global_equals_global_sort"),
    "pipeline_doc_chunks": (REPLAY, "tests/test_sampling_properties.py::test_chunk_documents_equals_sliding_window_model"),
    "pipeline_mixture_rebalance": (REPLAY, "tests/test_sampling_properties.py::test_temperature_mix_equals_cross_multiplied_model"),
    "pipeline_curation": (REPLAY, "tests/test_filtergate_properties.py::test_quality_scores_match_scalar_model (composition of audited stages)"),
    "pipeline_curation_v2": (REPLAY, "tests/test_filtergate_properties.py::test_quality_scores_match_scalar_model (composition of audited stages)"),
    "pipeline_curation_v3": (REPLAY, "tests/test_filtergate_properties.py::test_quality_scores_match_scalar_model (composition of audited stages)"),
    "pipeline_curation_v4": (REPLAY, "tests/test_filtergate_properties.py::test_gopher_quality_matches_scalar_model (composition of audited stages)"),
    "pipeline_curation_v5": (REPLAY, "tests/test_filtergate_properties.py::test_gopher_quality_matches_scalar_model (composition of audited stages)"),
    "pipeline_curation_funnel": (REPLAY, "tests/test_filtergate_properties.py::test_quality_scores_match_scalar_model (composition of audited stages)"),
    # ---- text family ----
    "text_bm25": (REPLAY, "tests/test_bm25_properties.py::test_bm25_matches_scalar_model"),
    "text_dsir": (REPLAY, "tests/test_bm25_properties.py::test_dsir_matches_hashed_bucket_model"),
    "text_perplexity_buckets": (REPLAY, "tests/test_lm_properties.py::test_perplexity_buckets_match_global_sort_replay"),
    "text_exact_substr_trim": (REPLAY, "tests/test_winnow_properties.py::test_exact_substr_trim_matches_full_replay"),
    "text_langid_confusion": (REPLAY, "tests/test_filtergate_properties.py::test_language_id_matches_argmax_model"),
    "text_language_id": (REPLAY, "tests/test_filtergate_properties.py::test_language_id_matches_argmax_model"),
    "text_split_divergence": (
        INDEPENDENT,
        "KL-divergence literature formula over unigram distributions; "
        "directed bounds tests/test_textops.py::TestSplitDivergence",
    ),
    "text_length_quantiles": (REPLAY, "tests/test_decomposition_properties.py::test_length_quantiles_match_rank_definition"),
    "text_tfidf_top_terms": (
        INDEPENDENT,
        "standard TF-IDF (log-idf) formula; ordering units "
        "tests/test_textops.py::TestTfIdf",
    ),
    "text_hll_distinct": (REPLAY, "tests/test_sketch_properties.py::test_hll_registers_match_exact_sketch_replay"),
    "text_cms_topk": (REPLAY, "tests/test_sketch_properties.py::test_cms_cells_match_exact_sketch_replay"),
    "text_bloom_membership": (REPLAY, "tests/test_sketch_properties.py::test_bloom_no_false_negatives_and_lossless_prune"),
    "text_unigram_logprob": (REPLAY, "tests/test_lm_properties.py::test_unigram_logprob_matches_scalar_model"),
    "text_bigram_logprob": (REPLAY, "tests/test_lm_properties.py::test_bigram_logprob_matches_scalar_model"),
    "text_stupid_backoff": (REPLAY, "tests/test_lm_properties.py::test_stupid_backoff_matches_scalar_model"),
    "text_vocab_coverage": (REPLAY, "tests/test_lm_properties.py::test_vocab_coverage_matches_literal_cumsum"),
    "text_quality": (REPLAY, "tests/test_filtergate_properties.py::test_quality_scores_match_scalar_model"),
    "text_gopher_quality": (REPLAY, "tests/test_filtergate_properties.py::test_gopher_quality_matches_scalar_model"),
    "text_c4_lines": (REPLAY, "tests/test_filtergate_properties.py::test_c4_line_filter_matches_scalar_model"),
    "text_c4_badwords": (REPLAY, "tests/test_filtergate_properties.py::test_c4_badwords_matches_hashlib_model"),
    "text_boilerplate_strip": (REPLAY, "tests/test_filtergate_properties.py::test_boilerplate_strip_matches_scalar_model"),
    "text_token_stats": (INDEPENDENT, "whitespace tokenization + counting is definitional"),
    "text_corpus_datasheet": (REPLAY, "tests/test_filtergate_properties.py::test_corpus_datasheet_matches_scalar_cube_model"),
    "text_stem_reduction": (
        INDEPENDENT,
        "Harman (1991) weak S-stemmer published rules; "
        "tests/test_textops.py::TestWeakStem::test_harman_rules",
    ),
    "text_typo_pairs": (
        INDEPENDENT,
        "edit-distance-1 neighborhood (Damerau-Levenshtein definition); "
        "directed units tests/test_textops.py::TestTypoPairs",
    ),
    "text_fingerprint": (REPLAY, "tests/test_dedup_properties.py::test_doc_fingerprint_matches_hashlib_model"),
    "text_fingerprint_groups": (REPLAY, "tests/test_dedup_properties.py::test_doc_fingerprint_matches_hashlib_model"),
    "text_repetition": (
        INDEPENDENT,
        "Gopher repetition ratios (Rae et al. 2021 published definitions); "
        "directed units tests/test_textops.py::TestRepetition",
    ),
    "text_pii_scrub": (REPLAY, "tests/test_textnorm_properties.py::test_pii_scrub_matches_re_replay"),
    "text_url_domains": (INDEPENDENT, "URL host extraction + counting is definitional; units tests/test_textops.py::TestUrlDomainStats"),
    "text_contamination": (REPLAY, "tests/test_dedup_properties.py::test_contamination_check_matches_scalar_set_model"),
    "text_char_entropy": (
        INDEPENDENT,
        "Shannon entropy formula; directed values tests/test_r8_ops.py::TestCharEntropy",
    ),
    "text_zipf_audit": (
        INDEPENDENT,
        "Zipf rank-frequency slope (literature regression formula); "
        "directed values tests/test_r8_ops.py::TestZipfHapax",
    ),
    "text_ngram_novelty": (REPLAY, "tests/test_dedup_properties.py::test_ngram_novelty_matches_scalar_model"),
    "text_pmi_collocations": (
        INDEPENDENT,
        "pointwise mutual information literature formula; directed units "
        "tests/test_textops.py::TestPmiCollocations",
    ),
    "text_topic_clusters": (
        INDEPENDENT,
        "oracle computes components via recursive-CTE reachability closure "
        "— an independent formulation of connectivity, not a propagation "
        "replay; plus tests/test_dedup_properties.py::test_clusters_match_union_find_model for the CC kernel class",
    ),
    "text_top_ngrams": (INDEPENDENT, "n-gram counting is definitional"),
    "text_bpe_merges": (REPLAY, "tests/test_bpe_properties.py::test_bpe_merges_equal_scalar_sennrich_model"),
    "text_bpe_compression": (REPLAY, "tests/test_bpe_properties.py::test_bpe_compression_equals_scalar_model"),
    "text_winnow_candidates": (REPLAY, "tests/test_winnow_properties.py::test_winnow_fingerprints_match_model"),
    "text_dup_span_fraction": (REPLAY, "tests/test_winnow_properties.py::test_dup_span_fraction_matches_full_replay"),
    # ---- similarity / ANN family ----
    "similarity_bruteforce_topk": (REPLAY, "tests/test_similarity_properties.py::test_brute_force_topk_matches_ranked_model"),
    "similarity_ivf_topk": (REPLAY, "tests/test_similarity_properties.py::test_ivf_topk_matches_cell_restricted_model"),
    "similarity_ivf_multiprobe": (REPLAY, "tests/test_similarity_properties.py::test_ivf_multiprobe_matches_scalar_model"),
    "similarity_nprobe_curve": (REPLAY, "tests/test_similarity_properties.py::test_ivf_multiprobe_matches_scalar_model (the swept knob) + tests/test_r8_ops.py::TestNprobeCurve::test_full_probe_is_exact"),
    "similarity_sq8_recall": (REPLAY, "tests/test_similarity_properties.py::test_sq8_topk_matches_scalar_codec_model (full codec+ADC chain) vs model-pinned exact ground truth"),
    "similarity_near_dups": (REPLAY, "tests/test_similarity_properties.py::test_near_dups_match_scalar_banded_model (fully independent hyperplane/banding/rescore replay)"),
    "similarity_cell_centroids": (REPLAY, "tests/test_clustering_properties.py::test_kmeans_assignments_match_scalar_lloyd_model (refit-step arithmetic)"),
    "similarity_kmeans_cells": (REPLAY, "tests/test_clustering_properties.py::test_kmeans_profile_matches_model_aggregate"),
    "similarity_pq_topk": (REPLAY, "tests/test_pq_properties.py::test_pq_topk_equals_scalar_adc_model"),
    "similarity_pq_recall": (REPLAY, "tests/test_pq_properties.py::test_pq_encode_equals_argmin_model"),
    "similarity_opq_recall": (REPLAY, "tests/test_pq_properties.py::test_pq_encode_equals_argmin_model"),
    "similarity_opq_balanced_recall": (REPLAY, "tests/test_pq_properties.py::test_pq_encode_equals_argmin_model"),
    "similarity_opq_learned_audit": (
        NONE,
        "rows-only by design: an SVD fit has no DuckDB replay; recall leg is "
        "the oracle-checked similarity_opq_balanced_recall, MSE curve pinned "
        "in tests/test_pq.py",
    ),
    "similarity_ivfpq_topk": (REPLAY, "tests/test_pq_properties.py::test_pq_topk_equals_scalar_adc_model"),
    "similarity_ivfpq_refine": (REPLAY, "tests/test_pq_properties.py::test_pq_topk_equals_scalar_adc_model"),
    "similarity_hyperplane_lsh": (REPLAY, "tests/test_pq_properties.py::test_hyperplane_buckets_equal_sign_pattern_model"),
    "similarity_hyperplane_recall": (REPLAY, "tests/test_pq_properties.py::test_hyperplane_buckets_equal_sign_pattern_model"),
    "similarity_hyperplane_planted": (REPLAY, "tests/test_pq_properties.py::test_hyperplane_buckets_equal_sign_pattern_model"),
    "similarity_ann_purity": (REPLAY, "tests/test_pq_properties.py::test_pq_topk_equals_scalar_adc_model (composition)"),
    "similarity_hard_negatives": (REPLAY, "tests/test_similarity_properties.py::test_hard_negatives_match_label_filtered_ranking"),
    "similarity_matryoshka_recall": (REPLAY, "tests/test_similarity_properties.py::test_matryoshka_recall_matches_truncated_ranking_model"),
    "similarity_decontamination": (REPLAY, "tests/test_similarity_properties.py::test_decontamination_screen_matches_argmax_model"),
    "similarity_norm_outliers": (REPLAY, "tests/test_similarity_properties.py::test_norm_outliers_match_global_rank_model"),
    # ---- retrieval ----
    "hybrid_retrieval": (REPLAY, "tests/test_retrieval_properties.py::test_hybrid_rrf_matches_fusion_model"),
    "retrieval_mmr": (REPLAY, "tests/test_retrieval_properties.py::test_mmr_matches_greedy_scalar_replay"),
    # ---- graph ----
    "graph_pagerank": (REPLAY, "tests/test_graph_properties.py::test_pagerank_matches_integer_model"),
    "graph_triangles": (REPLAY, "tests/test_graph_properties.py::test_triangle_census_matches_bruteforce"),
    "graph_kcore": (REPLAY, "tests/test_graph_properties.py::test_kcore_converged_is_exact_core"),
    # ---- multimodal ----
    "multimodal_decode": (REPLAY, "tests/test_multimodal_properties.py::test_ppm_parser_accepts_the_grammar"),
    "multimodal_features": (REPLAY, "tests/test_multimodal_properties.py::test_riff_walk_handles_order_junk_and_padding (header parse legs)"),
    "multimodal_frame_plan": (
        INDEPENDENT,
        "arithmetic every-n frame sampling plan is definitional; units "
        "tests/test_multimodal_lob.py::TestMultimodal::test_frame_sample_plan",
    ),
    "multimodal_image_ahash": (REPLAY, "tests/test_multimodal_properties.py::test_ahash_matches_scalar_model"),
    "multimodal_image_dhash": (REPLAY, "tests/test_multimodal_properties.py::test_dhash_matches_scalar_model"),
    "multimodal_image_near_dups": (REPLAY, "tests/test_multimodal_properties.py::test_banded_hamming_pairing_is_pigeonhole_complete"),
    "multimodal_audio_ehash": (REPLAY, "tests/test_multimodal_properties.py::test_ehash_and_zcr_match_scalar_models"),
    "multimodal_audio_zcr": (REPLAY, "tests/test_multimodal_properties.py::test_ehash_and_zcr_match_scalar_models"),
    "multimodal_audio_near_dups": (REPLAY, "tests/test_multimodal_properties.py::test_banded_hamming_pairing_is_pigeonhole_complete"),
    # ---- CDC core ----
    "cdc_feed": (
        INDEPENDENT,
        "deterministic synthetic LogMiner feed construction — a data "
        "fixture (reference row shape), not an algorithm; downstream "
        "operator tests pin the semantics",
    ),
    "cdc_op_filter": (INDEPENDENT, "reference predicate semantics, plain ANSI predicate; units tests/test_filters.py"),
    "cdc_scn_window": (INDEPENDENT, "reference predicate semantics, plain ANSI range predicate"),
    "cdc_container_filter": (INDEPENDENT, "reference predicate semantics, plain ANSI predicate"),
    "cdc_table_include": (REPLAY, "tests/test_cdc_properties.py::test_table_include_matches_scalar_grammar (plus directed units in tests/test_filters.py)"),
    "cdc_single_mode": (INDEPENDENT, "reference predicate semantics, plain ANSI predicate"),
    "cdc_committed": (REPLAY, "tests/test_cdc_properties.py::test_partial_rollback_closed_form_equals_backward_scan"),
    "cdc_partial_rollback": (REPLAY, "tests/test_cdc_properties.py::test_partial_rollback_closed_form_equals_backward_scan"),
    "cdc_commit_order": (REPLAY, "tests/test_cdc_properties.py::test_commit_ordered_is_sorted_same_multiset"),
    "cdc_replay_filter": (REPLAY, "tests/test_cdc_properties.py::test_replay_filter_is_exact_lexicographic_cut (scalar tuple-comparison model; directed unit test_replay_filter_intra_txn_rewind)"),
    "cdc_txn_stats": (INDEPENDENT, "per-XID counting aggregates are definitional"),
    "cdc_apply_changes": (REPLAY, "tests/test_cdc_properties.py::test_replica_equals_sequential_replay (one-event-at-a-time dict replay of the commit+dedup+apply path; directed unit test_apply_changes_last_write_wins)"),
    "cdc_batch_dedup": (REPLAY, "tests/test_cdc_properties.py::test_replica_equals_sequential_replay (K6 leg of the sequential-replay theorem; directed unit test_batch_pk_dedup_keeps_newest)"),
    "cdc_suppress_unchanged": (REPLAY, "tests/test_cdc_properties.py::test_suppress_unchanged_matches_nullsafe_scalar_model"),
    "cdc_restart_scn": (REPLAY, "tests/test_cdc_properties.py::test_restart_scn_matches_min_open_scalar_model"),
    "cdc_completeness_rejects": (REPLAY, "tests/test_cdc_properties.py::test_completeness_split_matches_scalar_rule"),
    "cdc_delete_all_cols": (REPLAY, "tests/test_sink_live_properties.py::test_pg_dialect_converges_on_duckdb (live-executed sink semantics)"),
    "cdc_tombstones": (REPLAY, "tests/test_sink_live_properties.py::test_pg_dialect_converges_on_duckdb (live-executed sink semantics)"),
    "cdc_chained_fusion": (REPLAY, "tests/test_fusion_properties.py::test_fuse_pieces_matches_reference_model"),
    "cdc_chained_incomplete": (REPLAY, "tests/test_fusion_properties.py::test_fuse_pieces_matches_reference_model"),
    "cdc_row_fusion": (REPLAY, "tests/test_fusion_properties.py::test_fuse_pieces_matches_reference_model"),
    "cdc_change_vector": (REPLAY, "tests/test_fusion_properties.py::test_fuse_pieces_matches_reference_model"),
    "cdc_multirow_expansion": (REPLAY, "tests/test_fusion_properties.py::test_expand_multirow_positions_and_conservation"),
    "cdc_direct_load": (REPLAY, "tests/test_fusion_properties.py::test_fuse_pieces_matches_reference_model"),
    "cdc_debezium": (
        INDEPENDENT,
        "Debezium envelope shape (public Debezium docs); struct units "
        "tests/test_envelope_structs.py::test_debezium_envelope_struct_semantics",
    ),
    "cdc_scd2_history": (REPLAY, "tests/test_cdc_properties.py::test_scd2_history_chains_correctly"),
    "cdc_scd2_asof": (REPLAY, "tests/test_cdc_properties.py::test_scd2_as_of_equals_log_replay_at_any_cut"),
    "cdc_replica_asof": (REPLAY, "tests/test_cdc_properties.py::test_replica_equals_sequential_replay"),
    "cdc_replica_reconcile": (REPLAY, "tests/test_cdc_properties.py::test_replica_equals_sequential_replay"),
    "cdc_net_effect": (REPLAY, "tests/test_authorship_upgrades.py::test_net_effect_matches_scalar_reduction_rule (hypothesis: pure-Python application of the public event-reduction truth table over random interleavings; plus the real-feed equivalence test_cdc_semantics.py::test_net_effect_upsert_equals_full_replay)"),
    "cdc_wrapped_flat": (REPLAY, "tests/test_authorship_upgrades.py::test_wrapped_flat_presence_matches_statement_mask (hypothesis: presence bits vs the per-statement public rule) + test_wrapped_apply_matches_sequential_sink_replay (batch collapse vs one-event-at-a-time sink replay with garbage planted in absent cells; plus the real-feed test_envelope_structs.py::test_wrapped_apply_matches_flat_apply)"),
    "cdc_wrapped_apply": (REPLAY, "tests/test_sink_live_properties.py::test_partial_update_executes_on_duckdb (live-executed partial update)"),
    "cdc_pseudo_named": (INDEPENDENT, "reference pseudo-column definitions, simple projections; units tests/test_transforms.py::test_pseudo_columns"),
    "cdc_pseudo_columns": (INDEPENDENT, "reference pseudo-column definitions, simple projections; units tests/test_transforms.py::test_pseudo_columns"),
    # ---- sinks / sources / connector surfaces ----
    "kafka_records": (REPLAY, "tests/test_cdc_properties.py::test_kafka_binding_matches_scalar_model (plus directed units in tests/test_kafka_binding.py)"),
    "jdbc_autocreate": (REPLAY, "tests/test_sink_live_properties.py::test_pg_dialect_converges_on_duckdb (DDL executed live on DuckDB)"),
    "archived_log_discovery": (INDEPENDENT, "catalog-scan over fixture rows, plain SQL; units tests/test_sources.py::test_archived_log_discovery_overlap_and_order"),
    "mvlog_batch": (INDEPENDENT, "mview-log scan + broadcast master lookup, plain SQL joins; units tests/test_sources.py::TestMvlog"),
    "mvlog_consumption": (INDEPENDENT, "mview-log consumption-delete semantics, plain SQL anti-join; units tests/test_sources.py::TestMvlog"),
    "initial_load_union": (INDEPENDENT, "SCN-cut union semantics, plain SQL; units tests/test_sources.py::TestInitialLoad::test_union_covers_every_key_once"),
    # ---- decode / transform surfaces ----
    "lob_reassembly": (REPLAY, "tests/test_lob_properties.py::test_reassembly_invariant_under_arrival_order (plus byte-exact roundtrip units)"),
    "lob_inflate": (REPLAY, "tests/test_decoder_properties.py::test_zlib_inflate_roundtrip_any_bytes"),
    "lob_plugin_transform": (REPLAY, "tests/test_authorship_upgrades.py::test_lob_transform_routing_matches_scalar_map (hypothesis: registry routing vs a hashlib scalar map over arbitrary cells/registry shapes; directed unit tests/test_plugins.py::test_lob_transform_registry retained)"),
    "ora_number_decode": (REPLAY, "tests/test_decoder_properties.py::test_number_roundtrip (repo-encode<->repo-decode, bias-BLIND on its own: an r11 mutation check showed a consistent both-sides exponent-bias shift survives it; the public byte goldens in tests/test_decoders.py::TestNumber are the independent anchor that caught it — both legs required)"),
    "ora_number_roundtrip": (REPLAY, "tests/test_decoder_properties.py::test_number_roundtrip (same two-leg anchoring as ora_number_decode: roundtrip for the digit algebra, TestNumber byte goldens for the encoding constants)"),
    "ora_datetime_decode": (REPLAY, "tests/test_decoder_properties.py::test_date_roundtrip"),
    "ora_tstz_decode": (REPLAY, "tests/test_decoder_properties.py::test_date_roundtrip (tz layout units in tests/test_decoders.py)"),
    "ora_interval_decode": (REPLAY, "tests/test_decoder_properties.py::test_interval_ds_positive (plus YM leg)"),
    "ora_binary_fp_decode": (REPLAY, "tests/test_decoder_properties.py::test_binary_double_roundtrip"),
    "ora_rowid_decode": (REPLAY, "tests/test_decoder_properties.py::test_rowid_components_invert_encoder"),
    "ora_charset_decode": (REPLAY, "tests/test_oson_charsets.py::TestCharsetIds::test_decode_goldens (LEGITIMATELY FINITE-TABLE: the NLS id->codec map is a finite enumeration from public charset tables with no hypothesis domain beyond it — goldens over the table's sampled points ARE the strongest available evidence; the byte->char mapping itself is Python's codec, not repo code)"),
    "ora_charset_id_decode": (REPLAY, "tests/test_oson_charsets.py::TestCharsetIds::test_id_resolution (LEGITIMATELY FINITE-TABLE: same rationale as ora_charset_decode — a finite id->name table admits only exhaustive/golden checks)"),
    "ora_vector_decode": (REPLAY, "tests/test_authorship_upgrades.py::test_vector_decode_roundtrip_independent_encoder (hypothesis: inversion of an independently written encoder built from the documented layout, f32/f64/int8, random prefixes; goldens tests/test_vector_sqlredo_tde.py::TestVector retained)"),
    "ora_tde_decrypt": (REPLAY, "tests/test_tde_properties.py::test_cbc_layout_roundtrip (layout-only: the engine and this property share OpenSSL via `cryptography`, so it verifies the [ct|mac|salt-iv] split, zero IV and pad strip, NOT the cipher; the reference's JCE AES vectors and the JCE DESede + FIPS 46-3 vectors in tests/test_vector_sqlredo_tde.py::TestTdeGoldenVectors are the independent anchor — both legs required)"),
    "ora_tde_gcm": (REPLAY, "tests/test_tde_properties.py::test_gcm_column_layout_roundtrip (layout-only, same shared-OpenSSL caveat as ora_tde_decrypt; the OpenSSL GCM goldens in __spark_entry__._TDE_GCM_GOLDENS, checked by TestTdeGoldenVectors::test_gcm_tde_column_goldens, are the independent anchor — both legs required)"),
    "oson_decode": (REPLAY, "tests/test_oson_properties.py::test_decode_inverts_independent_encoder"),
    "sql_redo_parse": (REPLAY, "tests/test_sqlredo_properties.py::test_update_roundtrip (render-parse inversion; insert/delete legs too)"),
    # ---- registry / SMT ----
    "registry_evolution": (REPLAY, "tests/test_registry_properties.py::test_ddl_fold_matches_dictionary_model"),
    "registry_key_guard": (REPLAY, "tests/test_registry_properties.py::test_key_column_drop_always_rejected"),
    "registry_defaults": (REPLAY, "tests/test_registry.py::TestDefaultValues::test_apply_default_values_binding (LEGITIMATELY FINITE-TABLE: the per-jdbcType default-literal parse is a finite case table, KafkaConnectSchema.java:181-279 — the rule-pinning class TestDefaultValues enumerates it; no hypothesis domain exists beyond the enumerated types)"),
    "smt_sanitize": (
        INDEPENDENT,
        "Avro name grammar (public Avro spec); units "
        "tests/test_transforms.py::test_sanitize_avro_names",
    ),
    "smt_header_to_field": (INDEPENDENT, "field-motion restructure is definitional; units tests/test_transforms.py::test_header_to_field_with_value_map"),
    "smt_key_to_value": (INDEPENDENT, "field-motion restructure is definitional; units tests/test_transforms.py::test_key_to_value_prefix"),
    # ---- streaming folds (batch mirrors oracle-checked) ----
    "streaming_dedup_gate": (REPLAY, "tests/test_authorship_upgrades.py::test_dedup_gate_fold_matches_scalar_first_occurrence (hypothesis: micro-batch fold vs a hashlib first-occurrence model over arbitrary splits; r11 also fixed this entry's citation, which pointed at the dedup_redelivered operator's tests — a different operator) + tests/test_streaming_sketches.py::test_dedup_gate_emits_first_occurrences_only (fold==batch)"),
    "streaming_interval_join": (REPLAY, "tests/test_streaming_windows.py::test_interval_join_matches_bruteforce"),
    "streaming_session_fold": (REPLAY, "tests/test_sessionize_properties.py::test_session_window_matches_gap_fold"),
}
