package graft

class EntrySpec extends SparkSpec {

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("a query key defined by two modules is an error naming both") {
    val e = intercept[IllegalStateException](SparkEntry.merged(Seq(
      "ModA" -> Map("q" -> 1, "a" -> 2), "ModB" -> Map("b" -> 3, "q" -> 4))))
    assert(e.getMessage.contains("'q'") && e.getMessage.contains("ModA") &&
      e.getMessage.contains("ModB"), e.getMessage)
    assert(SparkEntry.queries.size == SparkEntry.modules.map(_.queries.size).sum)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every registered query resolves and plans against the test schema") {
    // The round-5 testdata drift (TIMESTAMP_NTZ) surfaced as per-query
    // ANALYSIS errors that silently dropped five queries from the
    // driver's correctness run. Analysis failures are catchable at plan
    // time without executing anything — so force-plan ALL of them (in
    // the registry pass shared with PlanSizeAuditSpec).
    val bad = RegistryPlanPass(spark, sf).failures
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("SURVEY §2 inventory is fully declared") {
    val expected = Set(
      "q1_agg", "fk_count", "adj_fanout", "fanout_weight", "subschema_sizes", "ur_size",
      "distinct_vals", "dict_encode", "factorize", "pred_eval", "true_card",
      "naive_est", "hist_est", "mcv_est", "joint_est", "cin_est", "sample_est", "progressive_est", "ols_est", "ensemble_est", "nar_est", "nar_progressive", "nar_check", "nar_inc_est", "nar_inc_check", "model_store", "bpe_train", "bpe_encode", "ivf_kmeans_recall", "q_error", "q_error_quantiles", "q_error_models", "q_error_model_quantiles", "join_sample", "training_batch",
      "col_stats", "histogram", "mcv", "cms_freq", "hll_ndv", "kmv_ndv",
      "col_quantiles", "bloom_filter", "kmv_group_ndv", "mergeable_stats",
      "eqdepth_hist", "event_pivot",
      "winnow_fingerprint", "winnow_dup",
      "minhash_jaccard_est", "asof_join", "latest_snapshot",
      "exact_dedup", "minhash_sig", "minhash_lsh_dup", "dup_clusters", "simhash_dup",
      "contamination", "prefix_dedup",
      "ngram_jaccard", "embed_cosine_topk", "embed_lsh_ann", "embed_ivf_ann", "embed_pq", "pq_adc_topk", "ivf_kmeans_ann", "lang_id",
      "ann_recall", "embed_int8", "key_degree_hist", "ivf_kmeans_check", "semantic_dedup",
      "dedup_method_agreement",
      "quality_score", "token_count", "token_entropy", "mad_outliers", "tfidf_terms", "doc_fingerprint", "pii_scrub", "url_stats", "mm_meta", "mm_frames",
      "window_agg", "sessionize", "topk_events", "interval_join", "skew_agg",
      "stratified_sample", "chi2_drift", "ngram_freq", "doc_filter",
      "repetition_ratio", "dedup_keep_best", "curation_pass",
      "embed_dup", "funnel_count", "cohort_retention",
      "skew_join", "zorder_layout", "scd2_history",
      "source_mix_sample", "per_group_sample",
      "col_skew_profile", "shannon_entropy", "group_quantiles",
      "pess_est", "hist2d", "corr_matrix", "sliding_agg", "incremental_dedup",
      "seq_pack", "corpus_summary", "mm_resize", "fuzzy_match",
      "rolling_agg", "user_growth", "sliding_dau", "spike_detect",
      "props_extract", "decay_count", "kmv_setops", "ri_audit",
      "train_split", "term_search", "markov_transitions", "markov_stationary",
      "bm25_rank", "bpe_pairs", "substring_dup", "zipf_fit", "simhash_clusters", "cube_counts",
      "compaction_plan", "vocab_coverage", "ks_test", "trend_fit",
      "value_deciles", "merge_upsert", "user_lifespan", "event_unpivot",
      "daily_signature", "dq_audit", "q3_join_agg", "returning_users",
      "gap_fill", "lag_features", "percentile_feature", "conversion_latency",
      "embed_norms", "weekday_profile", "cooccurrence", "rfm_segments",
      "lang_confusion", "path_analysis", "bipartite_degrees",
      "q5_revenue", "big_order_semi", "sliding_dau_kmv", "doc_chunks",
      "chunk_dedup", "supplier_share", "interarrival_stats", "click_abandon",
      "bigram_lift", "rollup_revenue", "audience_jaccard",
      "revenue_mom", "embed_dist_hist", "order_fill_latency",
      "discount_impact", "user_type_matrix", "token_positions", "shared_vocab",
      "error_rate", "basket_itemsets", "pareto_skyline", "grouping_sets_report",
      "triangle_count", "nation_pagerank", "cust_order_dist", "dormant_customers",
      "sample_quantiles", "dsir_weights", "mlm_mask", "tok_fertility",
      "zone_map_prune", "shuffle_skew_audit",
      "lm_perplexity", "ewma_spikes", "min_price_supplier", "bloom_prejoin",
      "span_corrupt", "join_card_est",
      "q4_priority_exists", "q7_trade_volume", "q8_market_share", "q10_returns",
      "q14_promo_share", "q16_supplier_variety", "q17_small_qty", "q22_idle_balance",
      "q6_forecast_revenue", "q9_profit_by_nation", "q12_priority_split",
      "q15_top_supplier", "q18_big_orders", "q19_disjunctive_rev",
      "join_order_advisor",
      "last_touch_attribution", "centroid_drift", "gram_top_eigen", "shard_plan",
      "late_events", "bucket_advisor", "mutual_info", "ebo_est", "ngram_novelty",
      "sole_late_supplier", "dp_noise_count", "skew_salt_plan", "quality_calibration",
      "calib_est_bias",
      "hist_join_est", "kmv_join_est", "psi_drift", "autocorr",
      "bootstrap_ci", "knn_graph", "negative_sampling", "seasonal_decompose",
      "source_temp_mix", "cross_corr", "gini_index",
      "aspect_bucket_pack", "dup_rate_by_source", "k_anon_audit",
      "prefix_sim_join",
      "cms_join_est", "bbit_minhash", "hill_tail",
      "containment_sim", "mm_phash_dup", "norm_text_dedup",
      "cusum_changepoint", "window_funnel", "sax_symbols", "curriculum_plan",
      "kn_bigram_lm", "salsa_scores",
      "weighted_jaccard", "kfold_assign", "lsh_tuning", "hist_quantile_check",
      "sample_est_ci", "voptimal_hist", "embed_pca_project",
      "gee_est", "ams_join_est", "benford_audit", "theil_sen", "mann_kendall",
      "l_diversity_audit", "dp_topk", "ttr_segments", "compress_ratio_est",
      "jsd_drift", "simpson_diversity", "assoc_rules", "stream_dedup",
      "hurst_exponent",
      "chao1_est", "ht_total_est", "neyman_alloc", "heaps_law_fit",
      "lsh_recall_audit", "epoch_shuffle_plan", "kcore_membership",
      "prop_ztest_pairs", "burstiness_fano", "page_hinkley",
      "anova_oneway", "kruskal_wallis", "spearman_rho", "welch_ttest_pairs",
      "wander_join_est", "t_closeness_audit", "woe_iv", "adamic_adar",
      "graph_assortativity", "approx_quantile_check", "markov_entropy_rate",
      "target_encode_audit", "feature_hash_collisions", "mmr_rerank", "auc_roc",
      "survival_km", "ab_power_plan",
      "cohen_kappa", "ann_ndcg", "lorenz_curve", "mcc_gate_agreement",
      "isotonic_calibration", "isotonic_check",
      "rolling_origin_backtest", "conformal_interval", "hhi_index",
      "keyword_rake", "q11_stock_share", "q20_excess_suppliers",
      "quantile_norm", "winsorize_stats", "heavy_change", "simpson_paradox_audit",
      "burrows_delta", "jl_projection_audit", "extreme_value_pot", "ljung_box",
      "granger_lite", "ratio_metric_ci", "sprt_audit", "hazard_curve",
      "entropy_over_time",
      "binseg_changepoints", "seasonal_strength", "grid_dbscan", "srm_check",
      "cramers_v", "trend_test_ca", "gains_curve", "counting_bloom",
      "cuped_adjust", "odds_ratio_ci", "max_drawdown",
      "kendall_tau", "segmented_trend", "ess_autocorr",
      "nar_tx_est", "nar_tx_check", "nar_training_curve",
      "nar_cont_est", "nar_cont_check",
      "lsh_precision_audit", "split_leak_audit", "ivf_pq_adc",
      "mmd_drift", "gumbel_topk_sample", "wasserstein_drift", "kmeans_coreset",
      "nar_hpo", "bh_fdr", "label_propagation", "graph_modularity",
      "mg_heavy_hitters", "diff_in_diff", "rendezvous_shard",
      "deletion_vector_plan", "group_sequential", "jackknife_variance",
      "capture_recapture", "covariate_balance", "dedup_transitivity",
      "median_ci", "funnel_wilson_ci", "dedup_savings_sweep", "negbin_fit",
      "fact_est", "fact_progressive", "nar_mlm_est", "nar_mlm_check",
      "wavelet_est", "cvm_test", "eb_shrinkage", "brier_decomp", "pr_auc",
      "mcnemar_gates", "gopher_rules", "nb_quality_filter", "lid_estimate",
      "rrf_fusion", "ccnet_bucket",
      "ppr_scores", "permutation_test", "theil_u", "cochran_q", "fleiss_kappa",
      "stratified_est", "token_budget_plan", "hoeffding_plan",
      "dp_join_enum", "em_mixture", "hard_negatives", "linear_attribution",
      "dedup_saturation",
      "heldout_perplexity", "topk_rbo", "welch_anova",
      "bloom_fpp_plan", "cluster_purity", "embed_outliers",
      "mixture_gof", "dup_quality_or", "bitext_mine", "bitext_recall", "bradley_terry",
      "stream_batch_parity")
    assert(SparkEntry.queries.keySet == expected)
  }
}
