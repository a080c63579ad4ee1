"""Physical-plan tests (SURVEY §5.5): the plans that must hold at 100 TB
are asserted here at sf0.001 — broadcast joins on dims, predicate/column
pushdown into the parquet scan, top-k via TakeOrdered, partial
aggregation, no cartesian products where an equi-join is intended.
"""

from __future__ import annotations

import pytest

from real_estate_data_pipeline_spark.queries import CATALOG


def plan(spark, name, sf):
    df = CATALOG[name].fn(spark, sf)
    return df._jdf.queryExecution().executedPlan().toString()


def test_dim_joins_broadcast(spark, sf_small):
    for q in ["j1_dim_join_rollup", "j2_stats_backjoin", "q3_top_revenue_orders", "q5_nation_revenue"]:
        p = plan(spark, q, sf_small)
        assert "BroadcastHashJoin" in p, f"{q}: expected broadcast join\n{p}"
        assert "SortMergeJoin" not in p, f"{q}: dim join fell back to SMJ\n{p}"
        assert "CartesianProduct" not in p, f"{q}: cartesian product!\n{p}"


def test_q6_full_pushdown(spark, sf_small):
    p = plan(spark, "q6_banded_revenue", sf_small)
    assert "PushedFilters: [" in p
    # every predicate column reaches the scan
    pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_p1_column_pruning(spark, sf_small):
    p = plan(spark, "p1_filter_project", sf_small)
    assert "ReadSchema" in p
    read_schema = p.split("ReadSchema:", 1)[1].splitlines()[0]
    # only the 5 needed columns are read (4 projected + filter col)
    assert "l_extendedprice" in read_schema
    assert "l_shipdate" not in read_schema, f"scan reads unneeded column: {read_schema}"
    assert "IsNotNull(l_returnflag)" in p or "l_returnflag" in p  # filter pushed


def test_topk_is_take_ordered(spark, sf_small):
    p = plan(spark, "o1_topk_customers", sf_small)
    assert "TakeOrderedAndProject" in p, f"top-k should not global-sort\n{p}"


def test_agg_is_partial_final(spark, sf_small):
    p = plan(spark, "a1_pricing_summary", sf_small)
    # hash aggregate in partial then final mode -> map-side combine
    # (AQE prints the pre-execution plan, so codegen spans aren't visible
    # here; two HashAggregates prove the partial/final split)
    assert p.count("HashAggregate") >= 2, f"expected partial+final agg\n{p}"


def test_minhash_no_cartesian(spark, sf_small):
    p = plan(spark, "minhash_dup_pairs", sf_small)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, (
        f"LSH band join must be an equi-join\n{p}"
    )


def test_knn_join_is_equijoin(spark, sf_small):
    p = plan(spark, "sim_knn_join", sf_small)
    assert "CartesianProduct" not in p, f"bucketed kNN must not cross-join\n{p}"


def test_asof_join_no_cartesian(spark, sf_small):
    p = plan(spark, "asof_latest_event", sf_small)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, (
        f"as-of join must be the union-trick, not a product\n{p}"
    )


def test_range_join_is_equijoin(spark, sf_small):
    p = plan(spark, "range_join_day_window", sf_small)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, (
        f"range join must bucket to an equi-join\n{p}"
    )


def test_single_pass_quality_one_agg(spark, sf_small):
    p = plan(spark, "a5_quality_singlepass", sf_small)
    # one scan of lineitem only
    assert p.count("FileScan parquet") == 1, f"quality checks must be one pass\n{p}"


# Queries whose plan deliberately contains a BroadcastNestedLoopJoin:
# each is a crossJoin of a BROADCAST 1-row aggregate (global total /
# threshold) or a tiny literal table (query vector, probed centroid
# ids). A 1-row build side makes the "nested loop" a single constant
# probe per row — the scalar-subquery plan shape, not a pair blow-up.
_SCALAR_BROADCAST_OK = {
    "doc_token_doc_freq",      # 1-row corpus doc count
    "heavy_hitters_event_types",  # 1-row total-events scalar
    "m2_zscore_outliers",      # 1-row mean/stddev scalar
    "q11_revenue_concentration",  # 1-row global revenue threshold
    "q22_idle_wealthy_customers",  # 1-row avg-balance threshold
    "sim_bruteforce_topk",     # broadcast literal query vector
    "sim_ivf_topk",            # broadcast query vector + probed cells
    "doc_len_quantile_band",   # 1-row percentile-threshold scalar
    "doc_tfidf_top3",          # 1-row corpus doc count
    "evt_funnel_counts",       # three 1-row stage counts combined
    "m2b_sequential_outlier_filter",  # two 1-row mean/stddev scalars, one per pass
    "sketch_hll_mergeable_daily",  # 1-row merged-sketch estimate joined to 1-row exact
    "sketch_kll_price_quantiles",  # 1-row sketch-quantile estimates vs CDF pass
    "sim_quantized_topk",          # broadcast 1-row query vector (as sim_bruteforce)
    "dq_psi_drift_report",         # broadcast 1-row decile-edge row per side
    "evt_stream_psi_drift_now",    # same edge row; stream side uses literals
    "sim_hard_negatives",          # broadcast 8-row query-vector side
    "sim_pq_adc_topk",             # broadcast m*k=128-row PQ codebook / ADC table
    "export_range_partition_stats",  # broadcast 9-row decile-boundary table
    "sim_pq_recall_report",        # broadcast 1-row query vector + 128-row ADC table
    "doc_vocab_coverage",          # 1-row corpus token-total scalar
    "dq_schema_profile_diff",      # 1x1 join of the two single-row profile aggregates
    "doc_trigram_backoff_logprob",  # 1-row train-token-total scalar (unigram denominator)
    "sim_ivf_cell_stats",          # broadcast 16-row centroid table (as sim_ivf_topk)
    "doc_pmi_collocations",        # 1-row pair/unigram total scalars
    "ml_naive_bayes_lang_eval",    # 5-row lang table + 1-row vocab/doc-count scalars
    "sample_balanced_class_downsample",  # 1-row minority-count scalar
    "evt_dow_seasonal_profile",    # 1-row overall-mean scalar
    "graph_triangle_count",        # 1-row wedge-total scalar
    "doc_kneser_ney_bigram_logprob",  # 1-row bigram-type-total scalar
    "doc_idf_weighted_jaccard_pairs",  # 1-row corpus doc-count scalar (IDF denominator)
    "sim_ivf_recall_nprobe_sweep",  # broadcast 4-row query panel + 3-row nprobe grid + 16-row centroids
    "sim_mips_topk",               # broadcast 1-row query vector (as sim_bruteforce)
    "sim_range_search_count",      # broadcast 8-row query panel
    "dq_benford_first_digit",      # 1-row total-count scalar
    "io_partition_rows_skew_report",  # 1-row total/partition-count scalar
    "supplier_pareto_report",      # 1-row revenue-total scalar
    "doc_token_burstiness",        # 1-row corpus doc-count scalar
    "evt_user_ltv_deciles",        # 1-row purchase-total scalar
    "ml_chi_square_mktseg_priority",  # 1-row contingency-total scalar
    "ml_anova_price_by_segment",   # 1-row grand-moment scalar (N, S, k)
    "basket_brand_pair_lift",      # 1-row order-total scalar (lift denominator)
    "graph_kcore_peel_rounds",     # 1x1 join of per-round node/edge count rows
    "evt_survival_km_weekly",      # 1-row horizon scalar + 4-row week grid
    "doc_dsir_importance_weights",  # 1-row token-total/vocab scalar
    "doc_dsir_topk_per_source",    # same DSIR 1-row scalar via the shared frame
    "graph_rich_club",             # 3-row k-threshold literal grid
    "evt_cusum_drift_per_user",    # 1-row global-mean scalar
    "ml_bootstrap_mean_se",        # 1x1 join of full-mean row and SE row
    "sim_mmr_diverse_topk",        # 1-row query vector + 16x16 candidate pair table
    "ml_permutation_test_ab",      # 1-row observed-moment scalar (share + obs diff)
    "dq_fd_auto_histogram",        # 1-row FD bin-width scalar
    "doc_bm25_topk",               # 1-row corpus doc-count / avgdl scalar
    "doc_source_kl_divergence",    # 190-row source-pair grid + 1-row vocab scalar
    "graph_hits_rounds",           # 1-row L1-normalization scalar per half-round
    "sim_lsh_recall_vs_bits",      # broadcast 1-row query vector + 1-row count scalars
    "ml_nb_margin_calibration",    # same NB 5-row lang table + 1-row scalars as the eval
    "ml_lift_curve_deciles",       # 1-row base-rate scalar over the 10-row decile frame
    "sketch_bloom_fpr_report",     # 1x1 joins of the train/probe/bits count rows
    "doc_dirichlet_query_likelihood",  # 3-row cf table + 1-row collection-size scalar
    "doc_ranker_rrf_fusion",       # QL chain's 3-row cf + 1-row nc scalars
    "doc_ranker_kendall_tau",      # 20x20 rank-pair join (k-bounded) + QL scalars
    "doc_ranker_average_overlap",  # QL chain scalars; rank lists are 10-row limits
    "doc_retrieval_mrr_eval",      # 1-row relevance-total scalar + BM25 corpus scalars
    "evt_runs_test_daily",         # 1-row day-count/total scalar (sign threshold)
    "ml_isotonic_urgent_rate",     # 1-row decile edges + 10-row triangular bin joins
    "ml_irls_huber_price_qty",     # 1-row parameter broadcast per IRLS round
    "ml_ks_two_sample_quantity",   # 1-row group-total scalar + 1-row argmax row
    "ml_cohens_kappa_lang",        # NB 5-row lang table + 1-row marginal-product scalar
    "emb_silhouette_by_label",     # broadcast 10-row centroid-array table
    "ml_gini_split_ranking",       # 1-row root-impurity scalar
    "evt_stream_kll_now",          # 1-row sketch-estimate scalar from the sink
    "ml_cvm_two_sample_quantity",  # 1-row group-total scalar over the 50-value frame
    "ml_friedman_priority_month",  # 1-row block-count scalar over the 5-row rank-sum row
    "ml_mcnemar_lang",             # NB 5-row lang table + 1-row scalars (as kappa)
    "ml_theil_sen_qty_price",      # 50-row profile pair join + 1-row slope/intercept scalars
    "ml_jackknife_ratio_se",       # 1-row grand-total scalar over the ~84-month frame
    "ml_block_bootstrap_se_daily",  # 1x1 join of the full-mean row and the SE row
    "doc_js_divergence_sources",   # 190-row source-pair grid broadcast (as the KL report)
    "orders_abc_classification",   # 1-row revenue-total scalar over the per-part frame
    "evt_markov_stationary_power",  # 1-row state-count + per-round L1-total scalars
    "emb_farthest_point_seeds",    # 1-row seed-vector broadcast per greedy round
    "ml_quantile_irls_price_qty",  # 1-row parameter broadcast per IRLS round (as Huber)
    "cust_lorenz_deciles",         # 1-row revenue-total scalar over the 10-row decile frame
    "doc_ranker_kendalls_w",       # 10-row candidate joins + BM25/QL corpus scalars
    "ml_odds_ratio_2x2",           # 1-row global-median scalar
    "sketch_kll_merge_agg_daily",  # 1-row merged-sketch estimates vs CDF pass (as KLL twin)
    "evt_mann_kendall_trend",      # calendar-day frame self-join (bounded) + 1-row scalars
    "dedup_capture_recapture",     # 1x1 joins of the three detector-count rows
    "orders_aging_buckets",        # 1-row as-of date scalar
    "ml_wilcoxon_signed_rank_monthly",  # 1-row tie-correction scalar over the month frame
    "doc_lm_interpolation_grid",   # 11-row weight grid + 1-row corpus-total scalars
    "part_name_brand_mi",          # 1-row grand-total / entropy scalars
    "sketch_cms_inner_product",    # 1-row sketch-estimate scalar vs 1-row exact row
    "ml_weighted_kappa_quartiles",  # 1-row quartile edges + 16-row marginal grid
    "evt_stream_hll_now",          # 1-row sketch-estimate scalar from the sink
    "ml_fleiss_kappa_lang",        # NB 5-row lang table + 1-row prior/marginal scalars
    "doc_vocab_overlap_sources",   # 190-row source-pair grid broadcast (as KL/JS)
    "ml_pr_curve_price_urgent",    # 9-row threshold grid + 1-row class-total scalar
    "evt_churn_by_first_week",     # 1-row as-of max-ts scalar
    "orders_pareto_cut_point",     # 1-row revenue-total scalar over the ranked frame
    "evt_type_profile_similarity",  # k-row type-pair grid (bounded by the type domain)
    "cust_balance_quintile_revenue",  # 1-row quintile-edge scalar
    "evt_session_duration_histogram",  # 1-row session-total scalar
    "ml_bh_fdr_permutation",       # 5x5 seg-pair build + 1-row BH kmax scalar
    "ml_james_stein_shrinkage",    # 1-row grand-moment + between-SS scalars
    "graph_modularity_components",  # 1x1 joins of node/edge/cluster-mass rows
    "evt_stl_decomposition_hourly",  # 1-row seasonal-strength scalar
    "evt_ljung_box_acf_pacf",      # 1-row moment scalar (n, S) + 1-row ACF row
    "evt_grubbs_outlier_daily",    # 1-row moment scalar joined to the argmax row
    "sketch_hll_set_operations",   # 1x1 join of the two sketch rows + exact row
    "sketch_kll_drift_gate",       # 1-row edge/sketch/CDF scalars
    "sketch_bloom_join_prefilter",  # 1-row dim-count scalar joined to the report row
    "orders_simpsons_paradox_scan",  # 1-row overall-sign scalar over the brand frame
    "ml_cooks_distance_topk",      # 1-row line/SSE scalars broadcast to the unit frame
    "part_brand_size_chi2_residuals",  # 1-row grand-total scalar over the cell frame
    "ml_sprt_conversion_monitor",  # 1-row crossing row joined to the 1-row extremes
    "doc_keyness_g2_by_source",    # 1-row corpus-total scalar
    "ml_info_gain_ratio_features",  # 1-row class-total / entropy scalars
    "ml_g_test_brand_size",        # 1-row grand-total + term-sum scalars
    "ml_breusch_pagan_hetero",     # 1-row fitted-line scalar (shared _order_reg_resid)
    "ml_durbin_watson_daily",      # 1-row fitted-line scalar over the day aggregate
    "ml_chow_structural_break",    # 1-row pooled-line / SSE scalars
    "evt_ewma_control_chart",      # 1-row mu/sigma limit scalar over the day frame
    "evt_hampel_outliers_daily",   # 1-row global-median / MAD scalars
    "ml_logrank_test_segments",    # 1-row O/E/V scalar joined to the 1-row counts
    "evt_weibull_interevent_fit",  # 1-row gap-total scalar over the histogram
    "evt_stream_benford_now",      # 1-row digit-total scalar from the sink
    "sketch_kmv_distinct_estimate",  # 1x1 joins of estimate/exact/merge-audit rows
    "er_fellegi_sunter_scores",    # 1-row m/u weight scalar over the 8-cell frame
    "ml_reliability_diagram_bands",  # 1-row decile-edge scalar (shared _cal_bands)
    "ml_brier_decomposition_bands",  # 1-row edge/total scalars over the band frame
    "ml_hosmer_lemeshow_bands",    # 1-row edge/term-sum scalars over the band frame
    "ml_bca_bootstrap_components",  # 1-row full-mean/jackknife-moment scalars
    "cust_theil_inequality_index",  # 1-row revenue-total scalar over the customer frame
    "ml_kendall_tau_b_daily",      # calendar-day frame self-join (bounded) + 1-row scalars
    "emb_jl_distortion_audit",     # 512-row pinned sign-matrix literal grid
    "doc_burrows_delta_sources",   # 600-row source x top-token grid broadcast
    "ml_anova_two_way_interaction",  # 1-row marginal-mass scalars over the cell frame
    "ml_gtest_weekday_uniformity",  # 1-row grand-total + term-sum scalars
    "ml_mood_median_test",         # 1-row grand-median / margin scalars over the cell frame
    "ml_goodman_kruskal_gamma",    # <=550-cell value-domain grid self-join (bounded)
    "ml_jonckheere_terpstra_trend",  # <=150-cell (band, value) grid self-join + 1-row mass scalars
    "ml_somers_d_qty_discount",    # same <=550-cell grid self-join + 1-row tie-mass scalars
    "ml_scotts_pi_lang",           # 1-row pooled-marginal scalar (as Cohen's kappa chain)
    "ml_krippendorff_alpha_lang",  # 1-row per-doc/marginal scalars (as Fleiss)
    "ml_youden_j_price",           # 9-row threshold grid + 1-row class-total scalar (as PR curve)
    "ml_matthews_corr_price_urgent",  # 1x1 join of confusion row and class-total row
    "ml_log_loss_price_urgent",    # 1-row term-sum scalar over the band frame
    "evt_hurst_rs_daily",          # 1x1 joins of the three per-scale R/S rows
    "emb_ams_f2_sketch",           # 16-row salt grid over the bounded label histogram + 1x1 joins
    "cust_palma_hoover_index",     # 1-row n/total scalar over the per-customer frame
    "ml_winsorized_trimmed_mean",  # 1-row n/k scalar over the 50-value histogram
    "ml_mad_robust_outliers",      # 1-row median/MAD scalars over bounded histograms
    "evt_markov_entropy_rate",     # 1-row transition-total / entropy scalars
    "ml_dixon_q_daily",            # 1-row extreme/frequency scalars over the day histogram
    "part_xyz_classification",     # 1-row part/quantity-total scalar over the class frame
    "dq_benford_second_digit",     # 1-row digit-total scalar over the 10-row histogram
    "ml_ks_uniformity_dates",      # 1-row span/total scalar over the calendar-day frame
    "evt_type_cooccurrence_lift",  # 1-row user-count scalar over the k^2 pair frame
    "evt_peak_hour_mode",          # 1-row modal/day-count scalars over the 24-row hour frame
    "evt_nelson_aalen_weekly",     # 1-row horizon scalar + 4-row week grid (as KM)
    "emb_norm_shell_audit",        # 1-row norm-moment scalar over the per-vector frame
    "evt_hill_tail_index",         # 1-row threshold scalar over the 257-row TakeOrdered frame
    "ml_hellinger_bhattacharyya_flags",  # 1-row cell-sum scalar joined to the class totals
    "ml_energy_distance_quantity",  # 50x50 value-grid fold + 1-row moment scalars
    "evt_km_greenwood_bands",      # 1-row horizon scalar + 4-row week grid (as KM)
    "evt_gumbel_return_levels",    # 1-row fit scalar across the 3-row horizon grid
    "evt_mean_residual_life",      # 4-row threshold grid over the lifetime histogram
    "ml_gini_mean_difference",     # 50x50 value-grid fold + 1-row moment scalars
    "evt_pettitt_changepoint",     # calendar-day pair frame x 29-split grid (bounded)
    "evt_seasonal_theil_sen_slope",  # within-weekday day-pair join (bounded, as mann-kendall)
    "evt_cusum_squares_variance",  # 1-row max scalar joined back to the day frame
    "ml_partial_tau_b_qdt",        # <=550-cell value-grid self-joins + 1x1 tau joins
    "ml_stuart_tau_c_qty_discount",  # same value-grid self-join + 1-row dims scalar
    "ml_brunner_munzel_quantity",  # 1-row rank-moment scalar over the 50-value frame
    "cust_dissimilarity_index_segments",  # 5x25 segment x nation margin grid (bounded)
    "ml_tschuprow_t_brand_size",   # 25x50 brand x size margin grid (bounded)
    "ml_spearman_footrule_rankers",  # 20-row top-k join + BM25/QL corpus scalars (as kendall)
    "ml_total_variation_flags",    # 1-row class-total scalar over the 50-cell frame
    "evt_eta_squared_weekday",     # 1-row square-sum scalar over the 7-cell weekday frame
    "ml_relative_risk_2x2",        # 1-row global-median scalar (as ml_odds_ratio_2x2)
    "ml_gwet_ac1_lang",            # 1-row agree/marginal scalars (as Cohen's kappa chain)
    "ml_hodges_lehmann_shift",     # 50x50 value-grid fold to the 99-cell diff histogram
    "ml_qn_scale_quantity",        # 50x50 value-grid fold + 1-row count scalar
    "cust_lorenz_asymmetry",       # 1-row below-mean scalar over the per-customer frame
    "evt_repeated_median_slope",   # 30x29 day-pair grid (bounded, as mann-kendall)
    "ml_mmd_rbf_quantity",         # 50x50 value grid x 50-row pinned kernel table
    "ml_gk_lambda_brand_size",     # 1-row margin-max scalars over the cell frame
    "cust_percentile_ratio_spread",  # 1-row rank-threshold scalars over the ranked frame
    "ml_freeman_theta_flag_quantity",  # 150-cell cross-group value grid (bounded)
    "cust_theil_decomposition_segments",  # 1-row corpus-total scalar over the 5-segment frame
    "evt_sen_slope_ci",            # day-pair slope frame + 1-row tie/limit scalars
    "ml_cmh_stratified_2x2",       # 1-row global-median scalar (as ml_odds_ratio_2x2)
    "ml_conover_squared_ranks",    # 1-row group-totals scalar joined to the 100-cell frame
    "doc_ranker_ndcg_at_k",        # 20-row depth series x <=|terms|-row gain histogram
    "evt_lindley_virtual_wait",    # 1-row service-time scalar broadcast
    "evt_erlang_b_sweep",          # 1-row offered-load scalar x 11-row server series
    # r14 wave 2: every partition-agreement assembly crosses 1-row
    # pair-mass / entropy scalars (tp, sa, sb, n / mi12, hu12, hv12)
    "ml_adjusted_rand_lang_source",
    "ml_fowlkes_mallows_lang_source",
    "ml_nmi_lang_source",
    "ml_v_measure_lang_source",
    "ml_purity_fmeasure_lang_source",
    # r14 wave 3: 1-row relevance-total scalar joined to the 20-row
    # ranked frame (the doc_retrieval_mrr_eval shape)
    "doc_ranker_rbo_bm25_ql",
    "doc_ranker_map_at_20",
    "doc_ranker_rprec_sweep",
    # r14 wave 6: 1-row census/mass scalars joined to <=5-row stratum
    # frames
    "ml_horvitz_thompson_total",
    "ml_neyman_allocation",
    "ml_poststratification_estimate",
    # r14 wave 7: 1-row basket-total / entropy / MH-psi scalars joined
    # to bounded cell frames (the ml_cmh_stratified_2x2 shape)
    "basket_ptype_rule_measures",
    "ml_theil_u_brand_type",
    "ml_gk_tau_brand_type",
    "ml_mcc_macro_f1_lang",
    "ml_breslow_day_homogeneity",
    # r14 wave 8: 1-row exact-median scalar broadcast
    "evt_longest_run_above_median",
    # r14 wave 9: 1x1 join of the two monthly-variance moment rows;
    # fisher's year-bounds scalar resolves to a pushed filter, not BNLJ
    "lineitem_bullwhip_variance_ratio",
    # r14 wave 11: 6/7-row literal lag grids + 1-row median/TE scalars
    "evt_cross_correlation_lags",
    "evt_transfer_entropy_binary",
    "evt_newey_west_variance",
    # r14 wave 12: 5-row literal lambda grid
    "ml_box_cox_grid",
    # r14 wave 13: 1-row revenue-total / SSE scalars joined to the
    # part/residual frames (the ml_cooks_distance_topk shape)
    "lineitem_abc_xyz_matrix",
    "ml_dffits_topk",
    "ml_press_predicted_r2",
    # r15 wave 1: 1-row SSE scalar joined to the residual frame (the
    # ml_dffits_topk shape)
    "ml_bonferroni_outlier_max_t",
    # r15 wave 3: 1-row day-count/moment scalars + the 5-row literal
    # critical-ratio grid (the ml_box_cox_grid shape) against bounded
    # daily aggregates
    "orders_newsvendor_levels",
    "orders_process_capability_daily",
    "evt_nelson_rules_scan",
    # r15 wave 4: 1-row median scalar against the order frame (the
    # ml_odds_ratio_2x2 shape) / 1-row cell-count + moment scalars
    # against the bounded brand x size cell frame / <=7-row pooled
    # stratum scalar
    "ml_yule_q_y_2x2",
    "ml_contingency_coef_brand_size",
    "ml_woolf_or_homogeneity",
    "ml_lambda_symmetric_brand_size",
    # r15 wave 9: 1-row revenue-total / percentile-threshold scalars
    # (the ml_odds_ratio_2x2 / orders_abc shapes)
    "part_bcg_growth_share_matrix",
    "ml_gpd_mom_excesses",
    # r15 wave 10: 14-row literal Fourier-frequency grid + 1-row
    # power-total scalar (the ml_box_cox_grid shape)
    "evt_spectral_entropy_daily",
    # r15 wave 11: 1x1 combine of the four distance-class count
    # scalars (the graph_kcore_peel_rounds shape)
    "graph_bounded_path_stats",
    # r15 wave 12: 1-row n/median/MAD scalars + the 50x50 value-pair
    # difference histogram against the bounded quantity histogram
    # (the ml_quartile_coef_dispersion family's frames)
    "ml_sn_scale_quantity",
    "ml_biweight_midvariance_quantity",
    "ml_trimean_midhinge_quantity",
    "ml_gastwirth_estimator_quantity",
    "ml_shorth_lms_quantity",
    # r15 wave 13: 1-row threshold scalar against the bounded daily
    # aggregate (the orders_newsvendor shape)
    "evt_pot_cluster_count",
    # r15 wave 14: 1-row t0/midpoint/user-count scalars + 8/9-row
    # literal day/decile grids against the bounded daily / gap-band
    # aggregates (the ml_box_cox_grid shape)
    "evt_mean_cumulative_function_daily",
    "evt_ttt_transform_deciles",
    "evt_discrete_hazard_days",
    "evt_duane_growth_daily",
    "evt_inspection_paradox_census",
    # r15 wave 15: 1-row person-time / risk-set / MH-moment / total-
    # population scalars + the densified 5-type grid against the
    # bounded band/stratum frames (the evt_discrete_hazard_days shape)
    "evt_cif_competing_hours",
    "evt_person_time_rates",
    "ml_mantel_haenszel_or",
    "ml_gehan_wilcoxon_segments",
    "cust_urgent_rate_direct_std",
    # r15 wave 16: 1-row basket-total / global-moment scalars + the
    # <=5-row snapped factor frame range-joined onto the 6-row origin
    # diagonal (bounded both sides)
    "orders_chain_ladder_ultimates",
    "lineitem_tornqvist_index",
    "cust_theil_inequality_decomp",
    # r15 wave 17: 1-row (t0, nd) calendar / total-count / moment
    # scalars + <=4-row tau/offset grids against the bounded
    # hour/minute band histograms (the evt_discrete_hazard_days shape)
    "evt_allan_variance_hours",
    "evt_fano_factor_scales",
    "evt_ripley_k_minutes",
    "evt_thinning_invariance_cv2",
    "evt_permutation_entropy_hours",
    # r15 wave 18: 1-row (m, n) / normalizer / coalition-pivot scalars
    # + the literal 8-row coalition grid against bounded brand/user
    # aggregates
    "orders_kendall_w_years",
    "cust_shapley_channel_attribution",
    "lineitem_bradley_terry_brands",
    # r15 wave 19: 1-row n / doubled-median / threshold scalars, the
    # 25-row quantile grid, and the 30-row daily-rank self-join (the
    # bounded bivariate-rank frame) against the customer/day
    # aggregates
    "ml_empirical_copula_grid",
    "ml_tail_dependence_customer",
    "ml_blomqvist_beta_customer",
    "ml_hoeffding_d_daily",
    "ml_chatterjee_xi_daily",
    # r15 wave 20: the 30-row daily point panel / 435-row candidate
    # frame / 1-row slope scalars broadcast against each other (all
    # calendar-bounded; the ml_box_cox_grid shape)
    "ml_lad_regression_daily",
    "ml_quantile_regression_daily_q75",
    "ml_lms_regression_daily",
    "ml_lta_regression_daily",
    "ml_siegel_repeated_medians_daily",
    # r15 wave 21: 1-row load / population / max scalars + the 11-row
    # Erlang series against bounded hour/sample aggregates (the
    # evt_erlang_b_sweep shape)
    "evt_erlang_c_staffing",
    "evt_mgc_wait_approx",
    "evt_workload_hourly_offered",
    "cust_ratio_greg_estimators",
    # r15 wave 22: 1-row day-origin / snapped-cut / truth scalars
    # against bounded daily/stratum/sample aggregates
    "ml_its_segmented_daily",
    "ml_rdd_sharp_median_price",
    "ml_propensity_strat_ate",
    "cust_german_tank_estimate",
    # r15 wave 23: 1-row return-count / tail-moment scalars + the
    # 2-row level grid against the calendar-bounded (~2400-row)
    # trading-day aggregate
    "orders_var_cvar_daily",
    "orders_ulcer_martin_daily",
    # r15 wave 24: 1-row order-statistic / threshold scalars + the
    # <=5-row k-grid against the LIMIT-bounded top-401 frame and the
    # gap scan
    "evt_hill_estimator_gaps",
    "evt_pickands_dedh_estimators",
    "evt_mean_excess_thresholds",
    "evt_hill_plot_stability",
    # r15 wave 26: 1-row trigram-total / day-origin scalars + the
    # LIMIT-1 top-pair row against the bounded 5-state transition
    # frames
    "evt_markov_memory_g2",
    "evt_markov_reversibility",
    "evt_sequence_holdout_perplexity",
    # r15 wave 27: 1-row max-variance / max-distance scalars against
    # the 35-cell year x priority composition frame
    "orders_clr_total_variance_priority",
    "orders_comp_center_distances",
    # r15 wave 28: 1-row cut-panel / tolerance scalars + the
    # calendar-bounded (<=718-row) template self-join (the
    # ml_hoeffding_d_daily shape) against customer/day aggregates
    "cust_hbos_outlier_scores",
    "orders_cochran_hartley_variance",
    "evt_sample_entropy_hourly",
    # r15 wave 29: 1-row global-/test-moment / band-total scalars +
    # the 4-row fraction grid against the fold/band aggregates
    "ml_kfold_cv_order_model",
    "ml_learning_curve_order_model",
    "ml_feature_drift_ks_banded",
    # r15 wave 30: 1-row moment/limit/total scalars + the LIMIT-1
    # argmax rows of the 30-day ESD rounds against bounded
    # panel/band/day aggregates
    "cust_panel_fixed_effects",
    "ml_bland_altman_token_methods",
    "ml_delong_auc_variance",
    "orders_pps_poisson_estimate",
    "evt_rosner_esd_outliers",
    # r15 wave 31: 1-row transition-total / autocov-denominator /
    # month-total scalars + the 10-row top-token / lag grids and the
    # densified span-day calendar against bounded aggregates
    "doc_juilland_d_dispersion",
    "evt_entropy_production_rate",
    "evt_effective_sample_size_daily",
    "orders_month_uniformity_chi2",
    # r15 wave 32: 1-row calendar / digit-total / event-total scalars
    # against the bounded user/digit/grid aggregates
    "evt_taylor_power_law",
    "lineitem_price_ending_digits",
    "evt_weekday_hour_independence",
    # r15 wave 6: 1-row (t1, t0) ROC totals / 9-row literal decile
    # grid / 1-row climatology scalar against the bounded band frames
    "ml_partial_auc_price_urgent",
    "ml_ks_separation_price_urgent",
    "ml_fbeta_threshold_sweep",
    "ml_brier_skill_score",
    # r15 wave 7: broadcast 10-row centroid-array / 25-row probe-
    # and-reference panels against the embeddings scan (the
    # emb_silhouette_by_label / sim_range_search_count shapes), plus
    # 1x1 scalar combines
    "emb_davies_bouldin_labels",
    "emb_calinski_harabasz_labels",
    "emb_dunn_centroid_index",
    "emb_hopkins_clusterability",
    # r15 wave 8: 1-row moment/line/rho scalars against the bounded
    # calendar-day aggregates (the ml_durbin_watson_daily shape)
    "evt_pacf_durbin_levinson",
    "evt_yule_walker_ar2",
    "ml_breusch_godfrey_lag1",
    "ml_cochrane_orcutt_onestep",
}


# Queries whose partition-less (global) windows run over a frame that is
# bounded by an AGGREGATE on a bounded domain — not provable from the
# plan shape alone, so each needs a justification here:
_GLOBAL_WINDOW_AGG_BOUNDED_OK = {
    "doc_temperature_mix",         # share-sum over the group-count frame (|langs| rows)
    "doc_temperature_mix_tokens",  # same group-count frame, token-mass variant
    "export_range_partition_stats",  # running sum over the n_chars value-domain histogram
    "evt_autocorr_lags",           # lag window over the hour-bucket aggregate (~720 rows/month)
    "evt_seasonal_decompose_weekly",  # centered MA over the day-bucket aggregate (~30 rows/month)
    "doc_heaps_law_fit",           # running sums over the per-doc aggregate (corpus-cardinality rows)
    "cust_rfm_segmentation",       # ntile windows over the per-customer aggregate
    "supplier_pareto_report",      # ranked running share over the per-supplier aggregate
    "evt_user_ltv_deciles",        # ntile over the per-user purchase aggregate
    "cust_revenue_gini",           # ranked sum over the per-customer aggregate
    "evt_survival_km_weekly",      # running product over the 4-row week table
    "orders_open_by_day_sweepline",  # prefix sum over the calendar-day aggregate
    "ml_lift_curve_deciles",       # ntile over the per-user aggregate; cum over 10 deciles
    "doc_ranker_kendall_tau",      # re-rank row_number over the 20-row top-k join
    "ml_mann_whitney_u_quantity",  # running sum over the 50-value quantity histogram
    "evt_runs_test_daily",         # lag over the calendar-day aggregate
    "ml_kruskal_wallis_quantity",  # running sum over the 50-value quantity histogram
    "ml_ks_two_sample_quantity",   # cumulative counts over the same 50-value frame
    "ml_auc_price_urgent",         # running sum over the ~500-value price-band histogram
    "ml_cliffs_delta_quantity",    # running sum over the 50-value quantity histogram
    "ml_cvm_two_sample_quantity",  # cumulative counts over the same 50-value frame
    "orders_abc_classification",   # ranked running share over the per-part aggregate
    "doc_token_gini_concentration",  # rank over the vocab-sized count aggregate
    "cust_lorenz_deciles",         # ntile over the per-customer aggregate; cum over 10 deciles
    "doc_ranker_kendalls_w",       # re-rank row_number over the 10-row top-k join
    "ml_wilcoxon_signed_rank_monthly",  # rank over the ~80-row monthly difference frame
    "doc_lm_interpolation_grid",   # global min over the 11-row NLL grid
    "orders_pareto_cut_point",     # ranked running share over the per-customer aggregate
    "ml_bh_fdr_permutation",       # row_number over the 10-row pair p-value frame
    "evt_stl_decomposition_hourly",  # centered 25-row MA over the hour-bucket aggregate
    "evt_ljung_box_acf_pacf",      # six-lead window over the hour-bucket aggregate
    "evt_grubbs_outlier_daily",    # integer argmax over the calendar-day aggregate
    "ml_sprt_conversion_monitor",  # running LLR over the calendar-day aggregate
    "ml_rank_biserial_quantity",   # running sum over the 50-value quantity histogram
    "ml_durbin_watson_daily",      # lag over the calendar-day aggregate
    "evt_changepoint_single_split",  # prefix sums over the calendar-day aggregate
    "evt_ewma_control_chart",      # 8-tap lag fan-out over the calendar-day aggregate
    "evt_hampel_outliers_daily",   # 7-row rolling median over the calendar-day aggregate
    "ml_logrank_test_segments",    # suffix sums over the bounded duration histogram
    "evt_weibull_interevent_fit",  # running CDF over the gap-minute histogram
    "lineitem_weighted_median_price",  # running weight over the price value-domain histogram
    "ml_sign_test_daily_orders",   # lag over the calendar-day aggregate
    "ml_mood_median_test",         # running sum over the 50-value quantity histogram
    "evt_variance_ratio_value",    # lag(1)/lag(5) over the calendar-day aggregate
    "evt_cox_stuart_daily",        # row_number/count over the calendar-day aggregate
    "orders_turning_points_daily",  # lag/lead over the calendar-day aggregate
    "evt_hurst_rs_daily",          # row_number over the calendar-day aggregate
    "cust_palma_hoover_index",     # row_number over the per-customer aggregate
    "ml_winsorized_trimmed_mean",  # running sum over the 50-value quantity histogram
    "ml_mad_robust_outliers",      # running sums over the bounded value/deviation histograms
    "graph_degree_gini",           # row_number over the node-cardinality degree aggregate
    "cust_zipf_rank_size_orders",  # row_number over the per-customer aggregate
    "ml_ks_uniformity_dates",      # running sum over the calendar-day aggregate
    "evt_nelson_aalen_weekly",     # running hazard sum over the 4-row week table (as KM)
    "ml_anderson_darling_quantity",  # running ECDF over the 50-row quantity grid
    "ml_watson_u2_quantity",       # running ECDF over the 50-row quantity grid
    "ml_wasserstein_quantity_flags",  # cumulative class counts over the 50-row grid
    "ml_brunner_munzel_quantity",  # doubled-midrank running sums over the 50-value histogram
    "ml_ansari_bradley_dispersion",  # same doubled-midrank frame (shared _rank2_frame)
    "ml_cucconi_location_scale",   # same doubled-midrank frame (shared _rank2_frame)
    "evt_km_greenwood_bands",      # running sums over the 4-row week table (as KM)
    "evt_pages_trend_test",        # day-offset windows over the calendar-day aggregate
    "evt_cusum_squares_variance",  # prefix square-sums over the calendar-day aggregate
    "evt_pettitt_changepoint",     # day-offset windows over the calendar-day aggregate
    "evt_seasonal_theil_sen_slope",  # median row_number over the bounded slope-pair frame
    "evt_von_neumann_ratio",       # lag over the calendar-day aggregate
    "ml_quartile_coef_dispersion",  # running ECDF over the 50-value quantity histogram
    "evt_bartels_rank_test",       # midrank windows over the calendar-day aggregate
    "ml_quade_test",               # block-range rank window over the 4-row week frame
    "evt_spearman_lag1_autocorr",  # lead + midrank windows over the calendar-day aggregate
    "ml_spearman_footrule_rankers",  # re-rank row_number over the 20-row top-k join
    "ml_kuiper_test_quantity",     # running ECDF over the 50-row quantity grid
    "evt_eta_squared_weekday",     # day-offset window over the calendar-day aggregate
    "ml_hodges_lehmann_shift",     # cumulative weights over the 99-cell diff histogram
    "ml_qn_scale_quantity",        # cumulative weights over the 50-cell |diff| histogram
    "cust_lorenz_asymmetry",       # ranked running sum over the per-customer aggregate
    "evt_repeated_median_slope",   # global median row_number over the 30 per-day medians
    "evt_runs_up_down_daily",      # lag windows over the calendar-day aggregate
    "cust_percentile_ratio_spread",  # ranked ECDF window over the per-customer aggregate
    "evt_moran_i_lag1",            # lead window over the calendar-day aggregate
    "cust_zenga_index",            # ranked running sum over the per-customer aggregate
    "ml_lepage_location_scale",    # doubled-midrank windows (shared _rank2_frame)
    "evt_kpss_level_stat",         # partial-sum window over the calendar-day aggregate
    "evt_sen_slope_ci",            # slope-rank window over the bounded day-pair frame
    # r14 wave 1: cumulative windows over the 50-value quantity
    # histogram (_cum2_frame) / the <=100-cell deviation-key frame
    "ml_siegel_tukey_dispersion",
    "ml_conover_squared_ranks",
    "ml_fligner_policello_ustat",
    "ml_ad_two_sample_stat",
    "ml_watson_u2_two_sample",
    # r14 wave 3: desc-cum over the <=|terms|-row gain histogram /
    # cum over the 20-row depth domain; plus cascade/cum windows over
    # the 20-row top-k frame (the LIMIT is hidden behind the
    # gain/relevance join, so the subtree check can't see it — k-row
    # by construction)
    "doc_ranker_ndcg_at_k",
    "doc_ranker_rbo_bm25_ql",
    "doc_ranker_err_pow2",
    "doc_ranker_map_at_20",
    # r14 wave 4: cum over the session-boundary hour histogram (~720
    # rows/month) / the 11-row Erlang server series
    "evt_peak_concurrency_hours",
    "evt_erlang_b_sweep",
    # r15 wave 21: the same 11-row Erlang series cumulative window
    "evt_erlang_c_staffing",
    "evt_mgc_wait_approx",
    # r14 wave 5: 7-lag windows over the ~30-row daily-cents aggregate
    "evt_crps_empirical_window",
    "evt_pinball_quantile_window",
    "evt_winkler_interval_score",
    "evt_smape_bundle_seasonal",
    "evt_diebold_mariano_naive",
    # r14 wave 8: running-extrema / island windows over the same
    # ~30-row daily aggregate
    "evt_records_foster_stuart",
    "evt_max_drawdown_daily",
    "evt_longest_run_above_median",
    # r14 wave 11: the shared daily x/y frame's day-offset window
    # (~30-row aggregate)
    "evt_granger_clicks_to_purchases",
    "ml_lin_ccc_seasonal_forecast",
    # r14 wave 13: ranked running revenue share over the per-part
    # aggregate (the orders_abc_classification shape)
    "lineitem_abc_xyz_matrix",
    # r15 wave 3: cum over the bounded daily-demand histogram /
    # 7-lag + run windows over the ~30-row daily aggregate /
    # row_number over the ~2500-row per-calendar-day aggregate
    "orders_newsvendor_levels",
    "evt_tracking_signal_seasonal",
    "orders_process_capability_daily",
    "evt_nelson_rules_scan",
    # r15 wave 6: cumulative ROC / ECDF windows over the bounded
    # ~500-row $1000-band histogram (the ml_auc_price_urgent shape)
    "ml_partial_auc_price_urgent",
    "ml_ks_separation_price_urgent",
    "ml_fbeta_threshold_sweep",
    # r15 wave 8: lag/row_number windows over the 30-row daily event
    # aggregate and the ~2400-row calendar-day order aggregate
    "evt_pacf_durbin_levinson",
    "evt_yule_walker_ar2",
    "ml_breusch_godfrey_lag1",
    "ml_goldfeld_quandt_daily",
    "ml_cochrane_orcutt_onestep",
    # r15 wave 9: ranked integer dot products over the per-part /
    # per-customer aggregates (the orders_abc_classification /
    # cust_zenga_index shape)
    "lineitem_rosenbluth_hti",
    "cust_concentration_index_discount",
    # r15 wave 10: 7-lag window over the 30-row daily event aggregate
    "ml_theil_u_decomposition",
    # r15 wave 12: cumulative/rank windows over the 50-value quantity
    # histogram and its 50x50 difference histogram
    "ml_sn_scale_quantity",
    "ml_biweight_midvariance_quantity",
    "ml_trimean_midhinge_quantity",
    "ml_gastwirth_estimator_quantity",
    "ml_shorth_lms_quantity",
    # r15 wave 13: ranked rank-dot-product / cumulative windows over
    # the per-customer aggregate (the cust_zenga_index shape), plus
    # ECDF/island windows over the 30-row daily aggregate
    "lineitem_kakwani_discount_progressivity",
    "lineitem_suits_index_discount",
    "evt_pot_cluster_count",
    # r15 wave 14: cumulative windows over the 30-row daily aggregate
    # and the calendar-bounded (<= 43200-row) minute/day gap-band
    # histograms
    "evt_mean_cumulative_function_daily",
    "evt_ttt_transform_deciles",
    "evt_discrete_hazard_days",
    "evt_duane_growth_daily",
    # r15 wave 18: the closing rank window over the 25-row brand
    # strength frame (post-aggregate, brand-domain bounded)
    "lineitem_bradley_terry_brands",
    # r15 wave 19: rank/lead windows over the 30-row daily bivariate
    # aggregate (calendar-bounded; the checkpoint hides the upstream
    # Aggregate from the walker)
    "ml_hoeffding_d_daily",
    "ml_chatterjee_xi_daily",
    # r15 wave 20: the argmin rank over the 435-row candidate-line
    # aggregate (post-aggregate, calendar-bounded)
    "ml_lad_regression_daily",
    "ml_quantile_regression_daily_q75",
    "ml_lms_regression_daily",
    "ml_lta_regression_daily",
    # r15 wave 23: running-max / rank windows over the calendar-
    # bounded (~2400-row) trading-day aggregate (the checkpoint hides
    # the upstream Aggregate from the walker)
    "orders_var_cvar_daily",
    "orders_ulcer_martin_daily",
    # r15 wave 25: the RANGE-INTERVAL trailing window over the
    # calendar-bounded (~2400-row) daily revenue aggregate (raw-SQL
    # path, so the Aggregate sits below the SQL-built Window)
    "sql_interface_range_interval_window",
    # r15 wave 30: the cum-below/above windows over the <=600-row
    # $1000-band ROC frame (the ml_partial_auc shape)
    "ml_delong_auc_variance",
    # r15 wave 15: cumulative/suffix windows over the 9-row hour-band
    # frame and the bounded per-duration histogram (the q50 log-rank
    # risk-set shape)
    "evt_cif_competing_hours",
    "ml_gehan_wilcoxon_segments",
}


def _unbounded_global_windows(df) -> list[str]:
    """Walk the optimized logical plan; return a description for every
    partition-less Window whose subtree has no GlobalLimit/LocalLimit —
    the one shape that becomes an unbounded single-task sort at 100 TB
    (a limit upstream proves the frame is k rows; anything else needs
    the agg-bounded allowlist)."""

    def _children(node):
        it = node.children().iterator()
        while it.hasNext():
            yield it.next()

    def _subtree_has_limit(node) -> bool:
        """True only if a limit bounds the window's INPUT cardinality:
        descend exclusively through single-child (unary) operators —
        a limit sitting on one branch of a join does NOT bound the join
        output, so reaching a multi-child node without having found a
        limit means unproven (conservatively unbounded)."""
        if node.getClass().getSimpleName() in ("GlobalLimit", "LocalLimit"):
            return True
        children = list(_children(node))
        if len(children) != 1:
            return False
        return _subtree_has_limit(children[0])

    bad = []

    def _walk(node):
        if (
            node.getClass().getSimpleName() == "Window"
            and node.partitionSpec().isEmpty()
            and not _subtree_has_limit(node)
        ):
            bad.append(node.simpleStringWithNodeId())
        for c in _children(node):
            _walk(c)

    _walk(df._jdf.queryExecution().optimizedPlan())
    return bad


def test_every_catalog_query_plans_clean(spark, sf_small):
    """Engine-wide invariants, one pass over every catalog query:
    (a) NO CartesianProduct anywhere and no BroadcastNestedLoopJoin
    outside the documented scalar-broadcast set (pair-space blow-ups);
    (b) no partition-less window over a frame that isn't provably
    bounded — either a GlobalLimit/LocalLimit in the window's subtree
    (k-row frame by construction) or a named agg-on-bounded-domain
    allowlist entry. Guards every future query against the two shapes
    that silently stop scaling at 100 TB."""
    from concurrent.futures import ThreadPoolExecutor

    from real_estate_data_pipeline_spark.queries import CATALOG as _ALL, SERIAL

    # r16: the catalog is 800+ queries and each lint is driver-side
    # py4j work (plan build + plan walk; the eager gate entries also run
    # their staged jobs) — thread-pool it so the py4j round-trips and
    # the staged Spark jobs overlap. Each name lints independently;
    # offenders collect exactly as before. Measured 526 s -> ~150 s at 12 workers, ~120 s at 24 (py4j-bound).
    def _lint(name):
        df = CATALOG[name].fn(spark, sf_small)
        p = df._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in p:
            return name, "CartesianProduct"
        if "BroadcastNestedLoopJoin" in p and name not in _SCALAR_BROADCAST_OK:
            return name, "BroadcastNestedLoopJoin (not in scalar allowlist)"
        if name not in _GLOBAL_WINDOW_AGG_BOUNDED_OK:
            gw = _unbounded_global_windows(df)
            if gw:
                return name, f"unbounded global window: {gw[0]}"
        return name, None

    # entries that set session confs lint alone, before the pool, so no
    # other entry is linted under their settings
    results = [_lint(n) for n in SERIAL if n in _ALL]
    with ThreadPoolExecutor(max_workers=24) as pool:
        results += pool.map(_lint, [n for n in sorted(_ALL) if n not in SERIAL])
    offenders = {n: why for n, why in results if why is not None}
    assert not offenders, f"scale-unsafe plans: {offenders}"
