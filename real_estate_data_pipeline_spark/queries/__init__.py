"""Query catalog: every operator family from SURVEY.md §2 exposed as a
named query over the driver's TPC-H-ish testdata, each paired with an
ANSI-SQL oracle that DuckDB runs on the same parquet files.

Cross-engine exactness rules used throughout (so the driver's value-hash
compare passes bit-for-bit):

- SUM/AVG of money columns go through DECIMAL(18,2): decimal addition is
  exact and order-independent, so Spark and DuckDB agree exactly; the
  final CAST AS DOUBLE of the same exact decimal yields the same double.
- Row-level double arithmetic ((a+b)/2, z-scores, cosine) uses identical
  IEEE-754 operations on identical inputs -> bit-identical outputs.
- stddev is never taken from the engines' accumulators (their summation
  orders differ); it is recomputed from exact decimal sums:
  sqrt((sumsq - sum^2/n)/(n-1)).
- Timestamps are output as formatted strings; computed integers are cast
  to BIGINT on both sides.
- ln() is the one libm-dependent function -> rounded to 6 decimals.
- Murmur3/xxhash64-based ops (minhash, simhash) are not reproducible in
  DuckDB -> registered without an oracle (driver does a rows-only check).
"""

# One submodule per query family. Import order below IS the catalog order:
# register() appends to CATALOG in order, _window runs last and applies
# the driver-window reorder + invariants.

from . import _registry as _registry
from . import q01_aggregations as q01_aggregations
from . import q02_filters_projections as q02_filters_projections
from . import q03_joins as q03_joins
from . import q04_dedup_topk_union as q04_dedup_topk_union
from . import q05_tpch_headliners as q05_tpch_headliners
from . import q06_scalar_functions as q06_scalar_functions
from . import q07_nested as q07_nested
from . import q08_event_windows as q08_event_windows
from . import q09_llm_dedup_text_sim as q09_llm_dedup_text_sim
from . import q10_coverage_misc as q10_coverage_misc
from . import q11_window_analytics as q11_window_analytics
from . import q12_asof_range as q12_asof_range
from . import q13_doc_cleanse as q13_doc_cleanse
from . import q14_tpch_deep as q14_tpch_deep
from . import q15_curation_r3 as q15_curation_r3
from . import q16_curation_r4 as q16_curation_r4
from . import q17_flagship as q17_flagship
from . import q18_r7_timeseries as q18_r7_timeseries
from . import q19_r7_graph as q19_r7_graph
from . import q20_r7_language_models as q20_r7_language_models
from . import q21_r7_retrieval as q21_r7_retrieval
from . import q22_r7_lakehouse as q22_r7_lakehouse
from . import q23_r7_bi as q23_r7_bi
from . import q24_r7_distribution_diag as q24_r7_distribution_diag
from . import q25_r7_inference as q25_r7_inference
from . import q26_r8_mixed as q26_r8_mixed
from . import q27_r9_retrieval as q27_r9_retrieval
from . import q28_r9_sketch_vocab as q28_r9_sketch_vocab
from . import q29_r9_rank_stats as q29_r9_rank_stats
from . import q30_r9_robust_ml as q30_r9_robust_ml
from . import q31_r9_wave2_rank_embed as q31_r9_wave2_rank_embed
from . import q32_r10_effect_sizes as q32_r10_effect_sizes
from . import q33_r10_inequality_resampling as q33_r10_inequality_resampling
from . import q34_r10_graph_scoring as q34_r10_graph_scoring
from . import q35_r10_quantreg_forecast as q35_r10_quantreg_forecast
from . import q36_r10_hdbscan_knn as q36_r10_hdbscan_knn
from . import q37_r10_trend_capture as q37_r10_trend_capture
from . import q38_r10_wilcoxon_mi as q38_r10_wilcoxon_mi
from . import q39_r10_cms_kappa as q39_r10_cms_kappa
from . import q40_r10_agreement_pr as q40_r10_agreement_pr
from . import q41_r10_bfs_pareto as q41_r10_bfs_pareto
from . import q42_r10_effectsize_inequality as q42_r10_effectsize_inequality
from . import q43_r11_experimentation as q43_r11_experimentation
from . import q44_r11_timeseries_diag as q44_r11_timeseries_diag
from . import q45_r11_sketch_composition as q45_r11_sketch_composition
from . import q46_r11_curation_analytics as q46_r11_curation_analytics
from . import q47_r11_econometrics as q47_r11_econometrics
from . import q48_r12_classical_tests as q48_r12_classical_tests
from . import q49_r12_regression_diag as q49_r12_regression_diag
from . import q50_r12_monitoring_survival as q50_r12_monitoring_survival
from . import q51_r12_sketch_er as q51_r12_sketch_er
from . import q52_r12_calibration_inequality as q52_r12_calibration_inequality
from . import q53_r12_graph_jl_rank as q53_r12_graph_jl_rank
from . import q54_r12_stylometry_anova as q54_r12_stylometry_anova
from . import q55_r12_readability_order as q55_r12_readability_order
from . import q56_r12_moments_tail as q56_r12_moments_tail
from . import q57_r13_gof_distance as q57_r13_gof_distance
from . import q58_r13_survival_extremes as q58_r13_survival_extremes
from . import q59_r13_trend_changepoint as q59_r13_trend_changepoint
from . import q60_r13_rank_tests as q60_r13_rank_tests
from . import q61_r13_categorical_diversity as q61_r13_categorical_diversity
from . import q62_r13_rankers_moments as q62_r13_rankers_moments
from . import q63_r13_tv_kuiper_risk as q63_r13_tv_kuiper_risk
from . import q64_r13_robust_estimators as q64_r13_robust_estimators
from . import q65_r13_mmd_nominal as q65_r13_mmd_nominal
from . import q66_r13_theta_moran_zenga as q66_r13_theta_moran_zenga
from . import q67_r13_lepage_kpss_cmh as q67_r13_lepage_kpss_cmh
from . import q68_r14_twosample_rank as q68_r14_twosample_rank
from . import q69_r14_partition_agreement as q69_r14_partition_agreement
from . import q70_r14_ranker_eval as q70_r14_ranker_eval
from . import q71_r14_queueing as q71_r14_queueing
from . import q72_r14_forecast_scores as q72_r14_forecast_scores
from . import q73_r14_survey_sampling as q73_r14_survey_sampling
from . import q74_r14_assoc_measures as q74_r14_assoc_measures
from . import q75_r14_stream_interval as q75_r14_stream_interval
from . import q76_r14_richness_bi as q76_r14_richness_bi
from . import q77_r14_graph_iv_matryoshka as q77_r14_graph_iv_matryoshka
from . import q78_r14_bivariate_daily as q78_r14_bivariate_daily
from . import q79_r14_regression_diag2 as q79_r14_regression_diag2
from . import q80_r14_fits_influence as q80_r14_fits_influence
from . import q81_r15_model_selection as q81_r15_model_selection
from . import q82_r15_streaming_pipeline as q82_r15_streaming_pipeline
from . import q83_r15_operations as q83_r15_operations
from . import q84_r15_categorical2 as q84_r15_categorical2
from . import q85_r15_ecology as q85_r15_ecology
from . import q86_r15_classifier_eval as q86_r15_classifier_eval
from . import q87_r15_cluster_validity as q87_r15_cluster_validity
from . import q88_r15_timeseries_econ as q88_r15_timeseries_econ
from . import q89_r15_bi_fits as q89_r15_bi_fits
from . import q90_r15_text2 as q90_r15_text2
from . import q91_r15_graph2 as q91_r15_graph2
from . import q92_r15_robust2 as q92_r15_robust2
from . import q93_r15_mixed as q93_r15_mixed
from . import q94_r15_reliability as q94_r15_reliability
from . import q95_r15_survival3 as q95_r15_survival3
from . import q96_r15_actuarial_index as q96_r15_actuarial_index
from . import q97_r15_pointprocess as q97_r15_pointprocess
from . import q98_r15_social_choice as q98_r15_social_choice
from . import q99_r15_dependence as q99_r15_dependence
from . import q100_r15_robust_lines as q100_r15_robust_lines
from . import q101_r15_queueing2 as q101_r15_queueing2
from . import q102_r15_causal as q102_r15_causal
from . import q103_r15_risk as q103_r15_risk
from . import q104_r15_evt as q104_r15_evt
from . import q105_r15_sql_geometry as q105_r15_sql_geometry
from . import q106_r15_markov2 as q106_r15_markov2
from . import q107_r15_compositional as q107_r15_compositional
from . import q108_r15_monitoring3 as q108_r15_monitoring3
from . import q109_r15_ml_eng as q109_r15_ml_eng
from . import q110_r15_panel_audit as q110_r15_panel_audit
from . import q111_r15_final_mix as q111_r15_final_mix
from . import q112_r15_count_laws as q112_r15_count_laws
from . import _window as _window

# The names used outside the package, imported explicitly from their
# owning submodules.
from ._registry import CATALOG, SERIAL, t  # noqa: F401
from .q17_flagship import flagship  # noqa: F401
from .q27_r9_retrieval import _AO_W  # noqa: F401
from .q30_r9_robust_ml import _HUBER_D6  # noqa: F401
