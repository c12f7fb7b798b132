"""Schedule-stability harness: assert query outputs are BIT-IDENTICAL
across task schedules.

The r7/r8 driver-red saga was partition-order dependence: a double sum
accumulates in task-completion order, flips a last ulp, and a rounded
output crosses a digit boundary — invisible at one partition count,
red at another. The repo's defense is exact DECIMAL(38,12) accumulation
(plus integer-quantized outputs), and THIS tool is the proof: it runs
each query under several ``spark.sql.shuffle.partitions`` settings and
compares the strict (full-precision, type-tagged) row multisets. Any
difference means a schedule-dependent expression slipped back in.

By default it sweeps the statistics-heavy queries (the class that
regressed historically); pass names to check specific ones, or --all
for the whole registry (slow: |queries| × |settings| runs).

Usage: python tools/schedule_stability.py [--all] [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracle import strict_cell  # noqa: E402

PARTITION_SETTINGS = ["1", "7", "32"]

# statistical / iterative queries whose outputs are derived from
# cross-row float math — the historically schedule-sensitive class
DEFAULT_QUERIES = [
    "bh_fdr_type_screen",
    "anova_value_by_type",
    "cuped_variance_reduction",
    "propensity_stratified_ate",
    "bayes_ab_conversion",
    "cox_ph_churn_by_arm",
    "logrank_churn_by_arm",
    "uplift_tlearner_by_hour",
    "permutation_test_weekend_value",
    "embedding_covariance",
    "embedding_centroid_drift",
    "simpsons_paradox_screen",
    "neyman_allocation_by_type",
    "iv_wald_estimate",
    "ipf_raking_type_dow",
    "forecast_mase_backtest",
    "group_sequential_obrien_fleming",
    "holt_winters_daily",
    "kalman_user_values",
    "als_rank1_user_type",
    # r10: float-path queries added this round (decimal sums, quantized
    # argmax/bands, mapInPandas recurrences — each must stay bit-stable
    # across schedules)
    "delta_method_ratio_ci",
    "bootstrap_ci_event_values",
    "gbm_stumps_purchase",
    "isotonic_calibration_bins",
    "mutual_information_screen",
    "jl_projection_distortion",
    "benford_price_audit",
    # r10 wave 2: classical tests / decompositions on DECIMAL power sums
    "jarque_bera_normality",
    "kruskal_wallis_value_by_type",
    "wasserstein_weekend_shift",
    "theil_inequality_decomposition",
    "aipw_doubly_robust_ate",
    "poisson_glm_daily_trend",
    "df_unit_root_daily",
    "brier_decomposition",
    # r10 wave 3: paired/nonparametric battery (decimal diffs, bucketed
    # ranks, integer-quantized hazard steps, unrolled power iteration)
    "wilcoxon_signed_rank_weekend",
    "nelson_aalen_churn",
    "runs_test_daily_value",
    "cochran_armitage_hour_trend",
    "markov_stationary_event_types",
    "ccf_leadlag_purchase_error",
    "expected_calibration_error",
    "shapley_attribution_channels",
    "heaps_law_fit",
    "evt_gumbel_return_levels",
    "friedman_daily_types",
    "ljung_box_daily_value",
    "hurst_rescaled_range",
    "cramer_von_mises_weekend",
    "ranking_eval_purchase",
    "pareto_customer_revenue",
    "hll_trailing7_distinct",
    "km_greenwood_bands",
    "cmh_stratified_association",
    "mh_common_odds_ratio",
    "diebold_mariano_forecasts",
    # r11: remaining float-path families (trend/rank statistics, spatial
    # composition, product analytics, the newly-oracled weather queries)
    "levene_brown_forsythe",
    "mann_kendall_trend",
    "kendall_tau_daily",
    "mcnemar_click_purchase",
    "capture_recapture_users",
    "theil_sen_trend_by_type",
    "regression_discontinuity_value",
    "flesch_readability_scores",
    "textrank_keywords",
    "cohort_ltv_curve",
    "rfm_segmentation",
    "dbscan_customer_geo",
    "nearest_facility_assignment",
    "weather_batch_stats",
    "weather_feature_matrix",
    # r11 wave: exp/ln softmax weights, double argmaxes, KM integrals,
    # LM-score quantiles — the full float-path surface added this round
    "binseg_changepoint_by_type",
    "grubbs_outlier_daily",
    "evalue_sensitivity_purchase",
    "stickiness_dau_wau",
    "herfindahl_source_concentration",
    "degree_assortativity_cosupply",
    "lang_id_confusion",
    "perplexity_quintile_mixture",
    "excess_loss_mixture_weights",
    "rmst_churn_by_arm",
    "dedup_keep_best_quality",
    "randomized_response_estimate",
    "ktruss3_cosupply",
    "seasonal_strength_dow",
    "overdispersion_daily_counts",
    "geo_knn_escalation_audit",
    "entropy_rate_event_chain",
    "max_drawdown_daily_revenue",
    "propensity_matched_att",
    "hellinger_weekend_shift",
    "growth_accounting_weekly",
    # r12 wave: cross-fit residual products, shrinkage factors, per-row
    # ln quantization, rank statistics, centroid distances, entropy
    # weights, absorption-probability closures, float32 feature lanes —
    # the full float-path surface added this round
    "double_ml_partial_linear",
    "james_stein_type_dow_means",
    "chow_test_daily_value",
    "dunning_g2_collocations",
    "price_elasticity_loglog",
    "page_trend_dow",
    "anderson_darling_weekend",
    "kmeans_silhouette_simplified",
    "topsis_supplier_ranking",
    "markov_removal_effect",
    "harmonic_centrality_seeds",
    "multimodal_feature_extract",
    "approx_distinct_error_audit",
    "mood_median_by_type",
    "kendalls_w_dow",
    "jonckheere_terpstra_hours",
    "rake_keyword_phrases",
    "srm_check_md5_arm",
    "ngram_uniqueness_ratio",
    "retention_halflife_fit",
    "dedup_cluster_size_histogram",
    "mad_robust_outliers_by_type",
    "quantile_normalize_by_source",
    "quantile_normalize_exact_lengths",
    "partial_correlation_value_hour",
    "funnel_time_to_convert",
    "icc_user_values",
    "hill_tail_index_values",
    "frequent_sequences_2step",
    "tukey_pairwise_contrasts",
    "weibull_fit_time_to_convert",
    "price_indices_yearly",
    "jsd_source_pairs",
    # r13 wave: nonparametric battery completions, spatial statistics,
    # regression diagnostics, spectral + stylometric readouts — every
    # new float-path query (quantized ln/weight/trig/z terms, decimal
    # power sums, centroid-geometry indices)
    "cochrans_q_event_types",
    "cliffs_delta_weekend",
    "brunner_munzel_weekend",
    "quade_test_types_daily",
    "pettitt_changepoint_daily",
    "bartlett_variance_by_type",
    "welch_anova_by_type",
    "atkinson_inequality_orders",
    "rich_club_cosupply",
    "yules_k_by_source",
    "term_burstiness_top20",
    "burrows_delta_sources",
    "bray_curtis_source_pairs",
    "morans_i_customer_cells",
    "getis_ord_hotspot_cells",
    "clark_evans_nn_index",
    "granger_lag1_purchase_error",
    "breusch_pagan_value_hour",
    "cooks_distance_daily_revenue",
    "dominant_period_dft",
    "davies_bouldin_clusters",
    "calinski_harabasz_clusters",
    "session_bounce_by_hour",
    # r13: BPE strict promotion (unrolled-merge oracles) — the training
    # loop's argmax must stay schedule-stable too
    "bpe_learned_merges",
    "bpe_fertility_by_source",
    # r13 wave 6/7: entropy ratios, segmental TTR, basket lift, spectral
    # entropy, closed-form rank scores, exact-integer NN power sums
    "theils_u_type_hour",
    "msttr_by_source",
    "brand_basket_lift",
    "spectral_entropy_daily",
    "ansari_bradley_weekend",
    "hopkins_statistic_geo",
    "ripleys_k_customers",
    # r13 wave 8: unrolled Durbin-Levinson, wavelet variance, randomness
    "pacf_daily_value",
    "haar_wavelet_variance_daily",
    "record_highs_by_type",
    "turning_points_by_type",
    # r13 wave 9: embedding-health diagnostics, Lorenz deciles, and the
    # Acklam-probit family (identical inverse-normal expression text in
    # both engines)
    "embedding_anisotropy_cosine",
    "embedding_effective_rank",
    "intrinsic_dim_twonn",
    "lorenz_curve_deciles",
    "shapiro_francia_daily_by_type",
    "kpss_level_by_type",
    "seasonal_mann_kendall_daily",
    "fligner_killeen_by_type",
    # r14: the IVF refresh monitor (DECIMAL component sums -> quantized
    # L2) and the re-kerneled TwoNN (cell-keyed numpy minima must merge
    # to the same global minima under any schedule; twonn itself is
    # already listed above)
    "ivf_refresh_decision",
]


def multiset(df) -> Counter:
    cols = sorted(df.columns)
    pdf = df.toPandas()
    return Counter(
        tuple(strict_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )


def main() -> int:
    argv = [a for a in sys.argv[1:]]
    check_all = "--all" in argv
    argv = [a for a in argv if a != "--all"]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    names = argv[1:]

    import __spark_entry__ as e
    from weatherdatapipeline_spark.session import get_spark

    qs = e.queries()
    if not names:
        names = list(qs) if check_all else [n for n in DEFAULT_QUERIES if n in qs]

    spark = get_spark("schedule-stability")
    failures = 0
    for name in names:
        results = {}
        try:
            for setting in PARTITION_SETTINGS:
                spark.conf.set("spark.sql.shuffle.partitions", setting)
                results[setting] = multiset(qs[name](spark, sf_dir))
        except Exception as ex:  # noqa: BLE001
            failures += 1
            print(f"FAIL  {name}: error: {ex}")
            continue
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
        base = results[PARTITION_SETTINGS[0]]
        bad = [s for s in PARTITION_SETTINGS[1:] if results[s] != base]
        if bad:
            failures += 1
            diff = (results[bad[0]] - base) + (base - results[bad[0]])
            print(f"FAIL  {name}: differs at partitions={bad}; e.g. {list(diff)[:2]}")
        else:
            print(f"ok    {name}: bit-stable across partitions {PARTITION_SETTINGS}")
    print(f"\n{len(names) - failures}/{len(names)} schedule-stable")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
