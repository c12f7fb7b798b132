"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}

Each query is forced with the `noop` datasource sink — full computation,
zero driver-side result transfer — so the number is engine time, not
collect() serialization. One untimed warmup query initializes the JVM/codegen
paths first.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from weatherdatapipeline_spark.operators import dedup as _D
from weatherdatapipeline_spark.queries import QUERIES, _t
from weatherdatapipeline_spark.session import default_parallelism, get_spark

# Direct-operator bench entries (not driver-registered queries): the
# registered dedup_minhash_pairs runs the PORTABLE md5 family so it can be
# oracle-checked end to end; the xxhash64 family is the scale path and its
# throughput is tracked here so the portable tax never hides a regression.
EXTRA = {
    "dedup_minhash_pairs_xxhash64": lambda spark, d: _D.minhash_near_duplicates(
        _t(spark, d, "documents"), threshold=0.2
    ),
}

# Headline set: one representative per operator family (SURVEY.md §2).
HEADLINE = [
    "q1_pricing_summary",          # scan + filter + grouped multi-agg
    "region_revenue",              # fact joined through broadcast dims
    "top_customers_by_revenue",    # join + agg + top-k
    "customer_order_count_distribution",  # outer join + double agg
    "asof_join_click_to_view",     # as-of join (union + window)
    "window_rolling_stats",        # windowed rolling with min_periods mask
    "latest_event_per_user",       # max_by latest-per-key
    "topk_latest_events",          # TakeOrdered top-k
    "calendar_activity",           # scalar funcs + agg
    "text_profile",                # regex-heavy per-row projection
    "dedup_exact_documents",       # fingerprint hash-agg dedup
    "dedup_jaccard_pairs",         # shingle self-join near-dup
    "dedup_minhash_pairs",         # MinHash + LSH banding (portable md5 family)
    "dedup_minhash_pairs_xxhash64",  # same pipeline, xxhash64 scale family
    "similarity_topk",             # brute-force cosine top-k
    "knn_join_first5",             # broadcast knn join
    "vocabulary_top50",            # corpus wordcount (tf/df)
    "corpus_clean_pipeline",       # composed cleaning funnel
    "contamination_check_5gram",   # n-gram membership audit
    "decontaminate_corpus",        # broadcast eval-gram decontamination
    "dedup_cluster_assignments",   # connected-components clustering
    "chunk_documents_windows",     # token-window chunking (map-only)
    "gapfill_locf_series",         # hypertable rollup + gapfill
    "embedding_quantize_int8",     # map-only int8 vector compression
    "exact_substring_spans",       # char-gram join + diagonal islands
    "dsir_select_top200",          # DSIR hashed-ngram importance weights
    "kmeans_cluster_assignments",  # iterative Lloyd (2 rounds + assign)
    "bloom_contamination_check",   # bloom bit-position membership screen
    # r6 third wave
    "naive_bayes_source_confusion",  # sparse NB classifier (train + score)
    "scd2_user_state_history",     # SCD2 run-length interval build
    "dedup_ppjoin_pairs",          # exact jaccard via prefix filtering
    "triangle_count_cosupply",     # degree-oriented triangle census
    # r7 wave
    "zorder_layout_events",        # Morton layout + per-file pruning audit
    "range_shard_balance",         # sampled-boundary balanced range shards
    "script_mix_profile",          # char-class composition screen
    "char_entropy_lowest",         # unigram char entropy (boilerplate proxy)
    # r7 wave 3
    "link_prediction_cosupply",    # wedge-join CN/Jaccard/Adamic-Adar
    "logistic_newton_purchase",    # 4-pass Newton IRLS (iterative ML shape)
    # r8
    "peak_concurrency_daily",      # sweep line, day-partitioned, no global order
    "hll_distinct_users_explicit", # explicit HLL sketch, exact-integer registers
    # r9
    "kmv_distinct_users",          # bottom-k KMV distinct sketch per group
    "source_cap_audit",            # per-source cap + dropped-mass audit
    "merkle_bucket_diff",          # anti-entropy fingerprint reconciliation
    "group_sequential_obrien_fleming",  # 5-look OBF experiment monitor
    "ipf_raking_type_dow",         # iterative proportional fitting (12 steps)
    # r10
    "benford_price_audit",         # first-digit distribution + chi-square
    "jl_projection_distortion",    # map-only Rademacher projection audit
    "isotonic_calibration_bins",   # exact isotonic fit (relational minimax)
    "delta_method_ratio_ci",       # cluster-robust ratio-metric CI
    "session_overlap_pairs",       # bounded-slice interval overlap join
    "bootstrap_ci_event_values",   # one-pass B=50 Poisson bootstrap (r6 op)
    # r10 wave 2
    "kruskal_wallis_value_by_type",  # pooled rank via range-partitioned windows
    "wasserstein_weekend_shift",   # exact 1-D EMD from per-type ECDF windows
    "ams_f2_sketch",               # 32-projection F2 sketch vs exact self-join mass
    "join_cardinality_estimate",   # dictionary-to-dictionary exact join size
    # r10 wave 3
    "media_phash_pairs",           # real PNG decode + dHash + hamming block join
    "media_audiofp_pairs",         # PCM16 decode + energy-delta fp + block join
    "editdist_part_name_pairs",    # dedupe-first PassJoin (3.9M true pairs at sf0.1)
    "wilcoxon_signed_rank_weekend",  # paired ranks via range-bucketed rank
    "markov_stationary_event_types",  # 16 unrolled power-iteration selects
    "hurst_rescaled_range",        # integer R/S blocks over the hourly series
    # r12: the heavy r10w3/r11 join surface joins the recorded set
    # (VERDICT r11 item 1)
    "geo_knn_customers",           # exact kNN via escalating grid join
    "dbscan_customer_geo",         # radius join + star-CC density clustering
    "ktruss3_cosupply",            # 4-round triangle-support edge peeling
    "label_propagation_cosupply",  # synchronous LPA community rounds
    "textrank_keywords",           # windowed co-occurrence + power iteration
    "pagerank_event_types",        # constant-node-set rank iterations
    "streaming_funnel_per_window", # windowed ordered funnel (stream replay)
    "dedup_keep_best_quality",     # CC + per-cluster quality argmax
    # r13: representatives of the new analytics families (spatial stats,
    # stylometry, regression diagnostics, dispersion ranks)
    "clark_evans_nn_index",        # exact-kNN ladder at k=1 + CSR z
    "ripleys_k_customers",         # 16k-radius grid join, 3 radii
    "hopkins_statistic_geo",       # 2x200-anchor NN broadcast passes
    "burrows_delta_sources",       # corpus scan + 20x30 z-score grid
    "breusch_pagan_value_hour",    # two-pass OLS + aux regression
    "ansari_bradley_weekend",      # closed-form rank scores on the dict
    # r14 heavy-tail promotion (VERDICT r13 item 1): the full-registry
    # sweep (tools/bench_sweep.py, bench_sweep_r14.json) timed all 446
    # queries; every query whose min-of-2 STEADY-STATE re-probe
    # (tools/bench_reprobe.py, bench_reprobe_r14.json) read >= 2 s at
    # sf0.1 joins the recorded ladder — 51 promotions, 75 -> 126.
    "permutation_test_weekend_value",  # B resample scans, one pass each
    "streaming_topk_types_per_window", # windowed counts + closed-window rank
    "cronbachs_alpha_items",       # users x items reliability grid
    "dedup_incremental_neardup_batch", # band-index probe + append
    "pq_adc_topk",                 # PQ ADC lookup scan, single query
    "minhash_recall_audit",        # minhash pairs vs exact jaccard
    "streaming_left_outer_join_unmatched", # watermarked stream-stream LOJ
    "streaming_interval_join_pairs",   # time-bounded stream-stream join
    "bpe_fertility_by_source",     # learned merges applied corpus-wide
    "bpe_learned_merges",          # 16-round vocab-bounded pair merge
    "capped_running_balance_by_user",  # per-user recurrence (Arrow)
    "semdedup_corpus",             # centroid-bucketed embedding near-dup
    "profile_lineitem_columns",    # full-table column profiler
    "holt_user_values",            # per-user Holt recurrence (Arrow)
    "dedup_cluster_assignments_star",  # star-contraction CC variant
    "leakage_safe_split_sizes",    # CC-aware split assignment
    "kalman_user_values",          # per-user Kalman recurrence (Arrow)
    "dedup_cluster_size_histogram",    # CC + size histogram
    "davies_bouldin_clusters",     # Lloyd k-distance cluster index
    "knn_label_prediction",        # 5-NN vote vs fixed labeled slice
    "embedding_pq_codes",          # map-only PQ encode
    "decontaminate_fuzzy_neardup", # eval-gram fuzzy decontamination
    "geo_knn_escalation_audit",    # escalating-radius audit trail
    "dedup_canonical_corpus",      # CC + canonical representative
    "ewma_user_values",            # per-user EWMA recurrence (Arrow)
    "dedup_simhash_pairs",         # simhash block join
    "clustering_coefficient_cosupply", # wedge/triangle ratio
    "streaming_session_counts",    # session-window stream counts
    "pacf_daily_value",            # unrolled Durbin-Levinson on DAY series
    "dedup_simhash_multiblock_pairs",  # multi-block simhash join
    "dedup_containment_pairs",     # asymmetric containment near-dup
    "bfs_khop_cosupply",           # k-hop frontier expansion
    "harmonic_centrality_seeds",   # seeded multi-source BFS
    "pca_top_component_scores",    # d^2 Gram + power iteration + project
    "sssp_weighted_cosupply",      # weighted SSSP rounds
    "gbm_stumps_purchase",         # boosted stumps (iterative ML)
    "fk_candidate_audit",          # cross-column FK containment audit
    "importance_weight_ess",       # importance-weight diagnostics
    "brand_basket_lift",           # brand-pair basket lift grid
    "topsis_supplier_ranking",     # multi-criteria ranking
    "sssp_converged_cosupply",     # SSSP to convergence
    "mad_robust_outliers_by_type", # per-type MAD outlier screen
    "corpus_heavy_hitters",        # corpus-wide heavy hitters
    "poisson_glm_daily_trend",     # IRLS Poisson GLM
    "als_rank1_user_type",         # rank-1 ALS factorization
    "fligner_killeen_by_type",     # rank-based scale test on the dict
    "embedding_effective_rank",    # d^2 Gram spectral entropy
    "spearman_corr_lineitem",      # rank-transform + correlation
    "calinski_harabasz_clusters",  # Lloyd k-distance cluster index
    "winnow_shared_spans",         # winnowing fingerprint span join
    "grouped_logistic_by_type",    # per-type logistic Newton
]


# --- scaling slope ---------------------------------------------------------
# /root/testdata tops out at sf0.1, where fixed stage overhead swamps the
# per-query signal; the scale check replicates sf0.1 into a key-shifted xN
# copy (cached under .bench_scale/, gitignored) and re-times a subset to
# expose each query's scaling slope. Key columns shift per copy by a
# family-consistent offset so every join still matches within its copy.

ALL_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

KEY_FAMILIES: dict[str, list[tuple[str, str]]] = {
    "regionkey": [("region", "r_regionkey"), ("nation", "n_regionkey")],
    "nationkey": [
        ("nation", "n_nationkey"),
        ("customer", "c_nationkey"),
        ("supplier", "s_nationkey"),
    ],
    "custkey": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "orderkey": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "partkey": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "suppkey": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "event_id": [("events", "event_id")],
    "user_id": [("events", "user_id")],
    "doc_id": [("documents", "doc_id")],
    "vec_id": [("embeddings", "vec_id")],
}

# one representative per scaling-relevant family whose work grows ~linearly
# under replication. The pairwise near-dup queries are included since round 6:
# document text is alphabet-ROTATED per copy (novel vocab, not clones), so
# cross-copy shingle overlap is ~zero and within-copy near-dup structure is
# identical to base — pair counts and join work scale linearly by design,
# which is exactly the engine slope the check is meant to measure.
SCALE_HEADLINE = [
    "q1_pricing_summary",
    "region_revenue",
    "top_customers_by_revenue",
    "customer_order_count_distribution",
    "asof_join_click_to_view",
    "window_rolling_stats",
    "latest_event_per_user",
    "topk_latest_events",
    "calendar_activity",
    "text_profile",
    "dedup_exact_documents",
    "vocabulary_top50",
    "corpus_clean_pipeline",
    "contamination_check_5gram",
    "decontaminate_corpus",
    "chunk_documents_windows",
    "gapfill_locf_series",
    "similarity_topk",
    "knn_join_first5",
    "embedding_quantize_int8",
    "dedup_jaccard_pairs",
    "dedup_minhash_pairs",
    "dedup_cluster_assignments",
    # r6 additions: rotated-vocab replication keeps each of these linear —
    # disjoint cross-copy grams (spans/dsir/bloom), row-linear kmeans
    "exact_substring_spans",
    "dsir_select_top200",
    "kmeans_cluster_assignments",
    "bloom_contamination_check",
    # r6 third wave: shifted user/part/supp keys and rotated doc text make
    # each copy an independent component — NB vocab, SCD2 runs, ppjoin
    # pairs, and co-supply subgraphs all scale linearly by construction
    "naive_bayes_source_confusion",
    "scd2_user_state_history",
    "dedup_ppjoin_pairs",
    "triangle_count_cosupply",
    # r7: all four are single-pass scans/aggs over replicated rows —
    # linear by construction (zorder/script/entropy per-row + bounded
    # aggs; range shards re-sample per copy)
    "zorder_layout_events",
    "range_shard_balance",
    "script_mix_profile",
    "char_entropy_lowest",
    # r7 wave 3: shifted supp keys keep each copy's co-supply graph an
    # independent component (wedge work linear); Newton is k fixed passes
    # over replicated rows (linear by construction)
    "link_prediction_cosupply",
    "logistic_newton_purchase",
    # r8: session deltas and HLL registers are per-copy independent
    # (shifted user keys); both are one-or-two hash-agg scans — linear
    "peak_concurrency_daily",
    "hll_distinct_users_explicit",
    # r10: benford/jl/bootstrap are single-scan map+agg over replicated
    # rows (linear by construction); isotonic's iteration runs on the
    # fixed 20-bin table, only its input scan scales; the overlap join's
    # population is the fixed top-40-user slice — per-copy user shifts
    # keep each copy's slice independent
    "benford_price_audit",
    "jl_projection_distortion",
    "isotonic_calibration_bins",
    "bootstrap_ci_event_values",
    "session_overlap_pairs",
    # r10 wave 3: wilcoxon is one per-user agg + a diffs-sized rank;
    # markov is one lag-window scan into a constant 5x5 row; hurst is one
    # hourly agg + block-bounded windows. All linear by construction.
    # (media_* fixtures are doc_id-capped by design — constant under
    # replication; editdist's output is true pair mass, quadratic when
    # copies share the same 64-name vocabulary — both excluded.)
    "wilcoxon_signed_rank_weekend",
    "markov_stationary_event_types",
    "hurst_rescaled_range",
    # r11: the full bench set gets a recorded slope (VERDICT r10 item 5).
    # All of these are single-scan map+agg or hash-agg shapes over
    # replicated rows (kmv/ams/join-card: bounded sketch tables; obf/ipf/
    # delta/kruskal/wasserstein: constant-size result cells fed by one
    # scan; merkle: fixed bucket table; minhash_xxhash64: same rotated-
    # vocab story as the md5 family; source_cap_audit: source-partitioned
    # rank window, near-linear sort within the fixed source set)
    "dedup_minhash_pairs_xxhash64",
    "kmv_distinct_users",
    "source_cap_audit",
    "merkle_bucket_diff",
    "group_sequential_obrien_fleming",
    "ipf_raking_type_dow",
    "delta_method_ratio_ci",
    "kruskal_wallis_value_by_type",
    "wasserstein_weekend_shift",
    "ams_f2_sketch",
    "join_cardinality_estimate",
    # media fixtures cap participation at doc_id < 1024 BY DESIGN (the
    # planted pair mass must stay bounded; the unbounded scale story is
    # carried by the SimHash family sharing the same block join), so
    # their recorded slope measures a fixture-bounded constant — expected
    # strongly sublinear, and honest: the gate covers them instead of
    # silently skipping them
    "media_phash_pairs",
    "media_audiofp_pairs",
    # linear ONLY because build_scale_dir alphabet-rotates p_name per
    # copy (v3): rotation is a letter bijection, so within-copy edit
    # distances are preserved exactly while cross-copy names differ in
    # every character — pair mass per copy identical to base
    "editdist_part_name_pairs",
    # r12 heavy join surface (VERDICT r11 item 1). Linear stories:
    # geo_* — the sqrt(n) plane extent (queries._GEO_SIDE_SQL) keeps the
    # planted density CONSTANT under replication, so per-point candidate
    # counts are scale-invariant and radius/kNN pair mass grows with n,
    # not n^2 (the fixed 10^6 plane of r11 would have been quadratic —
    # that was a fixture artifact, not the engine slope). ktruss/lpa —
    # shifted supp keys make each copy's co-supply graph an independent
    # component: wedge and peel work linear. textrank — per-doc windows
    # over rotated text. pagerank — the node set is the constant
    # event-type dictionary; only the edge-extraction scan scales.
    # funnel — one watermarked scan, per-user-window state. keep_best —
    # rotated vocab keeps clusters within-copy; CC + argmax linear.
    "geo_knn_customers",
    "dbscan_customer_geo",
    "ktruss3_cosupply",
    "label_propagation_cosupply",
    "textrank_keywords",
    "pagerank_event_types",
    "streaming_funnel_per_window",
    "dedup_keep_best_quality",
    # r13. Linear stories: clark_evans/ripleys/hopkins ride the same
    # constant-density sqrt(n) plane as the r12 geo family (per-point NN
    # work scale-invariant; the hopkins anchor count is FIXED at 200 so
    # its pass is one linear scan); burrows_delta is a corpus scan into
    # a sources x 30 grid (sources constant under replication — the grid
    # is fixed, only the scan grows); breusch_pagan is two full scans
    # with scalar moments; ansari_bradley aggregates the value
    # DICTIONARY, which replication leaves fixed — expected sublinear,
    # recorded honestly like the media fixtures
    "clark_evans_nn_index",
    "ripleys_k_customers",
    "hopkins_statistic_geo",
    "burrows_delta_sources",
    "breusch_pagan_value_hour",
    "ansari_bradley_weekend",
    # r14 heavy-tail promotion — linearity stories by family:
    # (a) doc-text families ride the alphabet rotation (disjoint
    # cross-copy shingles/grams; within-copy structure identical):
    # dedup_* CC/simhash/containment/incremental, decontaminate_fuzzy,
    # minhash_recall, winnow_shared_spans, bpe_*, corpus_heavy_hitters,
    # leakage_safe_split_sizes, dedup_canonical.
    # (b) per-user/id recurrences and sessions ride shifted keys
    # (independent groups per copy): ewma/holt/kalman, capped_running_
    # balance, streaming_* (watermarked scans, per-key state).
    # (c) cosupply graphs ride shifted supplier keys (independent
    # components): bfs_khop, clustering_coefficient, sssp x2,
    # harmonic_centrality (fixed seed set -> expected sublinear, honest).
    # (d) embedding queries are d^2-Gram or broadcast-k shapes with
    # FIXED seed slices (constant under vec_id shifts): pq_codes,
    # pq_adc_topk, pca_top_component, effective_rank, davies_bouldin,
    # calinski_harabasz, knn_label_prediction (labeled side constant).
    # (e) single-scan statistics over replicated rows: permutation_test
    # (B passes), cronbachs_alpha (users x fixed items), profile_
    # lineitem, fk_candidate, importance_weight_ess, topsis, spearman,
    # mad_robust, poisson_glm, grouped_logistic, als_rank1, gbm_stumps,
    # brand_basket_lift; fligner_killeen and pacf aggregate the value
    # dictionary / DAY series (fixed under replication -> sublinear,
    # recorded honestly like ansari).
    # EXCLUDED from the scale tier: semdedup_corpus — scale copies
    # duplicate embedding VECTORS verbatim (only vec_id shifts), so
    # cross-copy cosine-1.0 dup pairs grow ~factor^2: a fixture
    # artifact, not an engine slope (the doc-side near-dup families
    # carry the measured near-dup scale story via rotated text).
    "permutation_test_weekend_value",
    "streaming_topk_types_per_window",
    "cronbachs_alpha_items",
    "dedup_incremental_neardup_batch",
    "pq_adc_topk",
    "minhash_recall_audit",
    "streaming_left_outer_join_unmatched",
    "streaming_interval_join_pairs",
    "bpe_fertility_by_source",
    "bpe_learned_merges",
    "capped_running_balance_by_user",
    "profile_lineitem_columns",
    "holt_user_values",
    "dedup_cluster_assignments_star",
    "leakage_safe_split_sizes",
    "kalman_user_values",
    "dedup_cluster_size_histogram",
    "davies_bouldin_clusters",
    "knn_label_prediction",
    "embedding_pq_codes",
    "decontaminate_fuzzy_neardup",
    "geo_knn_escalation_audit",
    "dedup_canonical_corpus",
    "ewma_user_values",
    "dedup_simhash_pairs",
    "clustering_coefficient_cosupply",
    "streaming_session_counts",
    "pacf_daily_value",
    "dedup_simhash_multiblock_pairs",
    "dedup_containment_pairs",
    "bfs_khop_cosupply",
    "harmonic_centrality_seeds",
    "pca_top_component_scores",
    "sssp_weighted_cosupply",
    "gbm_stumps_purchase",
    "fk_candidate_audit",
    "importance_weight_ess",
    "brand_basket_lift",
    "topsis_supplier_ranking",
    "sssp_converged_cosupply",
    "mad_robust_outliers_by_type",
    "corpus_heavy_hitters",
    "poisson_glm_daily_trend",
    "als_rank1_user_type",
    "fligner_killeen_by_type",
    "embedding_effective_rank",
    "spearman_corr_lineitem",
    "calinski_harabasz_clusters",
    "winnow_shared_spans",
    "grouped_logistic_by_type",
]

# bump when build_scale_dir's transform changes so stale caches rebuild
SCALE_BUILD_VERSION = "v3-rotated-part-names"


def build_scale_dir(spark, base_dir: str, factor: int) -> str:
    from pyspark.sql import functions as F

    root = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(root, ".bench_scale", f"x{factor}")
    marker = os.path.join(out, "_BUILT")
    # rebuild when any source table is newer than the cached copy: the
    # driver can regenerate testdata between rounds, and a stale replica
    # would silently compare fresh base timings against old scaled data
    src_mtime = max(
        os.path.getmtime(os.path.join(base_dir, f"{t}.parquet")) for t in ALL_TABLES
    )
    if (
        os.path.exists(marker)
        and os.path.getmtime(marker) >= src_mtime
        and open(marker).read().strip() == SCALE_BUILD_VERSION
    ):
        return out
    # events has shipped as both TIMESTAMP(NANOS) and timestamp[us];
    # nanosAsLong makes the nanos layout readable (as int64, preserved in the
    # copy) and is a no-op for the native layout — queries._t branches on the
    # dtype it actually gets, so either copy round-trips identically
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tables = {t: spark.read.parquet(f"{base_dir}/{t}.parquet") for t in ALL_TABLES}
    units: dict[tuple[str, str], int] = {}
    for fam, cols in KEY_FAMILIES.items():
        m = max(int(tables[t].agg(F.max(c)).collect()[0][0]) for t, c in cols)
        for t, c in cols:
            units[(t, c)] = m + 1
    for t, df in tables.items():
        copies = []
        for i in range(factor):
            cp = df
            if i:
                for c in df.columns:
                    u = units.get((t, c))
                    if u:
                        cp = cp.withColumn(c, F.col(c) + F.lit(i * u))
            if t == "documents" and i:
                # novel vocab per copy, NOT clones: rotate the alphabet by i
                # so shingle sets are disjoint across copies (length-preserving,
                # so n_chars and all length-gated filters keep base behavior);
                # within-copy near-dup structure is identical to base, making
                # pairwise near-dup work scale linearly with the data factor
                rot = i % 26
                if rot == 0:
                    raise ValueError("scale factor > 26 would alias copy vocab")
                lo = "abcdefghijklmnopqrstuvwxyz"
                cp = cp.withColumn("text", F.translate("text", lo, lo[rot:] + lo[:rot]))
            if t == "part" and i:
                # same rotation for part names (v3): a letter bijection
                # preserves within-copy edit distances exactly while making
                # cross-copy names differ in every character, so the
                # PassJoin pair mass stays per-copy-linear under replication
                rot = i % 26
                lo = "abcdefghijklmnopqrstuvwxyz"
                cp = cp.withColumn(
                    "p_name", F.translate("p_name", lo, lo[rot:] + lo[:rot])
                )
            copies.append(cp)
        union = copies[0]
        for cp in copies[1:]:
            union = union.unionByName(cp)
        union.write.mode("overwrite").parquet(os.path.join(out, f"{t}.parquet"))
    with open(marker, "w") as fh:
        fh.write(SCALE_BUILD_VERSION)
    return out


def _calibrate() -> float:
    """~1 s of fixed single-core work; the elapsed time is a direct
    machine-contention probe. On an idle machine this is a stable
    constant; under CPU contention it stretches proportionally, making
    a 2x-uniformly-slow bench run attributable at a glance (the round-7
    driver artifact was exactly that shape)."""
    t0 = time.perf_counter()
    x = 0
    for i in range(20_000_000):
        x += i
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    load_start = os.getloadavg()[0]
    calibration = _calibrate()
    spark = get_spark("bench")

    def run(name: str, d: str | None = None) -> float:
        fn = QUERIES.get(name) or EXTRA[name]
        t0 = time.perf_counter()
        fn(spark, d or sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    try:
        run("q1_pricing_summary")  # warmup (JVM/codegen/parquet footer caches)
    except Exception:
        pass

    # two timed runs, keep the min: per-plan codegen compilation (~1-3s,
    # constant) dominates sub-second queries at test scale and is noise for
    # a throughput comparison — the min reflects steady-state engine time.
    # Failure-isolated: one raising query records an error and the bench
    # continues, so a single broken table never zeroes the whole round.
    per_query: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        try:
            per_query[name] = round(min(run(name), run(name)), 3)
        except Exception as e:
            errors[name] = str(e).split("\n")[0][:200]

    total = round(sum(per_query.values()), 3)

    # single-node yardstick: the same oracle SQL on DuckDB (the reference
    # publishes no benchmark — BASELINE.md — so the strongest available
    # single-node engine serves as the comparison bar)
    duck_total = None
    try:
        import time as _time

        import duckdb

        from weatherdatapipeline_spark.queries import ORACLES

        con = duckdb.connect()
        for t in ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        duck = {}
        for name in HEADLINE:
            if name in ORACLES:
                try:
                    con.execute(ORACLES[name]).fetchall()  # warm
                    t0 = _time.perf_counter()
                    con.execute(ORACLES[name]).fetchall()
                    duck[name] = round(_time.perf_counter() - t0, 3)
                except Exception:
                    pass
        duck_total = round(sum(duck.values()), 3)
    except Exception:
        duck = {}

    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": float(sf),
        # machine-contention evidence (VERDICT r7 item 8): loadavg at
        # start/end plus a fixed 1-core calibration loop — a bench run
        # whose times are uniformly ~2x the committed ladder with a
        # stretched calibration/high loadavg is machine contention, not
        # a code regression
        "machine": {
            "loadavg_start": round(load_start, 2),
            "calibration_sec": calibration,
            "cpus": default_parallelism(),
        },
    }
    if errors:
        out["errors"] = errors
    if duck_total is not None:
        out["duckdb_same_queries_total"] = duck_total
        out["duckdb_queries"] = duck

    # scaling slope at factor x (default 5, i.e. ~sf0.5), min of 2 timed
    # runs per query (JVM already warm); SPARK_GRAFT_SCALE_FACTOR=1 disables.
    factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "5"))
    if factor > 1:
        try:
            scale_dir = build_scale_dir(spark, sf_dir, factor)
            scale_q: dict[str, float] = {}
            for n in SCALE_HEADLINE:
                if n not in per_query:
                    continue  # already failed at base scale
                try:
                    # min-of-2 like the base section: a single timed run is
                    # noise-sensitive (one GC pause / page-cache miss showed
                    # up as a false 2x-superlinear slope in round 5)
                    scale_q[n] = round(min(run(n, scale_dir), run(n, scale_dir)), 3)
                except Exception as e:
                    errors[f"scale:{n}"] = str(e).split("\n")[0][:200]
            base_subset = sum(per_query[n] for n in scale_q)
            stotal = sum(scale_q.values())
            # per-query slope normalized so 1.0 = linear-in-data: at factor f,
            # scale_time / (base_time * f). Fixed overhead pulls it below 1;
            # a super-linear operator pushes it above — validate.sh asserts
            # every headline slope stays < 1.3.
            slopes = {
                n: round(scale_q[n] / (per_query[n] * factor), 2)
                for n in scale_q
                if per_query[n] > 0.05  # sub-50ms base times are pure noise
            }
            out["scale_check"] = {
                "data_factor": factor,
                "sf": round(float(sf) * factor, 3),
                "total": round(stotal, 3),
                "base_subset_total": round(base_subset, 3),
                # aggregate: ideal linear scaling would be `factor`; fixed
                # overhead pulls it below, a super-linear operator above
                "slope": round(stotal / base_subset, 2) if base_subset else None,
                "per_query_slope": slopes,
                "queries": scale_q,
            }
        except Exception as e:  # the base bench line must survive
            out["scale_check"] = {"error": str(e)[:200]}
    # outside the try so per-query scale errors survive a later exception
    # in the slope computation (they'd otherwise be silently dropped)
    if errors:
        out["errors"] = errors

    # persist the full object in-repo: the driver's tail-capture can truncate
    # the one-line print, so per-query history must survive independently
    out["machine"]["loadavg_end"] = round(os.getloadavg()[0], 2)
    _persist_ladder(out)
    print(json.dumps(out))
    # The driver keeps only a bounded stdout tail, and the full record above
    # (with scale_check + per-query duckdb times) overflows it — BENCH_r08/r09
    # both recorded "parsed": null (VERDICT r9 item 1). Print a SECOND, short
    # final line with the spec-required fields plus the headline summary so
    # the driver's 2x-baseline gate always has machine-readable input. The
    # per-query dict is kept (spec requires it) but everything bulky
    # (scale per-query detail, duckdb per-query, errors text) is collapsed.
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "queries": per_query,
        "sf": out["sf"],
        "n": len(per_query),
        "errors": len(errors),
    }
    if duck_total is not None:
        compact["duckdb_same_queries_total"] = duck_total
    sc = out.get("scale_check")
    if isinstance(sc, dict) and sc.get("slope") is not None:
        compact["scale_slope"] = sc["slope"]
    print(json.dumps(compact, separators=(",", ":")))
    # THIRD, final line (VERDICT r10 item 1): the r9 compact line above still
    # carries the full per-query dict (~2,240 B at 61 queries), which
    # overflows the driver's 2,000-byte stdout tail and cut the line's head —
    # BENCH_r08/r09/r10 all recorded "parsed": null. The tail keeps the END
    # of stdout, so the LAST line must be the small one: summary fields only,
    # no per-query dict, ~170 bytes regardless of how many queries register.
    # Full per-query detail survives in the committed ladder file
    # (_persist_ladder above) and in the first full-object line.
    summary = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "sf": out["sf"],
        "n": len(per_query),
        "errors": len(errors),
    }
    if duck_total is not None:
        summary["duckdb_same_queries_total"] = duck_total
    if isinstance(sc, dict) and sc.get("slope") is not None:
        summary["scale_slope"] = sc["slope"]
    print(json.dumps(summary, separators=(",", ":")))


def ladder_path(
    root: str,
    rnd: str,
    loadavg_start: float,
    calibration_sec: float,
    sf: float = 0.1,
) -> str:
    """Where this run's full bench object belongs.

    Ladder protection (VERDICT r7 item 4, tightened per r8 item 3): ANY
    run on an evidently loaded machine is diagnostic data, not a new
    ladder point — route it to a ``-contended`` sidecar whenever a
    committed ladder file already exists, regardless of how much slower
    it came out (in r8 a loadavg-10.94 driver rerun at only 1.21x
    clobbered the idle per-query history because the old guard also
    required a 1.5x slowdown). An idle run — faster OR slower — always
    lands in the main file: an idle-but-slower run is a genuine
    regression and belongs in the ladder.
    """
    # a non-default scale factor is a SIDE PROBE, never a ladder point:
    # in r12 an idle x10 run silently clobbered the committed x5 ladder
    # file (base times from a different-purpose session, scale_check at
    # the wrong factor) — route it to its own -x{factor} sidecar.
    # Exception (ADVICE r12): factor=1 just DISABLES the scale check —
    # the base-query ladder is identical, so it IS a main-file run...
    # UNLESS the committed main file already carries a scale_check
    # section (ADVICE r13): overwriting it with a factor=1 object would
    # silently drop the per-query slope evidence COVERAGE.md cites —
    # the exact clobber class this function exists to prevent. Route
    # that case to an -x1 sidecar.
    factor = os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "5")
    if factor not in ("1", "5"):
        return os.path.join(root, f"bench_local_r{rnd}_x{factor}.json")
    if factor == "1":
        main = os.path.join(root, f"bench_local_r{rnd}.json")
        try:
            with open(main) as fh:
                if "scale_check" in json.load(fh):
                    return os.path.join(root, f"bench_local_r{rnd}_x1.json")
        except Exception:
            pass
    # a non-default SF_DIR run (e.g. an sf0.01 smoke) is a side probe
    # too — same clobber class as the factor sidecars, different knob
    if sf != 0.1:
        tag = str(sf).replace(".", "p")
        return os.path.join(root, f"bench_local_r{rnd}_sf{tag}.json")
    path = os.path.join(root, f"bench_local_r{rnd}.json")
    if os.path.exists(path):
        # contention gate (VERDICT r12 item 2): a frozen artifact is only
        # replaceable by a provably-idle run — loadavg must be low in
        # absolute terms (the r12 clobber ran at 4.23, under the old
        # cpus/4=8 bar) AND the 1-core calibration loop must not have
        # drifted >15% from the committed artifact's own recording.
        loaded = loadavg_start > 2.0 or calibration_sec > 2.0
        if not loaded:
            try:
                with open(path) as fh:
                    prev = json.load(fh)["machine"]["calibration_sec"]
                if prev and calibration_sec > prev * 1.15:
                    loaded = True
            except Exception:
                pass
        if loaded:
            path = os.path.join(root, f"bench_local_r{rnd}-contended.json")
    return path


def _persist_ladder(out: dict) -> None:
    try:
        root = os.path.dirname(os.path.abspath(__file__))
        rnd = os.environ.get("SPARK_GRAFT_ROUND")
        if not rnd:
            import re as _re

            prior = [
                int(m.group(1))
                for f in os.listdir(root)
                for m in [_re.match(r"BENCH_r(\d+)\.json$", f)]
                if m
            ]
            rnd = f"{(max(prior) + 1) if prior else 0:02d}"
        path = ladder_path(
            root,
            rnd,
            out["machine"]["loadavg_start"],
            out["machine"]["calibration_sec"],
            float(out.get("sf", 0.1)),
        )
        with open(path, "w") as fh:
            json.dump(out, fh, indent=2)
            fh.write("\n")
    except Exception:
        pass  # never let bookkeeping kill the bench line


if __name__ == "__main__":
    main()
