"""Physical-plan audit: assert the optimizations we design for actually
appear in the executed plans (SURVEY.md §4.2).

Checks per query:
- parquet scans carry PushedFilters when the query filters scan columns
- ReadSchema is pruned to the referenced columns (no SELECT * scans)
- dimension joins use BroadcastHashJoin, not SortMergeJoin
- global top-k compiles to TakeOrderedAndProject (no full sort)
- WholeStageCodegen spans cover the hot operators

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from weatherdatapipeline_spark.queries import QUERIES
from weatherdatapipeline_spark.session import get_spark


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _only_partcap_window(p: str) -> bool:
    """True when every window in the plan is the shared co-supply
    part-cap rank (row_number partitioned by pk — queries._cosupply_ps,
    VERDICT r9 finding #1); any other window operator fails."""
    return all(
        m.startswith("pk") for m in re.findall(r"windowspecdefinition\((\w+)", p)
    )


CHECKS = {
    "q1_pricing_summary": [
        ("pushdown", r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate"),
        ("pruned schema", r"ReadSchema:[^\n]*l_returnflag"),
        ("no-extra-cols", lambda p: "l_orderkey" not in re.search(r"ReadSchema:[^\n]*", p).group(0)),
        ("partial agg", r"HashAggregate"),
        # scan→filter→project→partial-agg pipeline with no intermediate
        # exchange = one codegen stage in practice (formatted-mode AQE plans
        # don't label codegen, so assert the pipeline shape instead)
        ("pipelined pre-agg", lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1),
    ],
    "region_revenue": [
        ("broadcast dims", r"BroadcastHashJoin"),
        ("pruned lineitem scan", lambda p: "l_comment" not in p and "l_linenumber" not in re.search(r"ReadSchema:[^\n]*lineitem[^\n]*", p or "x").group(0) if re.search(r"ReadSchema:[^\n]*lineitem[^\n]*", p) else True),
    ],
    "topk_latest_events": [
        ("TakeOrdered not global sort", r"TakeOrderedAndProject"),
    ],
    "price_elasticity_loglog": [
        # one corpus scan into one aggregate: no join, no window, and the
        # per-row ln terms are quantized before the partial agg
        ("single aggregate, no join no window", lambda p: "Join" not in p and "Window" not in p),
        ("pruned lineitem scan", r"ReadSchema:[^\n]*l_extendedprice"),
    ],
    "dunning_g2_collocations": [
        ("top-k is TakeOrdered", r"TakeOrderedAndProject"),
        ("vocabulary joins broadcast or shuffled-hash", r"(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin)"),
    ],
    "topsis_supplier_ranking": [
        ("top-k is TakeOrdered", r"TakeOrderedAndProject"),
        ("1-row combines broadcast", r"BroadcastExchange|BroadcastNestedLoopJoin"),
    ],
    "double_ml_partial_linear": [
        ("48-cell nuisance table broadcast", r"BroadcastHashJoin"),
        ("no window", lambda p: "Window" not in p),
    ],
    "chow_test_daily_value": [
        ("no window (closed-form SSR from power sums)", lambda p: "Window" not in p),
    ],
    "top_customers_by_revenue": [
        ("TakeOrdered", r"TakeOrderedAndProject"),
        ("join", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
    ],
    "customers_with_big_orders": [
        ("semi join", r"(LeftSemi|BroadcastHashJoin.*LeftSemi)"),
        ("pushdown on orders", r"PushedFilters: \[.*GreaterThan\(o_totalprice"),
    ],
    "latest_event_per_user": [
        ("agg not window", lambda p: "max_by" in p or "HashAggregate" in p),
        ("no window exchange sort", lambda p: "Window" not in p),
    ],
    "zorder_layout_events": [
        # banding bounds ride a 1-row broadcast (BNLJ over one row), and the
        # whole layout pass is scan -> band/interleave -> ONE final agg: the
        # only exchanges are the 1-row stats agg and the zfile agg
        ("broadcast banding bounds", r"BroadcastNestedLoopJoin"),
        ("two exchanges only", lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 2),
        ("no window", lambda p: "Window" not in p),
    ],
    "range_shard_balance": [
        # boundaries are driver-collected literals (the RangePartitioner
        # contract — only the bounded sample is sorted, distributed), so
        # assignment compiles to a static comparison chain: NO join, NO
        # window, one exchange for the final per-shard agg
        ("no join at all", lambda p: "Join" not in p),
        ("no window", lambda p: "Window" not in p),
        ("single exchange", lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1),
    ],
    "embedding_quantize_int8": [
        # int8 quantization must compile to a map-only plan: array
        # transforms + posexplode pipeline with the scan, zero shuffles
        ("map-only, zero exchange", lambda p: "Exchange" not in p),
        ("pruned scan", r"ReadSchema:[^\n]*embedding"),
    ],
    "sample_per_source_deterministic": [
        # exact-k per-group sample: ONE shuffle on the group key, the
        # rank window is partitioned (never a global sort)
        ("partitioned window", r"windowspecdefinition\(source"),
        ("single exchange", lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1),
    ],
    "source_mixture_weights": [
        # 1-row totals join back via broadcast, not a shuffle join
        ("broadcast totals", r"Broadcast(NestedLoopJoin|Exchange)"),
        ("text column pruned", lambda p: "text" not in re.search(r"ReadSchema:[^\n]*", p).group(0)),
    ],
    "dedup_exact_documents": [
        ("hash agg dedup", r"HashAggregate"),
    ],
    "window_rolling_stats": [
        ("single window exchange", lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 1),
    ],
    "vocabulary_top50": [
        ("wordcount is hash agg + TakeOrdered", r"TakeOrderedAndProject"),
        ("partial agg before shuffle", r"HashAggregate"),
    ],
    "label_centroids": [
        ("single shuffle for the centroid agg",
         lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 1),
    ],
    "range_join_value_bands": [
        ("broadcast nested loop, not cartesian",
         r"BroadcastNestedLoopJoin"),
    ],
    "q7_volume_shipping": [
        ("shipdate range pushed to scan", r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate"),
        ("dims broadcast, facts shuffle", r"BroadcastHashJoin"),
        ("no sort-merge on the dim side", lambda p: p.count("SortMergeJoin") <= 2),
    ],
    "q18_large_volume_customers": [
        ("HAVING side aggregated once", lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1),
        ("orders+customer joins broadcast", lambda p: p.count("BroadcastHashJoin") >= 2),
        ("global top-100 is TakeOrdered", r"TakeOrderedAndProject"),
    ],
    "q20_excess_shipment_suppliers": [
        ("part subset is a broadcast semi join", r"BroadcastHashJoin LeftSemi"),
        ("one shuffle (per-supplier agg)",
         lambda p: len(re.findall(r"\(\d+\) Exchange(?! hashpartitioning.*REPARTITION)", p)) <= 2),
    ],
    "sessionize_events_batch": [
        ("one user-key shuffle feeds both windows AND the session agg",
         lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1),
        ("stacked windows share one sort", lambda p: len(re.findall(r"\(\d+\) Sort", p)) == 1),
    ],
    "split_sizes_3way": [
        ("split assign is map-only (single agg exchange)",
         lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1),
        ("scan pruned to id+chars", lambda p: "text" not in re.search(r"ReadSchema:[^\n]*", p).group(0)),
    ],
    "order_price_quartiles": [
        # the r3 rework: sketch boundaries + map-side bucketing, never a
        # global ntile window (single-partition sort of the whole table)
        ("no window at all", lambda p: "Window" not in p),
        ("boundary row broadcast into the bucketing scan", r"BroadcastNestedLoopJoin|BroadcastExchange"),
        ("no global sort", lambda p: "Sort " not in p or "TakeOrdered" in p),
    ],
    "pack_contiguous_bins": [
        ("cumulative window partitions by shard (parallel)",
         r"windowspecdefinition\(shard_id"),
        ("no single-partition exchange", lambda p: "SinglePartition" not in p),
    ],
    "dedup_jaccard_pairs": [
        # df-cut on by default: the doc-count row broadcasts into the
        # frequency filter join
        ("df-cut corpus-count broadcast", r"BroadcastNestedLoopJoin|BroadcastExchange"),
    ],
    "decontaminate_corpus": [
        ("eval gram set broadcast, corpus never shuffled against it",
         r"BroadcastHashJoin"),
    ],
    "redact_pii_documents": [
        ("map-only: no exchange at all", lambda p: "Exchange" not in p),
    ],
    "winnow_doc_fingerprints": [
        # sliding-min window partitions by doc — never a global sort
        ("partitioned sliding window", r"windowspecdefinition\(doc_id"),
        # guard the search: a plan without a ReadSchema line is a FAILED
        # check, not an AttributeError crash of the audit itself
        ("scan pruned to id+text",
         lambda p: (lambda m: m is not None and "lang" not in m.group(0))(
             re.search(r"ReadSchema:[^\n]*", p))),
    ],
    "gopher_quality_report": [
        ("map-only: no exchange at all", lambda p: "Exchange" not in p),
    ],
    "c4_line_stats": [
        ("map-only: no exchange at all", lambda p: "Exchange" not in p),
    ],
    "token_budget_sample_1k": [
        # per-group budget admission: the cumulative window partitions by
        # source — one group-key shuffle, never a global sort
        ("partitioned cumulative window", r"windowspecdefinition\(source"),
        ("single exchange", lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1),
    ],
    "remove_boilerplate_chunks": [
        # the df>=K removal set is tiny: the anti-join must broadcast it
        ("removal set broadcast into the anti join", r"BroadcastHashJoin LeftAnti"),
    ],
    "bigram_perplexity_scores": [
        # the 1-row vocab count rides a broadcast, not a shuffle join
        ("vocab count broadcast", r"BroadcastNestedLoopJoin|BroadcastExchange"),
    ],
    "q5_local_supplier_volume": [
        ("date window pushed to orders scan", r"PushedFilters: \[.*GreaterThanOrEqual\(o_orderdate"),
        ("dims broadcast", lambda p: p.count("BroadcastHashJoin") >= 3),
    ],
    "q10_returned_items": [
        ("returnflag pushed to lineitem scan", r"PushedFilters: \[.*EqualTo\(l_returnflag,R\)"),
        ("global top-20 is TakeOrdered", r"TakeOrderedAndProject"),
    ],
    "q19_disjunctive_revenue": [
        # the OR-of-ANDs must not block scan-level pruning of the common
        # conjuncts: brand IN and size/qty ranges reach the scans via Or
        ("disjunction pushed to scan", r"PushedFilters: \[.*Or\("),
    ],
    "q6_forecast_revenue": [
        # the canonical pushdown microbenchmark: all three range
        # predicates must reach the lineitem scan
        ("shipdate range pushed", r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate"),
        ("discount band pushed", r"PushedFilters: \[.*GreaterThanOrEqual\(l_discount"),
        ("quantity cap pushed", r"PushedFilters: \[.*LessThan\(l_quantity"),
    ],
    "q4_order_priority": [
        ("EXISTS compiles to a semi join", r"LeftSemi"),
        ("orderdate quarter pushed to scan", r"PushedFilters: \[.*GreaterThanOrEqual\(o_orderdate"),
    ],
    "q9_product_profit": [
        ("part/supplier/nation dims broadcast", lambda p: p.count("BroadcastHashJoin") >= 3),
        ("red-part filter pushed", r"PushedFilters: \[.*StringContains\(p_name,red\)"),
    ],
    "q16_supplier_part_counts": [
        ("NOT IN compiles to broadcast anti join", r"BroadcastHashJoin.*LeftAnti|LeftAnti, BuildRight"),
        ("size IN-list pushed to part scan", r"PushedFilters: \[.*In\(p_size"),
    ],
    "dsir_select_top200": [
        # the 1024-row bucket weight table must broadcast back into the
        # exploded feature stream, never shuffle it
        ("weight table broadcasts", r"BroadcastHashJoin"),
        ("top-200 is TakeOrdered", r"TakeOrderedAndProject"),
    ],
    "bloom_contamination_check": [
        ("bit-position table broadcasts", r"BroadcastHashJoin"),
    ],
    "cms_token_frequencies": [
        ("bounded sketch broadcasts into the probe join", r"BroadcastHashJoin"),
    ],
    "aqp_event_value_estimate": [
        # the md5 sample predicate is a derived expression (not a
        # pushable parquet filter) but must still run as a scan-stage
        # Filter on the estimate branch: two events scans, one carrying
        # the md5 bucket filter right above it
        ("two scan branches", lambda p: p.count("Scan parquet") >= 2),
        # formatted plans put the Filter node and its Condition on
        # separate lines — match the condition line itself
        ("sample filter is an md5 projection filter", r"Condition :.*md5"),
    ],
    # --- round-6 third-wave operators -------------------------------------
    "skyline_parts_price_size": [
        # banded two-level cummin: every window partitions by band; the
        # cross-band prefix is a tiny self-join, never a global sort
        ("no single-partition exchange", lambda p: "SinglePartition" not in p),
        ("windows partitioned by band", r"windowspecdefinition\(_band"),
        ("scan pruned to key+price+size",
         lambda p: "p_name" not in re.search(r"ReadSchema:[^\n]*", p).group(0)),
    ],
    "naive_bayes_source_confusion": [
        ("prior table broadcast", r"BroadcastNestedLoopJoin|BroadcastExchange"),
        ("argmax window partitioned by doc", r"windowspecdefinition\(_doc"),
        ("map-side-combined aggs", r"HashAggregate"),
    ],
    "scd2_user_state_history": [
        ("windows partitioned by the entity key",
         r"windowspecdefinition\(user_id"),
        ("no single-partition exchange", lambda p: "SinglePartition" not in p),
    ],
    "triangle_count_cosupply": [
        ("quantity slice pushed to the lineitem scan",
         r"PushedFilters: \[.*GreaterThanOrEqual\(l_quantity"),
        ("scan pruned to part+supp keys",
         lambda p: "l_extendedprice" not in re.search(r"ReadSchema:[^\n]*", p).group(0)),
    ],
    "monthly_revenue_mom_growth": [
        # previous month via equi-join on the month index, not a window
        ("no window at all", lambda p: "Window" not in p),
    ],
    "dedup_ppjoin_pairs": [
        ("prefix rank window partitioned per doc",
         r"windowspecdefinition\(doc_id"),
        ("no single-partition exchange", lambda p: "SinglePartition" not in p),
    ],
    "temporal_cv_persistence_mae": [
        ("fold boundaries broadcast into the scoring pass",
         r"BroadcastNestedLoopJoin|BroadcastExchange"),
        ("persistence lag window partitioned by user",
         r"windowspecdefinition\(user_id"),
    ],
    "equi_depth_deciles_value": [
        ("no window (boundaries from one agg row)", lambda p: "Window" not in p),
        ("boundary row broadcast", r"BroadcastNestedLoopJoin|BroadcastExchange"),
    ],
    # --- r7 wave, audited post-r8 fixes -----------------------------------
    "link_prediction_cosupply": [
        # hub cap on wedge CENTERS rides a plain filter before the self-join
        ("hub degree cap filter", r"<= 64\.0"),
        ("top-20 via TakeOrdered", r"TakeOrderedAndProject"),
        ("only the part-cap rank window", _only_partcap_window),
    ],
    "link_prediction_hub_audit": [
        # graph build (ps self-join) feeds ONE degree agg then ONE 1-row
        # audit agg — no wedge self-join, no window beyond the part cap
        ("only the part-cap rank window", _only_partcap_window),
        ("audit agg", r"HashAggregate"),
    ],
    "kcore_cosupply": [
        # peeling rounds run eagerly behind localCheckpoint; the visible
        # plan is checkpoint-scan -> union -> ONE degree agg, no window
        ("no window", lambda p: "Window" not in p),
        ("degree agg", r"HashAggregate"),
    ],
    "holt_winters_daily": [
        # recursion state lives in grouped Arrow batches, keyed by type
        ("grouped-map recursion", r"FlatMapGroupsInPandas"),
        ("no window anywhere", lambda p: "Window" not in p),
    ],
    "propensity_stratified_ate": [
        # quintile boundaries are a 1-row agg broadcast back (BNLJ), and
        # the only window is the orderless 5-row stratum frame
        ("broadcast strata bounds", r"BroadcastNestedLoopJoin"),
        ("no ordered global window", lambda p: not re.search(
            r"windowspecdefinition\([^(,]*\s(ASC|DESC)\s", p)),
    ],
    "bh_fdr_type_screen": [
        # post-r8 restructure: rank/m/i* via broadcast self-join + 1-row
        # aggs over the k-type frame — zero Window operators
        ("no window at all", lambda p: "Window" not in p),
        ("broadcast rank join", r"BroadcastNestedLoopJoin"),
    ],
    "pq_adc_topk": [
        ("no window at all", lambda p: "Window" not in p),
        ("rank via broadcast self-join", r"BroadcastNestedLoopJoin"),
    ],
    "sssp_converged_cosupply": [
        # converged distance table is checkpoint-backed; output is a
        # straight projection, no window, no residual wide join
        ("no window", lambda p: "Window" not in p),
    ],
    # --- r8 wave 2 ---------------------------------------------------------
    "peak_concurrency_daily": [
        # the sweep line's running sum is day-partitioned; the carry
        # rides a broadcast of the bounded day list
        ("day-partitioned running sum", r"windowspecdefinition\(day_idx"),
        ("bounded-days broadcast", r"BroadcastNestedLoopJoin|BroadcastExchange"),
    ],
    "hll_distinct_users_explicit": [
        # sketch = two hash aggs; no window, no sort of the corpus
        ("no window", lambda p: "Window" not in p),
        ("register aggregation", r"HashAggregate"),
    ],
    "permutation_test_weekend_value": [
        # permutation axis is a GROUP KEY (explode + one agg), never a loop
        ("no window", lambda p: "Window" not in p),
        ("explode fan-out", r"Generate|Expand"),
    ],
    "als_rank1_user_type": [
        # factor tables derive from the checkpointed cells table;
        # half-rounds are joins + aggs, no window
        ("no window", lambda p: "Window" not in p),
    ],
    "cox_ph_churn_by_arm": [
        # Newton ran at plan-build over the checkpointed risk table; the
        # visible plan is the final bounded aggregate
        ("no window", lambda p: "Window" not in p),
        ("final 1-row agg", r"HashAggregate"),
    ],
    "token_budget_admission": [
        # the prefix gate is exactly ONE source-partitioned window
        ("source-partitioned prefix sum", r"windowspecdefinition\(source"),
        ("single exchange", lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1),
    ],
    "uplift_tlearner_by_hour": [
        # both fits happened at plan-build (literal betas); final plan is
        # one grouped count over the scan
        ("no window", lambda p: "Window" not in p),
        ("no join at all", lambda p: "Join" not in p),
    ],
    # --- r9 wave ---
    "kmv_distinct_users": [
        # the k-smallest rank is type-partitioned, never a global sort
        ("partitioned rank window", r"windowspecdefinition\(event_type"),
        ("pruned events scan", r"ReadSchema:[^\n]*user_id"),
    ],
    "kmv_union_merge_audit": [
        # the |types|^2 pair table rides broadcast into both arms
        ("broadcast pair fan-out", r"BroadcastNestedLoopJoin"),
        ("partitioned rank windows", r"windowspecdefinition\(type_a"),
    ],
    "kmv_intersection_estimate": [
        ("broadcast pair fan-out", r"BroadcastNestedLoopJoin"),
        ("pair-partitioned union-sketch rank", r"windowspecdefinition\(type_a"),
    ],
    "simpsons_paradox_screen": [
        # pooled row rides a 1-row broadcast; no window anywhere
        ("no window at all", lambda p: "Window" not in p),
        ("broadcast pooled join", r"BroadcastNestedLoopJoin"),
    ],
    "neyman_allocation_by_type": [
        # Hamilton rank over k stratum rows = broadcast self-join count,
        # same no-global-window shape as bh_fdr
        ("no window at all", lambda p: "Window" not in p),
        ("broadcast rank join", r"BroadcastNestedLoopJoin"),
    ],
    "sprt_daily_readout": [
        # cumulative over the bounded daily table = broadcast self-join
        ("no window at all", lambda p: "Window" not in p),
        ("broadcast cumulative join", r"BroadcastNestedLoopJoin"),
    ],
    "merkle_bucket_diff": [
        # 2x256 fingerprint rows meet in a full-outer bucket join
        ("full outer fingerprint join", r"FullOuter"),
        ("no window at all", lambda p: "Window" not in p),
    ],
    "covariate_balance_smd": [
        ("single long-form aggregate, no window", lambda p: "Window" not in p),
        ("pruned events scan", r"ReadSchema:[^\n]*user_id"),
    ],
    "ridge_drop_column_importance": [
        # one ten-moment aggregate; all three fits are column arithmetic
        ("no join no window", lambda p: "Join" not in p and "Window" not in p),
    ],
    "scd2_point_in_time_join": [
        # probe and dimension co-partition on user_id
        ("user-keyed windows only", lambda p: not re.search(
            r"windowspecdefinition\((?!user_id)", p)),
    ],
    "bottomk_quantile_sketch": [
        ("partitioned sample window", r"windowspecdefinition\(event_type"),
        ("pushdown value filter", r"PushedFilters: \[.*IsNotNull\(value"),
    ],
    "cohens_kappa_quality_raters": [
        # per-doc rater math stays in codegen; one 1-row aggregate, no join
        ("single aggregate no join", lambda p: "Join" not in p),
        ("pruned docs scan", lambda p: "doc_id" not in re.search(
            r"ReadSchema:[^\n]*", p).group(0)),
    ],
    "source_cap_audit": [
        ("source-partitioned rank", r"windowspecdefinition\(source"),
        ("pruned docs scan", lambda p: "text" not in re.search(
            r"ReadSchema:[^\n]*", p).group(0)),
    ],
    # --- r10 wave ----------------------------------------------------------
    "benford_price_audit": [
        # 9-group agg + 1-row total broadcast; price column only
        ("no window", lambda p: "Window" not in p),
        ("total broadcast", r"BroadcastNestedLoopJoin|BroadcastExchange"),
        ("pruned lineitem scan", lambda p: "l_comment" not in re.search(
            r"ReadSchema:[^\n]*", p).group(0)),
    ],
    "jl_projection_distortion": [
        # sign matrix is plan literals: map-only until the band agg
        ("no join at all", lambda p: "Join" not in p),
        ("no window", lambda p: "Window" not in p),
        ("single exchange (band agg)",
         lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1),
    ],
    "isotonic_calibration_bins": [
        # the whole minimax fold is broadcast theta joins on bounded tables
        ("no window", lambda p: "Window" not in p),
        ("broadcast minimax joins", r"BroadcastNestedLoopJoin"),
    ],
    "record_linkage_part_names": [
        # block-cap rank is the only window, partitioned by the block key
        ("block-partitioned rank", r"windowspecdefinition\(blk"),
        ("top-20 via TakeOrdered", r"TakeOrderedAndProject"),
    ],
    "session_overlap_pairs": [
        # bounded user slice broadcasts; session windows are user-keyed
        ("user-partitioned session windows", r"windowspecdefinition\(user_id"),
        ("interval theta join is broadcast", r"BroadcastNestedLoopJoin"),
        ("no single-partition exchange", lambda p: "SinglePartition" not in p),
    ],
    "delta_method_ratio_ci": [
        # per-user aggregate feeds arm totals; totals broadcast back
        ("no window", lambda p: "Window" not in p),
        ("totals broadcast join", r"BroadcastHashJoin|BroadcastExchange"),
    ],
    "mutual_information_screen": [
        ("no window", lambda p: "Window" not in p),
        ("marginals broadcast", r"BroadcastNestedLoopJoin|BroadcastExchange"),
    ],
    "feature_hashing_audit": [
        ("no window", lambda p: "Window" not in p),
        ("top-20 via TakeOrdered", r"TakeOrderedAndProject"),
    ],
    "grouped_logistic_by_type": [
        # betas stay in-plan: every Newton step joins the |types|-row
        # beta table back via broadcast — no window anywhere
        ("no window", lambda p: "Window" not in p),
        ("beta broadcast joins", r"BroadcastHashJoin"),
    ],
    "quantile_normalize_by_source": [
        # rank window is source-partitioned; pooled quantiles broadcast
        # (the 1-row pooled array-percentile agg legitimately reduces to
        # a single partition — it is bounded output, not a corpus sort)
        ("source-partitioned rank", r"windowspecdefinition\(source"),
        ("pooled quantiles broadcast", r"BroadcastNestedLoopJoin|BroadcastExchange"),
        ("no global ordered window", lambda p: not re.search(
            r"windowspecdefinition\((?!source)", p)),
    ],
}


# A windowspecdefinition whose FIRST argument is an ordering expression
# ("col ASC/DESC NULLS ...") has no partition columns -> the window runs
# on Exchange SinglePartition: the whole input through one task. No
# registered query is allowed to ship such a plan.
_GLOBAL_WINDOW = re.compile(r"windowspecdefinition\([^(,]*\s(ASC|DESC)\s")


def global_window_sweep(spark, sf_dir: str) -> int:
    """Assert NO registered query plan contains a partition-less Window."""
    failures = 0
    for name, fn in QUERIES.items():
        try:
            plan = plan_of(fn(spark, sf_dir))
        except Exception as e:  # a broken query is its own failure
            print(f"FAIL  {name}: no-global-window sweep could not build plan: {e}")
            failures += 1
            continue
        hits = _GLOBAL_WINDOW.findall(plan)
        ok = not hits
        if not ok or "-v" in sys.argv:
            print(f"{'ok  ' if ok else 'FAIL'}  {name}: no partition-less window")
        failures += 0 if ok else 1
    print(f"no-global-window sweep: {len(QUERIES)} plans checked, {failures} failures")
    return failures


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-audit")
    failures = 0
    for name, checks in CHECKS.items():
        plan = plan_of(QUERIES[name](spark, sf_dir))
        for label, check in checks:
            ok = bool(check(plan)) if callable(check) else bool(re.search(check, plan))
            print(f"{'ok  ' if ok else 'FAIL'}  {name}: {label}")
            failures += 0 if ok else 1
            if not ok and not callable(check):
                scan = "\n".join(
                    line for line in plan.splitlines()
                    if any(k in line for k in ("PushedFilters", "ReadSchema", "Join", "Sort", "Window", "TakeOrdered"))
                )
                print("      --- relevant plan lines ---")
                for line in scan.splitlines()[:12]:
                    print("     ", line.strip()[:150])
    failures += global_window_sweep(spark, sf_dir)
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
