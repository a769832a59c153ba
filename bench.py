"""Benchmark harness: runs the catalog's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with a noop sink (full computation, no
driver collect). Sessions are warmed with a trivial action first so JVM
startup isn't billed to the first query. The suite runs as TWO
INTERLEAVED passes (pass 1 over all queries, then pass 2)
and each query records its best time: run-to-run variance on a shared
box is dominated by JIT + whole-stage-codegen compilation (a per-plan
constant a long-running cluster amortizes to zero) plus box-load
spikes, which are temporally clustered — interleaving puts minutes
between a query's samples, so a single busy window can no longer
contaminate every sample of one query (which back-to-back best-of-2
was vulnerable to).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from finance_reporting_etl_spark.runs import start_run  # noqa: E402
from finance_reporting_etl_spark.session import get_spark  # noqa: E402

# Headliners: the reference-parity marts, the TPC-H-shaped joins/aggs,
# and each extension-operator family at its most expensive.
HEADLINE = [
    "mart_financial_summary",
    "mart_financial_kpis",
    "q1_pricing_summary",
    "q3_top_orders",
    "regional_revenue",
    "pivot_by_report_type",
    "hourly_event_rollup",
    "sessionize_events",
    "merge_latest_per_key",
    "monthly_trend_mom",
    "text_stats",
    "dedup_exact",
    "ngram_jaccard_pairs",
    "minhash_lsh_near_dup",
    "simhash_near_dup",
    "similarity_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "regional_rollup",
    "distinct_daily_users",
    "asof_latest_view_before_purchase",
    "corpus_clean",
    # round-2 additions
    "economic_indicators",
    "indicator_stats",
    "retention_filter",
    "media_feature_extract",
    "lsh_embedding_cosine_dups",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "order_price_quantiles",
    "dedup_clusters",
    "q10_returned_item_revenue",
    "q12_late_shipment_priority",
    "q14_promo_revenue_share",
    "q19_bracketed_discount_revenue",
    "q13_order_count_distribution",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q18_large_volume_orders",
    "q22_idle_rich_customers",
    "corpus_hash_split",
    "corpus_chunking",
    "rolling_7day_revenue",
    "customer_spend_deciles",
    "repetition_metrics",
    "decontaminate_4gram",
    "q8_market_share",
    "q21_waiting_supplier",
    "kmeans_cluster_profile",
    "tfidf_top_terms",
    "keyword_search_topk",
    "chunk_dedup_occurrences",
    "event_funnel",
    "cohort_retention",
    # round-3 additions
    "attribution_window_join",
    "skew_salted_event_rollup",
    "corpus_shuffle_shard",
    "sequence_packing",
    "semantic_dedup",
    "embedding_inference_scores",
    # round-4 additions
    "media_decode_features",
    "price_quantiles_distributed",
    "lm_quality_scores",
    "ingest_pages_datasource",
    "variant_event_payloads",
    "ann_ivfpq_topk",
    "heavy_hitters_cms",
    "event_grouping_sets",
    "lineitem_unpivot_metrics",
    "corpus_upsample_epochs",
    "quality_percentile_filter",
    "stratified_reservoir_sample",
    "profile_documents_table",
    "label_time_to_next_purchase",
    "rolling_7day_distinct_users",
    "per_lang_token_length_regression",
    "mixture_rebalance_to_target",
    "length_bucketed_batching",
    "user_value_ema",
    "rollup_cascade_monthly",
    # round-4 late-session additions
    "bitmap_distinct_rollup",
    "hll_distinct_rollup",
    "part_copurchase_pagerank",
    "rolling_zscore_anomalies",
    "indicator_linear_interpolation",
    "random_projection_topk",
    "histogram_quantile_rollup",
    "corpus_training_pipeline",
    "entity_resolution_blocked",
    "event_transition_matrix",
    "copurchase_association_rules",
    "dbt_schema_tests",
    "dedup_incremental_batch",
    # continuation-session additions
    "copurchase_bfs_distances",
    "span_dedup_rewrite",
    "winsorized_value_stats",
    "bm25_search_topk",
    "target_encode_brand",
    "k_anonymity_suppress",
    "embedding_int8_quantize",
    "abc_customer_classification",
    "business_days_to_ship",
    "event_trigram_paths",
    "corpus_token_budget_select",
    "session_bounce_rate",
    "decision_stump_train",
    "join_key_skew_profile",
    "rolling_correlation_series",
    "ab_test_conversion_lift",
    "trading_day_rollup",
    "dow_seasonality_index",
    "seed_sla_attainment",
    "capped_user_balance",
    "embedding_outlier_flags",
    "revenue_bridge_mom",
    "interval_union_coverage",
    "cohort_ltv_curve",
    "open_orders_backlog_daily",
    "decision_tree_depth2",
    "stump_bagging_eval",
    "inference_score_calibration",
    "gini_revenue_concentration",
    "value_drift_psi_bins",
    "rfm_segmentation",
    "finance_daily_pipeline",
    "collocation_pmi_top",
    "debounce_events",
    "holt_trend_forecast",
    # round-5 additions
    "ann_rerank_exact",
    "dp_noisy_event_counts",
    "proration_largest_remainder",
    "poisson_bootstrap_ci",
    "zorder_locality_stats",
    "bucketed_join_rollup",
    "indicator_max_drawdown",
    "cusum_alarm_days",
    "benford_first_digit",
    "ohlc_daily_bars",
    "indicator_lead_lag_corr",
    "feature_hash_bow",
    "series_volatility",
    "mmr_diversified_rerank",
    "ks_value_drift",
    "fifo_realized_pnl",
    "position_based_attribution",
    "quantile_transform_feature",
    "theil_sen_trend",
    "ann_recall_ndcg_eval",
    # stats-eval + indicator families (most expensive representatives;
    # chi-square/welch/spearman/acf/rsi share their plan shape)
    "roc_auc_exact",
    "kaplan_meier_retention",
    "bollinger_daily_bands",
    # round-6 additions
    "stratified_kfold_assign",
    "revenue_recognition_monthly",
    "var_cvar_daily_revenue",
    "pca_embedding_projection",
    "heaps_law_vocab_growth",
    "bpe_pair_merge_step",
    "xirr_order_cashflows",
    "seasonal_decompose_daily",
    "loan_amortization_schedule",
    "pps_part_revenue_sample",
    "fifo_open_lots_aging",
    "sprt_ab_sequential",
    "changepoint_daily_revenue",
    "capm_segment_beta",
    "bloom_filter_membership",
    "survivorship_documents",
    "naive_bayes_lang_classify",
    "dupont_roe_decomposition",
    "indicator_real_terms",
    "weighted_ares_sample",
    "ols_price_model_brand",
    "markov_absorption_3step",
    "wac_inventory_brand",
    "zipf_law_fit",
    "mahalanobis_outlier_events",
    "seasonal_naive_backtest",
    "gbt_price_residual_stumps",
    "pareto_frontier_parts",
    "ab_srm_check",
    "fuzzy_name_match_pairs",
    "kendall_tau_daily",
    "tail_dependence_segments",
    "duplicate_payment_audit",
    "last_digit_uniformity",
    "ucb1_arm_scores",
    "woe_iv_discount_bins",
    "event_step_paths",
    "cohort_payback_month",
    # round-7 additions
    "compaction_bin_packing",
    "price_volume_mix_decomposition",
    "cuped_adjusted_lift",
    "diff_in_diff_discount",
    "sharpe_sortino_daily",
    "hurst_exponent_rs",
    "token_dist_kl_divergence",
    "minmax_file_skipping",
    "granger_causality_ftest",
    "isotonic_calibration_pava",
    "gdpr_delete_cascade",
    # round-8 additions
    "hifo_realized_pnl",
    "sma_crossover_signals",
    "stochastic_oscillator_k",
    "obv_daily",
    "vwap_deviation_bands",
    "trial_balance_monthly",
    "fx_normalized_revenue",
    "budget_variance_ytd",
    # containment_dedup_pairs is NOT a headline: directional containment
    # at t=0.9 over the template-generated synthetic corpus yields
    # ~8.28M genuine pairs at sf0.1 (probed r8: 15.8M candidates -> 52%
    # verify precision — the prefix filter is fine, the OUTPUT is the
    # cost), the same documented-cost class as
    # jaccard_prefix_filter_pairs below. Gate scale (sf0.01) is fast.
    "mann_whitney_event_halves",
    "emd_value_drift",
    "mv_incremental_refresh",
    "conformal_interval_coverage",
    "return_rate_parity_segments",
    "matryoshka_truncation_recall",
    "scd2_point_in_time_join",
    "safety_stock_quantile",
    "account_running_balances",
    "rrf_hybrid_search",
    "next_event_prediction_accuracy",
    "script_mix_stats",
    "l_diversity_audit",
    # jaccard_prefix_filter_pairs is NOT a headline: the synthetic
    # corpus at sf0.1 genuinely contains ~7.1M pairs at J >= 0.6
    # (template-generated near-dups), so ANY exact algorithm's output
    # dominates runtime (~106s) — same documented-cost class as the
    # triangle queries. Gate-scale (sf0.01) runs in ~9s.
    # asof_cogroup_pandas is deliberately NOT a headline: it is the
    # §2.9 cogroup API surface, measured 24x slower than the
    # window-form asof_join at sf0.1 (Arrow boundary + per-key pandas
    # call) — the window form is the production path (PLANS.md #15).
    # round 9 additions (minhash_estimate_error is excluded like the
    # other pair-output-dominated QA queries — see PLANS.md #46)
    "ar_aging_buckets",
    "interest_accrual_day_count",
    "event_type_entropy_daily",
    "order_fulfillment_quantiles",
    "dup_cluster_size_histogram",
    "ngram_novelty_scores",
    "fx_gain_loss_realized",
    "dso_monthly",
    "gross_to_net_waterfall",
    "lsh_band_sweep_recall",
    # round 10 additions (streaming_balance_rollforward is excluded
    # like the r9 streaming twins — stream replay cost measures the
    # harness, not the plan, and the batch form is benched;
    # dedup_purge_savings shares dedup_cluster_canonicalize's plan —
    # the canonicalize entry is the family's bench representative)
    "balance_rollforward_monthly",
    "cash_flow_indirect_monthly",
    "dedup_cluster_canonicalize",
    "cross_encoder_rerank_eval",
    "lsh_index_compaction_plan",
    "t_closeness_audit",
    "ar_roll_rates",
    "ivf_cell_balance",
    "lsh_compaction_delta",
    "tokenizer_fertility_by_lang",
    "source_overlap_matrix",
    "shard_balance_audit",
    "packing_efficiency_sweep",
    "pr_auc_exact",
    "allowance_expected_loss",
    "fx_unrealized_remeasurement",
    "quality_filter_ablation",
    "int8_recall_audit",
    "pq_codebook_utilization",
    "dedup_method_agreement",
    "lang_id_confusion_matrix",
    "session_gap_sweep",
    "customer_concentration_topn",
    "compaction_savings_summary",
    "embedding_dim_profile",
    "intercompany_elimination",
    "depreciation_schedule_sl",
    "segment_migration_matrix",
    "wilson_ci_return_rates",
    "lang_id_agreement_kappa",
    "quantized_centroid_profile",
    "knn_graph_reciprocity",
    "delta_encoding_savings",
    "blocking_recall_audit",
    "chao1_ndv_estimate",
    "k_anon_generalization_sweep",
    "streaming_intercompany_elimination",
    "ann_ivf_nprobe_sweep",
    "oov_rate_by_source",
    "mixture_temperature_sweep",
    "kmv_ndv_estimate",
    "quantized_covariance_topk",
    "order_lines_dispersion",
    "poisson_control_chart_hourly",
    "streaming_kmv_sketch_maintain",
    "fiscal_445_rollup",
    "dp_clip_bound_sweep",
    "net_revenue_retention",
    "bom_cost_rollup",
    "cheapest_supplier_per_part",
    "span_corruption_plan",
    "supplier_value_concentration",
    "gdpr_access_extract_counts",
    "streaming_nrr_monitor",
    "cochran_armitage_trend",
    "temporal_split_audit",
    "table_freshness_audit",
    "referential_orphan_census",
    "ils_diversity_eval",
    "bloom_fpr_sweep",
    "cross_source_duplicate_census",
    "knn_hubness_audit",
    "rle_encoding_savings",
    "streaming_poisson_alarm",
    "metric_layer_rollup",
    "quantized_isotropy_audit",
    "percent_of_parent_drilldown",
    "weighted_median_unit_price",
    "hapax_ratio_by_source",
    "shuffle_partition_planner",
    "ohlc_resample_consistency",
    "attribution_window_sweep",
    "q16_supplier_variety",
    "lsh_bucket_uniformity",
    "cutoff_risk_census",
    "accepted_values_census",
    "copurchase_degree_assortativity",
    "chained_price_index_monthly",
    "lang_id_confidence_margin",
    "watermark_disorder_census",
    "transition_drift_by_state",
    "growth_accounting_weekly",
    # round 11 additions
    "hnsw_layer_reciprocity",
    "dedup_quality_pareto",
    "mart_backfill_idempotency",
    # round 12 additions
    "phash_media_near_dup",
    "semantic_decontamination",
    "ann_shard_merge_plan",
    "phash_dedup_savings",
    "decontamination_method_agreement",
    "streaming_phash_signature_maintain",
    "semantic_decontamination_recall",
    # round 13 additions
    "phash_purge_pareto",
    "crossmodal_decon_agreement",
    "streaming_ivf_upsert_reassign",
    "decon_method_agreement_3way",
    "streaming_semdecon_flag_maintain",
    "ann_stale_serving_recall",
    # round 14 additions
    "near_dup_cluster_maintain",
    "ivf_retrain_criterion",
    "crossmodal_purge_pareto",
    "streaming_cluster_maintain",
    "ivf_rebuild_execute",
]


# Fixed representative panel (VERDICT r10 task 4): the round-over-round
# comparable subset. The full HEADLINE total grows with every round
# (312 queries in r10), so its total is uninformative across rounds;
# this panel is PINNED — names may never be removed or reordered, only
# the panel_total_sec compared round to round under the stable
# BENCH_DETAIL key "panel". Composition: the flagship finance chain,
# all 16 TPC-H analogs the fixture supports, the core event operators,
# one representative per LLM-pipeline family (dedup, ANN/embedding,
# text/corpus, multimodal), and the 4 heaviest catalog plans.
PANEL = [
    # flagship finance chain + marts
    "mart_financial_summary",
    "mart_financial_kpis",
    "economic_indicators",
    "finance_daily_pipeline",
    "balance_rollforward_monthly",
    "cash_flow_indirect_monthly",
    "net_revenue_retention",
    "growth_accounting_weekly",
    # TPC-H analogs
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q8_market_share",
    "q10_returned_item_revenue",
    "q12_late_shipment_priority",
    "q13_order_count_distribution",
    "q14_promo_revenue_share",
    "q15_top_supplier",
    "q16_supplier_variety",
    "q17_small_quantity_revenue",
    "q18_large_volume_orders",
    "q19_bracketed_discount_revenue",
    "q21_waiting_supplier",
    "q22_idle_rich_customers",
    # core event operators
    "sessionize_events",
    "hourly_event_rollup",
    "merge_latest_per_key",
    "pivot_by_report_type",
    "event_funnel",
    "cohort_retention",
    # dedup family
    "dedup_exact",
    "minhash_lsh_near_dup",
    "simhash_near_dup",
    "semantic_dedup",
    "dedup_cluster_canonicalize",
    # ANN / embedding family
    "similarity_topk",
    "ann_ivf_topk",
    "ann_ivfpq_topk",
    "cross_encoder_rerank_eval",
    "embedding_int8_quantize",
    "pca_embedding_projection",
    # text / corpus family
    "lm_quality_scores",
    "tfidf_top_terms",
    "bm25_search_topk",
    "sequence_packing",
    "decontaminate_4gram",
    # multimodal family
    "media_decode_features",
    # heaviest catalog plans
    "part_copurchase_pagerank",
    "streaming_kmv_sketch_maintain",
    "streaming_intercompany_elimination",
    "ann_ivf_nprobe_sweep",
]
assert set(PANEL) <= set(HEADLINE), sorted(set(PANEL) - set(HEADLINE))
assert len(PANEL) == len(set(PANEL))


# Standing measurement notes carried into BENCH_DETAIL.json; the
# per-query history of earlier rounds lives in PLANS.md.
NOTES = {
    "_round_interpretation": (
        "The HEADLINE total grows with the catalog every round (312 "
        "queries in r10, 316 in r11), so round-over-round totals are "
        "NOT comparable. Starting r11, compare the pinned 51-query "
        "panel_total_sec under the 'panel' key (membership hash-pinned "
        "by tests/test_bench_panel.py, VERDICT r10 task 4); the full "
        "per-query dict remains for slow-tail triage. Single-query "
        "spread on a shared box is ±30% at sf0.1 (PLANS.md) — read "
        "trends, not single samples."
    ),
    "_driver_box_ab_protocol": (
        "VERDICT r14 task 8 standing protocol: (1) builder-box A/Bs "
        "cannot settle driver-box disputes — within-round evidence is "
        "SAME-BOX paired runs of both trees only (tools/bench_subset.py "
        "or the full bench); (2) every round produces the low-core "
        "companion artifact (BENCH_rNN_c8: the same bench at "
        "SPARK_GRAFT_CPUS=8) next to the 32-core run; (3) drift test: "
        "untouched control queries moving >10% at c32 while <5% at c8 "
        "means the c32 sample is box/overhead drift — read the c8 "
        "series for that round's round-over-round comparison. A single "
        "drifting query is re-measured with tools/bench_subset.py -n3 "
        "<unchanged sibling> <drifter...>: the interleaved passes land "
        "box noise on both, so the sibling-normalized ratio separates "
        "plan drift from box drift."
    ),
}


def panel_total(timings: dict[str, float]) -> float:
    """Round-over-round comparable number: total over the PINNED panel
    (only panel queries with a recorded timing count — a panel query
    that errored carries its penalty timing, so it still costs)."""
    return round(sum(timings[n] for n in PANEL if n in timings), 3)


def compact_line(timings: dict[str, float], sf: float, budget: int = 1700) -> str:
    """The stdout JSON line, char-budgeted: the driver keeps only the
    LAST 2000 characters of bench output and parses the final line as
    JSON — the full per-query dict blew past that in rounds 4-5
    (BENCH_r04/r05 "parsed": null). Carries the headline total plus as
    many of the SLOWEST queries as fit; full detail always lands in
    BENCH_DETAIL.json."""
    total = round(sum(timings.values()), 3)
    compact: dict[str, float] = {}
    base = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": compact,
        "sf": sf,
        "n_queries": len(timings),
        "panel_total_sec": panel_total(timings),
        "panel_n": len(PANEL),
        "queries_are": "slowest_subset",
        "detail": "BENCH_DETAIL.json",
    }
    for name, t in sorted(timings.items(), key=lambda kv: (-kv[1], kv[0])):
        compact[name] = t
        if len(json.dumps(base)) > budget:
            del compact[name]
            break
    return json.dumps(base)


def time_queries(
    spark, sf_dir: str, names: list[str], passes: int = 2
) -> tuple[dict[str, float], dict[str, str], dict[str, float]]:
    """Force each query end-to-end with a noop sink (full computation,
    no driver collect) in ``passes`` INTERLEAVED passes over ``names``.

    Returns the best seconds of every query that succeeded at least
    once, the last error of every query that failed at least once, and
    each failing query's longest elapsed-at-failure. A failing query
    costs its own slot, not the whole run: the rest keep timing (a
    crash here left BENCH_r07 unparseable otherwise)."""
    # imported here, not at module load: queries.py reads the run id
    # once, at import, so the caller's start_run must come first
    from finance_reporting_etl_spark.queries import CATALOG

    best: dict[str, float] = {}
    errors: dict[str, str] = {}
    fail_elapsed: dict[str, float] = {}
    for _ in range(passes):
        for name in names:
            spark.sparkContext.setJobDescription(name)
            t0 = time.perf_counter()
            try:
                CATALOG[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                errors[name] = f"{type(e).__name__}: {e}"[:200]
                fail_elapsed[name] = max(
                    fail_elapsed.get(name, 0.0), time.perf_counter() - t0
                )
                continue
            finally:
                spark.sparkContext.setJobDescription(None)
            best[name] = min(best.get(name, float("inf")), time.perf_counter() - t0)
    return best, errors, fail_elapsed


def main() -> None:
    # isolate this bench run's oracle_aux / bucketed tables from any
    # concurrently running gate/sweep/pytest process
    start_run("bench")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark(app_name="bench")
    spark.range(1).count()  # JVM warm-up

    # best-of-2 interleaved passes: interleaving de-clusters warm-up and
    # GC noise across queries; the sample count stays at 2 so totals are
    # apples-to-apples with rounds 1-2 (ADVICE r3: best-of-3 would lower
    # the headline number without any real speedup).
    best, rep_errors, fail_elapsed = time_queries(spark, sf_dir, HEADLINE)
    succeeded = {name: round(t, 3) for name, t in best.items()}
    # a query that failed one repetition but succeeded another keeps its
    # healthy timing and is reported as FLAKY, not as an error — a name
    # in both `timings` and `errors` made the artifact ambiguous
    # (ADVICE r7). `errors` holds only zero-success queries.
    flaky = {n: e for n, e in rep_errors.items() if n in succeeded}
    errors = {n: e for n, e in rep_errors.items() if n not in succeeded}
    # an erroring query must COST the total, not vanish from it (it
    # contributed 0s in r7, making error rounds look faster — ADVICE
    # r7): charge the worse of its observed elapsed-at-failure and the
    # slowest successful query, so erroring can never beat running.
    timings = dict(succeeded)
    # if EVERY query errored, max(succeeded)=0 would collapse the round
    # to tiny elapsed-at-failure times — the exact artifact the penalty
    # exists to prevent (ADVICE r8). Fall back to a fixed 60s/query
    # penalty (any real headline query at sf0.1 finishes well under
    # that), so an all-error round reads as catastrophically slow, not
    # fast.
    penalty_floor = max(succeeded.values()) if succeeded else 60.0
    for name in errors:
        timings[name] = round(max(fail_elapsed.get(name, 0.0), penalty_floor), 3)
    if errors or flaky:
        print(json.dumps({"bench_errors": errors, "bench_flaky": flaky}))

    total = round(sum(timings.values()), 3)
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "n_queries": len(timings),
                "panel": {
                    "metric": "panel_total_sec",
                    "value": panel_total(timings),
                    "n_queries": len(PANEL),
                    "queries": {
                        n: timings[n] for n in PANEL if n in timings
                    },
                },
                "errors": errors,
                "flaky": flaky,
                "error_penalty_sec": {
                    n: timings[n] for n in errors
                },
                "notes": NOTES,
            },
            f,
            indent=1,
            sort_keys=True,
        )
    print(compact_line(timings, sf))


if __name__ == "__main__":
    main()
