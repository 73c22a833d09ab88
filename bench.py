"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line on stdout:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``
and a compact summary (same fields minus the per-query dict) on stderr.

Tee the line to a file to keep it: ``python bench.py > bench_local.json``.

Each query is timed end-to-end (plan + execute + collect). JVM/session
startup is excluded (it is harness cost, not query cost).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigdata_2025_1_spark.registry import all_queries  # noqa: E402
from bigdata_2025_1_spark.session import get_spark  # noqa: E402

HEADLINE = [
    # reference-parity core
    "domain_doc_stats",
    "metadata_extract",
    # relational / TPC-H-ish
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    "outer_join_order_counts",
    "top3_orders_per_customer",
    "rollup_nation_segment",
    # events
    "events_hourly_windows",
    "user_sessionization",
    "asof_join_last_purchase",
    "event_funnel_conversion",
    "range_join_incident_windows",
    "salted_skew_join",
    "salted_skew_join_zipf",
    # LLM-pipeline
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_char_ngram_jaccard",
    "simhash_values",
    "token_counts",
    "wordcount",
    "doc_ngram_repetition",
    "media_frame_sample",
    "tfidf_top_terms",
    "sequence_packing",
    "ann_topk_cosine",
    "ann_srp_lsh_pairs",
    "ann_ivf_topk",
    "ann_pq_adc_topk",
    "ann_ivfpq_topk",
    "count_min_sketch_words",
    "frequent_token_pairs",
    # round-3 additions: multi-join + iterative
    "q9_profit_by_nation_year",
    "pagerank_nation_trade",
    # round-4 additions: the hardest of the 16 new TPC-H shapes
    "q6_forecast_revenue",
    "q13_customer_distribution",
    "q21_waiting_suppliers",
    # round-4 corpus/retrieval additions
    "corpus_duplicate_spans",
    "bpe_pair_merge_step",
    "rrf_rank_fusion",
    "ann_sq8_topk",
    "lateral_top_orders_per_customer",
    # late round-4 additions
    "bm25_doc_ranking",
    "dedup_containment",
    "merge_upsert_latest_state",
    "equi_depth_price_deciles",
    "label_propagation_communities",
    "kmeans_lloyd_clusters",
    "pmi_token_pairs",
    "dedup_sorted_neighborhood",
    "unigram_logprob_quality",
    "corpus_curation_v2",
    "user_active_coverage",
    "supplier_shipping_latency",
    # round-5 additions: the rewritten value-domain percentile gate and
    # the distributed-global-rank quantile normalizer
    "quality_threshold_sweep",
    "quantile_normalize_doclen",
    # round-5 curation batch
    "semantic_dedup_pairs",
    "cdc_chunk_dedup",
    "bigram_backoff_logprob",
    "feature_hashing_buckets",
    "margin_candidate_mining",
    "column_mutual_information",
    "weighted_sample_wor",
    "skyline_price_size",
    "vocab_frequency_spectrum",
    "source_token_kl",
    "benford_price_audit",
    "cross_source_overlap",
    "reciprocal_nn_pairs",
    "doc_novelty_decay",
    "bootstrap_mean_ci",
    "harmonic_centrality_trade",
    "contrastive_triplet_mining",
    "sq8_quantization_error",
    # round-6 additions
    "benchmark_decontamination",
    "char_entropy_quality",
    "scd2_status_history",
    "kcore_trade_graph",
    "margin_candidate_mining_ivf",
    "domain_mixture_reweight",
    "hyperball_harmonic_trade",
    "event_rate_anomaly",
    "sketch_join_size_estimate",
    "pca_power_iteration",
    "bpe_merge_sequence",
    "density_core_clusters",
    "cusum_changepoint",
    "chi_square_independence",
    "naive_bayes_source_classifier",
    "textrank_keywords",
    "typo_variant_pairs",
    "greedy_stock_allocation",
    "item_cofiltering_similarity",
    "theil_sen_trend",
    "zipf_exponent_fit",
    "slo_burn_rate",
    "k_anonymity_audit",
    "ab_test_uplift",
    "abc_xyz_matrix",
    "decayed_part_demand",
    "retrieval_mrr_eval",
    "funnel_latency_percentiles",
    "hourly_autocorrelation",
    "cohort_ltv_matrix",
    "data_expectations_report",
    "semantic_decontamination",
    "seasonal_naive_backtest",
    "jain_fairness_index",
    "recsys_holdout_hitrate",
    "kaplan_meier_retention",
    # round-7 additions: rank/two-sample tests, classifier evals,
    # calibration, link prediction, sampling, attribution
    "mann_whitney_segment_spend",
    "spearman_qty_price",
    "ks_value_drift",
    "gini_stump_threshold",
    "roc_auc_holdout",
    "average_precision_holdout",
    "calibration_ece_bins",
    "decile_lift_table",
    "isotonic_calibration",
    "crossval_auc_folds",
    "anova_f_segment_spend",
    "brown_forsythe_spend_variance",
    "jarque_bera_order_values",
    "kendall_tau_qty_discount",
    "kneser_ney_bigram",
    "link_prediction_trade",
    "degree_assortativity_trade",
    "negative_sampling_pairs",
    "linear_attribution_revenue",
    "qini_uplift_curve",
    "woe_information_value",
    "conformal_interval_coverage",
    "eb_shrunk_supplier_rates",
    "median_ci_orderstat",
    "cuped_adjusted_uplift",
    "kmv_intersection_estimate",
    "ipf_raking_weights",
    "chao1_vocab_coverage",
    "capture_recapture_population",
    "neyman_allocation",
    "hill_tail_index",
    "mahalanobis_outliers",
    "cochran_armitage_trend",
    "bradley_terry_nation_strength",
    "shapley_variance_attribution",
    "risk_ratio_odds_ratio",
    "cohens_kappa_agreement",
    # round-8 additions: classical-test completions, time series,
    # survival comparison, directed SCC, corpus divergence, causal DiD,
    # Z-order layout
    "kruskal_wallis_priority_spend",
    "welch_t_spend",
    "wasserstein_value_drift",
    "mcnemar_paired_returns",
    "cramers_v_association",
    "zorder_layout_cells",
    "holt_linear_forecast",
    "piecewise_linear_breakpoint",
    "durbin_watson_hourly",
    "logrank_priority_survival",
    "scc_trade_graph",
    "jsd_source_divergence",
    "difference_in_differences",
    # round-9 additions: BPE inference, blocked/paired/trend tests,
    # autocorrelation portmanteau, seasonal smoothing, drift alarm,
    # retrieval nDCG, privacy t-closeness, graph clustering,
    # cumulative hazard, similarity calibration, lexical filtering
    "bpe_encode_corpus",
    "tokenizer_fertility_by_lang",
    "friedman_priority_monthly",
    "cochran_q_yearly_activity",
    "mann_kendall_revenue_trend",
    "ljung_box_hourly",
    "ndcg_retrieval_eval",
    "t_closeness_audit",
    "blocklist_filter_rates",
    "local_clustering_trade",
    "nelson_aalen_hazard",
    "embedding_similarity_histogram",
    "page_hinkley_hourly",
    "holt_winters_forecast",
    # round-10 additions
    "mannwhitney_fertility_drift",
    "ks_doclen_drift",
    "cusum_online_hourly",
    "corpus_release_gate",
    "hdbscan_lite_clusters",
    "retrieval_eval_suite",
    "seasonal_decompose_monthly",
    "sprt_error_rate",
    "lsh_recall_eval",
    "ab_power_mde",
    "theil_u_forecast_skill",
    "split_balance_chi2",
    "residual_runs_test",
    # round-11 additions: streaming dedup/IVF index maintenance, the
    # dedup release gate, and the layout-maintenance family
    "dedup_lsh_arrival_log",
    "dedup_release_gate",
    "compaction_plan_bins",
    "clustering_depth_compare",
    "layout_maintenance_plan",
    "ivf_ingest_assign",
    "embedding_norm_drift",
    "ivf_nprobe_recall_curve",
    "retention_expiry_plan",
    "lsh_band_sweep",
    # round-12 additions: the ANN index release gate and the
    # incremental-aggregate-maintenance family
    "ann_release_gate",
    "events_rollup_upsert",
    "rollup_delta_log",
    "late_event_audit",
    "session_closure_log",
    "distinct_users_ingest_curve",
    "rollup_as_of_batch",
    "watermarked_rollup_compare",
    "ingest_release_gate",
    "session_gap_sweep",
    "value_histogram_rollup",
    "merge_touch_profile",
    # round-13 additions: the CDC corrections/retractions family
    "cdc_corrected_rollup",
    "cdc_delta_log",
    "cdc_feed_daily_profile",
    "correction_latency_profile",
    "reconciliation_window_audit",
    "corrected_rollup_as_of",
    "event_version_census",
    "stale_state_audit",
    "cdc_net_effect_by_type",
    "correction_bias_sign_test",
    "cdc_release_gate",
    # costs the sum of all six family gates by design (platform_ops.py)
    "platform_release_gate",
    # round-14 additions: the backfill/reprocessing family
    "backfill_dirty_state",
    "backfill_plan",
    "backfill_day_census",
    "backfill_cost_by_granularity",
    "backfill_priority_schedule",
    "backfill_chunk_plan",
    "idempotent_replay_audit",
    "backfill_restatement_summary",
    "reprocessing_watermark",
    "backfill_verification_diff",
    "backfill_release_gate",
    # kernels rewritten from per-group / per-pair shapes: benched so a
    # regression to those shapes shows
    "grouped_map_spend_share",
    "dedup_embedding_cosine",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")

    spark = get_spark("bench", master=f"local[{cpus}]")
    queries = all_queries()
    # Warm up JVM, parquet reader, and codegen paths on the smallest SF so
    # query #1 isn't charged for one-time harness costs.
    spark.range(1000).count()
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir  # portable fallback: warm on the bench data itself
    for warm in ("domain_doc_stats", "q1_pricing_summary"):
        queries[warm](spark, warm_dir).collect()

    # Best-of-3 per query: run 1 includes one-time Catalyst analysis +
    # whole-stage-codegen compilation for that plan shape (~2 s locally);
    # later runs are the steady-state cost a real deployment pays. Raised
    # from best-of-2 in round 4 after consecutive identical runs showed
    # single queries swinging 2.5x (GC/JIT state) — the minimum of three
    # is a materially tighter steady-state estimator (an adaptive
    # third-run-on-disagreement variant was measured to trigger on 36/42
    # queries anyway, so the simple form stays). Every run executes the
    # full plan end-to-end (no result caching: each run rebuilds the
    # query, and a query leaves no cache entry behind).
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = queries[name]
        best, rows = None, 0
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            rows = len(fn(spark, sf_dir).collect())
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        print(f"# {name}: {best:.3f}s ({rows} rows)", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    # The compact summary goes to stderr: stdout stays ONE JSON line,
    # so a tee of stdout is a file json.load accepts.
    compact = {k: out[k] for k in ("metric", "value", "unit", "sf")}
    compact["n_queries"] = len(timings)
    print(json.dumps(compact), file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
