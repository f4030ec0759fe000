#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion (count + collect of the reduced
result — results are small aggregates by design) after a warm-up of the
session. Wall-clock per query, sum as the headline value.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from parking_bigdata_spark import queries as Q  # noqa: E402
from parking_bigdata_spark.session import get_spark  # noqa: E402

#: Headline set: the scale-critical operators (big shuffles, joins,
#: windows, text/similarity pipelines), not the trivially-small ones.
HEADLINE = [
    "q1_pricing_summary",
    "revenue_by_nation",
    "weighted_avg_price",
    "topk_orders_per_customer",
    "customer_value_ratios",
    "corr_matrix",
    "rollup_revenue",
    "cube_revenue",
    "quantile_summary",
    "impute_group_mean",
    "events_windowed",
    "events_sessions",
    "events_asof_purchase",
    "events_rolling_avg",
    "customer_cumulative_spend",
    "dedup_exact",
    "dedup_minhash",
    "ngram_jaccard",
    "dedup_embedding",
    "cosine_topk",
    "ann_ivf",
    "text_quality",
    "pipeline_clean_corpus",
    "ols_normal_eq",
    "pca_explained_variance",
    "custdist_order_counts",
    "large_volume_customers",
    "weekly_revenue_wow",
    "range_join_value_bins",
    "events_gapfill_daily",
    "events_hopping_windows",
    "grouping_sets_revenue",
    "tfidf_top_terms",
    "embedding_centroids",
    "multimodal_features",
    "dedup_clusters",
    "decontam_overlap",
    "collocation_pmi",
    "cheapest_supplier_per_part",
    "sole_late_supplier",
    "orders_trailing_7d",
    "outlier_fences",
    "kmeans_embeddings",
    "snapshot_diff_orders",
    "spearman_qty_price",
    "scd2_user_event_state",
    "psi_drift_by_source",
    "pagerank_suppliers",
    "mad_price_by_flag",
    "decayed_engagement",
    "forecast_revenue_delta",
    "nation_trade_volume",
    "profit_by_nation_year",
    "late_order_priority_counts",
    "local_supplier_volume",
    "ship_speed_priority_mix",
    "supplier_count_by_part",
    "fisher_exact_2x2",
    "kendall_tau_qty_discount",
    "tukey_hsd_segments",
    "cooks_distance_outliers",
    "boxcox_lambda_scan",
    "pr_auc_order_status",
    "dsir_importance_weights",
    "decontam_bloom",
    "changepoint_binseg_daily",
    "partial_corr_matrix",
    "cronbach_alpha",
    "cohen_kappa_orders",
    "theil_index_by_segment",
    "cluster_keep_best",
    "holt_linear_daily",
    "interval_union_coverage",
    "mcnemar_orders",
    "tokenizer_fertility_by_lang",
    "quality_classifier_coeffs",
    "bartlett_acctbal_by_segment",
    "higher_moments_by_flag",
    "mahalanobis_outliers",
    "vocab_overlap_by_source",
    "dow_seasonality_strength",
    "qq_deciles_priority",
    "seasonal_naive_error_daily",
    "dup_rate_by_source",
    "chow_test_by_flag",
    "quality_lift_table",
    "peak_load_window",
    "friedman_dow_test",
    "js_divergence_by_source",
    "effect_sizes_segments",
    "bigram_entropy_by_source",
    "gamma_mom_fit",
    "near_dup_rate_by_source",
    "gram_novelty_by_source",
    "token_packing_stats",
    "dagostino_k2_price",
    "jonckheere_trend_qty",
    "logrank_churn_ab",
    "granger_count_to_value",
    "pettitt_changepoint_daily",
    "interarrival_exp_ks",
    "source_mixture_weights",
    "ann_truncation_recall",
    "ad_ksample_priority",
    "white_test_hetero",
    "lda_returnflag",
    "ar2_yule_walker_daily",
    "bigram_ppl_by_source",
    "embedding_isotropy",
    "vocab_coverage_topk",
    "quantile_reg_90",
    "cross_source_duplication",
    "char_entropy_by_source",
    "session_lognormal_fit",
    "hosmer_lemeshow_status",
    "hellinger_order_value",
    "wavelet_energy_daily",
    "dedup_savings_by_source",
    "contamination_profile",
    "pacf_daily",
    "breusch_godfrey_daily",
    "spectral_entropy_daily",
    "deming_regression",
    "epi_2x2_measures",
    "arch_lm_daily",
    "langid_confusion",
    "weighted_kappa_orders",
    "psi_monthly_orders",
    "embedding_effective_rank",
    "gehan_wilcoxon_churn",
    "brier_decomposition",
    "records_trend_daily",
    "source_js_matrix",
    "label_cohesion_embeddings",
    "sign_test_price",
    "cmh_orders",
    "session_event_cooccurrence",
    "rank_stability_nations",
    "dedup_threshold_curve",
    "hourly_entropy_by_type",
    "anova_effect_sizes",
    "dup_cluster_size_histogram",
    "purchase_cadence",
    "stratified_ht_estimate",
    "median_ci_order_value",
    "kendalls_w_dow",
    "conversion_by_session_depth",
    "generalized_esd_daily",
    "leverage_audit",
    "retention_half_life",
    "wilson_ci_event_reach",
    "cohens_h_priority",
    "newey_west_trend",
    "wilcoxon_signed_rank",
    "ordinal_assoc_qty_discount",
    "ljung_box_daily",
    "negbin_mom_daily",
    "returned_item_customers",
    "nation_value_share",
    "promo_revenue_pct",
    "small_qty_order_revenue",
    "discounted_revenue_bundles",
    "excess_shipment_suppliers",
    "merge_upsert_orders",
    "user_activity_streaks",
    "first_last_touch",
    "sketch_hll_union",
    "mannwhitney_order_value",
    "seasonal_trend_events",
    "rolling_active_users",
    "cuped_experiment_events",
    "hhi_supplier_concentration",
    "basket_brand_lift",
    "gini_acctbal_by_segment",
    "event_transitions",
    "zipf_token_slope",
    "ks_order_value_priority",
    "rfm_customer_segments",
    "text_readability",
    "kaplan_meier_retention",
    "bootstrap_ci_order_value",
    "ewma_smoothed_daily",
    "user_path_patterns",
    "info_gain_features",
    "sketch_top_event_types",
    "weighted_sample_orders",
    "inverted_index_sample",
    # round 2 additions: changed/new scale-relevant queries
    "trimmed_mean_price",
    "residual_diagnostics",
    "cv_metrics_by_fold",
    "score_holdout",
    "knn_impute_labels",
    # round 2 late additions (corpus/graph/ML heavy hitters; the
    # daily-series stats are calendar-bounded and benchmark as noise)
    "semdedup_embeddings",
    "naive_bayes_langid",
    "bm25_scoring",
    "duplicate_chunks",
    "triangle_count_brands",
    "kl_divergence_by_source",
    "huber_lineitem",
    "poisson_glm_daily",
    "pareto_frontier_parts",
    "item_cosine_similarity",
    "gmm_order_value",
    "conformal_interval_coverage",
    "nelson_aalen_hazard",
    "basket_triples",
    "catalog_profile",
    "funnel_latency_quantiles",
    # round 4: streaming batch twins, approx-ECDF twins, bounded
    # forest metrics (VERDICT r03 #4/#5/#7)
    "stream_session_windows_batch",
    "stream_hopping_windows_batch",
    "ks_approx_order_value_priority",
    "ad_ksample_approx_priority",
    "median_ci_approx_order_value",
    "rf_holdout_metrics",
    # round-5 rank-statistic approx twins (VERDICT r04 #2/#3)
    "spearman_approx_qty_price",
    "roc_auc_approx_order_status",
    "kruskal_approx_acctbal_by_segment",
    "mannwhitney_approx_order_value",
    "gini_approx_acctbal_by_segment",
    "mad_approx_price_by_flag",
    # round-5 CMS-prefilter twins (VERDICT r04 #7)
    "gram_novelty_bloom_by_source",
    "duplicate_chunks_bloom",
    # round-6 grid twins + PCR (VERDICT r05 #2/#5)
    "pr_auc_approx_order_status",
    "dunn_approx_segments",
    "wilcoxon_approx_signed_rank",
    "pcr_holdout",
    # round-7 GK proof-bracket twins for the exact-quantile family
    # (VERDICT r06 #2) — measured next to their exact counterparts
    "trimmed_mean_approx_price",
    "winsorized_approx_price_stats",
    "outlier_fences_approx",
    "quantile_summary_approx",
    "rfm_bounds_approx",
    "funnel_latency_approx_quantiles",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    registry = Q.queries()

    # Warm up the JVM / parquet footer cache with a trivial action.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    # Steady-state warmup: execute every headline query once at the
    # smallest SF (untimed). The plans generate the same whole-stage
    # codegen sources as at the target SF, so Janino compilation and JIT
    # happen here instead of inside the timed loop — the timings below
    # then measure execution, not one-time compiler latency. Disable
    # with SPARK_GRAFT_NO_WARMUP=1.
    warm_dir = os.environ.get("SPARK_GRAFT_WARMUP_DIR",
                              "/root/testdata/sf0.001")
    if not os.environ.get("SPARK_GRAFT_NO_WARMUP") and os.path.isdir(warm_dir):
        t0 = time.perf_counter()
        for name in HEADLINE:
            (registry[name](spark, warm_dir)
             .write.format("noop").mode("overwrite").save())
        print(f"# warmup pass ({warm_dir}): "
              f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)
        # iterative queries plan differently at the target SF (AQE picks
        # other join strategies), so their whole-stage codegen would
        # otherwise compile inside the timed run (~1.5x first-run skew).
        # rf_holdout_metrics belongs here too: its scoring projection is
        # DATA-DEPENDENT codegen (the fitted forest renders to nested
        # CASE expressions), so the sf0.001 warmup compiles a different
        # forest — measured 13.8 s first-run vs 7.2 s steady at sf0.1
        for name in ("pagerank_suppliers", "dedup_clusters",
                     "kmeans_embeddings", "rf_holdout_metrics"):
            if name in HEADLINE:
                (registry[name](spark, sf_dir)
                 .write.format("noop").mode("overwrite").save())
        print(f"# warmup incl. target-SF iteratives: "
              f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)

    # De-noising (VERDICT r10 #3 — the host shows random multi-second
    # single-query spikes):
    # 1. the execution ORDER is a seeded random permutation — a fixed
    #    registry order pins each query to the same host-moment slot
    #    every run, correlating its noise run-over-run. The seed
    #    (env SPARK_GRAFT_BENCH_SEED, else wall-clock derived) is
    #    printed in the record as "order_seed" so any run can be
    #    reproduced exactly.
    # 2. a query whose first rep exceeds SLOW_REP_SEC gets ONE re-run
    #    and publishes the min — a spike is a property of the host
    #    moment, not the plan. The first-rep walls are kept in the
    #    detail sidecar ("first_rep_sec"). The record's "reps" tag
    #    names this methodology, so records are compared only with
    #    records taken the same way.
    # Neither measure changes WHAT is computed: every rep re-runs the
    # full query from the parquet inputs with caches cleared.
    SLOW_REP_SEC = 2.0
    REPS = "min2_over_2s"
    seed_raw = os.environ.get("SPARK_GRAFT_BENCH_SEED")
    try:
        order_seed = int(seed_raw) if seed_raw is not None else None
    except ValueError:
        # never silently substitute a different order for a run the
        # user meant to reproduce (repo env-knob convention)
        print(f"# SPARK_GRAFT_BENCH_SEED={seed_raw!r} invalid (need an "
              "int); using a wall-clock seed instead — this run's "
              "order will NOT match the one you meant to reproduce",
              file=sys.stderr)
        order_seed = None
    if order_seed is None:
        order_seed = int(time.time()) % 1_000_000
    import random as _random
    order = list(HEADLINE)
    _random.Random(order_seed).shuffle(order)
    print(f"# order_seed: {order_seed}", file=sys.stderr)

    def _run_once(name: str) -> float:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df = registry[name](spark, sf_dir)
        # noop sink, not count(): count() lets Catalyst elide windows
        # and projections that don't change cardinality, under-timing
        # transform-shaped queries — the noop write evaluates every
        # column of every row
        df.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    timings: dict[str, float] = {}
    first_rep: dict[str, float] = {}
    for name in order:
        t1 = _run_once(name)
        if t1 > SLOW_REP_SEC:
            first_rep[name] = t1
            t1 = min(t1, _run_once(name))
        timings[name] = t1
        print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    sf_tag = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf_tag) if sf_tag.replace(".", "").isdigit() else sf_tag
    # what was measured, so a record is compared only with records of
    # the same context: the session's cores, the host's, and the tree
    try:
        git_sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=os.path.dirname(
                os.path.abspath(__file__)),
            capture_output=True, text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        git_sha = None
    context = {"reps": REPS,
               "cpus": spark.sparkContext.defaultParallelism,
               "nproc": os.cpu_count(),
               "git_sha": git_sha or None}
    # Full per-query detail goes to stderr and a sidecar file; the ONE
    # stdout JSON line stays compact (the driver captures a bounded tail
    # of stdout — an 83-entry dict pushed "value" out of the r01 capture
    # window and left "parsed": null). The compact line keeps the
    # contract keys and the 5 slowest queries.
    # record dicts in fixed HEADLINE order regardless of the shuffled
    # execution order, so run-over-run BENCH_DETAIL diffs show value
    # changes, not a fresh 232-key permutation; order_seed is the
    # provenance of the actual execution order
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": {k: timings[k] for k in HEADLINE},
        "sf": sf_val,
        "order_seed": order_seed,
        **context,
    }
    if first_rep:
        # single-rep walls of the re-run (>SLOW_REP_SEC) queries, kept
        # alongside the published min-of-2
        detail["first_rep_sec"] = {k: first_rep[k] for k in HEADLINE
                                   if k in first_rep}
    print(json.dumps(detail), file=sys.stderr)
    # sidecar detail is the committed record of the default sf0.1
    # tier — a smoke at another SF must not clobber it
    if sf_val == 0.1:
        try:
            here = os.path.dirname(os.path.abspath(__file__))
            with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
                json.dump(detail, f, indent=1)
        except OSError:
            pass
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    compact = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "n_queries": len(timings),
        "sf": sf_val,
        "order_seed": order_seed,
        **context,
    }
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
