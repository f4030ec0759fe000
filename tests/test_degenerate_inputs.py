"""Degenerate-input sweep of the EXACT statistical family.

Round 6 gave the grid twins NULL-degrade guards on all-tied /
single-class inputs; this module extends the same contract to their
EXACT counterparts (the r06 ledger's stated boundary): any input that
makes a statistic mathematically undefined — a constant value column
(all-tied ranks, zero variance), a single-class label, an empty 2x2
cell — must produce a row with a NULL statistic, never an ANSI
DIVIDE_BY_ZERO job abort (Spark 4 default ANSI mode) and never a
driver-side TypeError/ZeroDivisionError.

Every guard is a `nullif` around a provably-sometimes-zero
denominator, mirrored verbatim in the DuckDB oracle SQL, so both
engines stay bit-identical on real data (gate-verified at sf0.001,
sf0.01, sf0.1) AND on degenerate data (both NULL).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from parking_bigdata_spark import queries as Q
from parking_bigdata_spark.queries.a_scale_twins import (
    outlier_fences_approx_detail, quantile_summary_approx_detail,
    rfm_bounds_approx_detail, trimmed_mean_approx_price_detail,
    winsorized_approx_price_stats_detail)


def _assert_no_nan(rows):
    for r in rows:
        for k, v in r.asDict().items():
            assert not (isinstance(v, float) and math.isnan(v)), (k, r)


@pytest.fixture(scope="module")
def degen_dir(tmp_path_factory):
    """All-tied value columns with BOTH groups/classes/arms present —
    the regime that zeroes tie corrections and pooled variances while
    every branch of each query still has data."""
    tmp = tmp_path_factory.mktemp("degen_tied")
    pd.DataFrame({
        "c_custkey": range(1, 101),
        "c_name": [f"Customer#{i}" for i in range(1, 101)],
        "c_nationkey": [i % 5 for i in range(100)],
        "c_mktsegment": ["BUILDING" if i % 2 else "MACHINERY"
                         for i in range(100)],
        "c_acctbal": [500.0] * 100,
    }).to_parquet(str(tmp / "customer.parquet"), index=False)
    pd.DataFrame({
        "o_orderkey": range(1, 101),
        "o_custkey": [(i % 100) + 1 for i in range(100)],
        "o_orderstatus": (["F"] * 40 + ["O"] * 40 + ["P"] * 20),
        "o_orderpriority": (["1-URGENT"] * 50 + ["5-LOW"] * 50),
        "o_totalprice": [1000.0] * 100,
        "o_orderdate": pd.to_datetime(["2024-01-01"] * 100).date,
    }).to_parquet(str(tmp / "orders.parquet"), index=False)
    pd.DataFrame({
        "l_orderkey": range(1, 81),
        "l_linenumber": [1] * 80,
        "l_quantity": [7.0] * 80,
        "l_extendedprice": [100.0] * 80,
        "l_discount": [0.05] * 80,
        "l_tax": [0.02] * 80,
        "l_returnflag": (["R"] * 40 + ["A"] * 40),
        "l_linestatus": ["F"] * 80,
        "l_shipdate": pd.to_datetime(["2024-01-02"] * 80).date,
        "l_partkey": [(i % 10) + 1 for i in range(80)],
        "l_suppkey": [(i % 4) + 1 for i in range(80)],
    }).to_parquet(str(tmp / "lineitem.parquet"), index=False)
    return str(tmp)


# --- rank family (exact counterparts of the r06 grid twins) ---------


def test_kruskal_exact_all_tied(spark, degen_dir):
    rows = Q.queries()["kruskal_acctbal_by_segment"](spark,
                                                     degen_dir).collect()
    assert len(rows) == 1 and rows[0]["n"] == 100
    assert rows[0]["h_stat"] is None
    _assert_no_nan(rows)


def test_mannwhitney_exact_all_tied(spark, degen_dir):
    rows = Q.queries()["mannwhitney_order_value"](spark,
                                                  degen_dir).collect()
    assert len(rows) == 1
    assert (rows[0]["n_urgent"], rows[0]["n_low"]) == (50, 50)
    # U is still defined (rank sums exist); only the tie-corrected
    # normal approximation degenerates
    assert rows[0]["z_stat"] is None
    _assert_no_nan(rows)


def test_dunn_exact_all_tied(spark, degen_dir):
    rows = Q.queries()["dunn_posthoc_segments"](spark, degen_dir).collect()
    assert len(rows) == 1  # one segment pair
    assert rows[0]["mean_rank_a"] == rows[0]["mean_rank_b"]
    assert rows[0]["z_stat"] is None
    _assert_no_nan(rows)


def test_spearman_exact_constant_axis(spark, degen_dir):
    rows = Q.queries()["spearman_qty_price"](spark, degen_dir).collect()
    assert len(rows) == 1 and rows[0]["n_rows"] == 80
    assert rows[0]["spearman_rho"] is None
    _assert_no_nan(rows)


def test_kendall_exact_constant_axes(spark, degen_dir):
    rows = Q.queries()["kendall_tau_qty_discount"](spark,
                                                   degen_dir).collect()
    assert len(rows) == 1 and rows[0]["n"] == 80
    assert rows[0]["concordant"] == 0 and rows[0]["discordant"] == 0
    assert rows[0]["tau_b"] is None
    _assert_no_nan(rows)


def test_ordinal_assoc_exact_constant_axes(spark, degen_dir):
    r = Q.queries()["ordinal_assoc_qty_discount"](spark,
                                                  degen_dir).collect()[0]
    for c in ("gk_gamma", "somers_d_yx", "somers_d_xy", "stuart_tau_c"):
        assert r[c] is None, c


# --- ANOVA / variance family ----------------------------------------


def test_anova_exact_constant_column(spark, degen_dir):
    r = Q.queries()["anova_mktsegment"](spark, degen_dir).collect()[0]
    assert r["n_obs"] == 100 and r["ss_within"] == 0.0
    assert r["f_stat"] is None


def test_levene_exact_constant_column(spark, degen_dir):
    r = Q.queries()["levene_acctbal_by_segment"](spark,
                                                 degen_dir).collect()[0]
    assert r["n_obs"] == 100
    assert r["w_stat"] is None


def test_ttest_exact_constant_column(spark, degen_dir):
    r = Q.queries()["ttest_returnflag"](spark, degen_dir).collect()[0]
    assert (r["n_a"], r["n_b"]) == (40, 40)
    assert r["t_stat"] is None and r["df"] is None


def test_tukey_hsd_constant_column(spark, degen_dir):
    r = Q.queries()["tukey_hsd_segments"](spark, degen_dir).collect()[0]
    assert r["mean_diff"] == 0.0 and r["se"] == 0.0
    assert r["q_stat"] is None


def test_effect_sizes_constant_column(spark, degen_dir):
    r = Q.queries()["effect_sizes_segments"](spark, degen_dir).collect()[0]
    assert r["cohens_d"] is None and r["hedges_g"] is None


def test_anova_effect_sizes_constant_column(spark, degen_dir):
    r = Q.queries()["anova_effect_sizes"](spark, degen_dir).collect()[0]
    assert r["n"] == 100
    assert r["eta_squared"] is None
    assert r["omega_squared"] is None
    assert r["icc_1_1"] is None


def test_higher_moments_constant_column(spark, degen_dir):
    rows = Q.queries()["higher_moments_by_flag"](spark,
                                                 degen_dir).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["skewness_g1"] is None
        assert r["excess_kurtosis_g2"] is None


def test_zscore_constant_segment(spark, degen_dir):
    rows = Q.queries()["zscore_by_segment"](spark, degen_dir).collect()
    assert len(rows) == 100
    assert all(r["bal_z"] is None for r in rows)


# --- correlation / regression family --------------------------------


def test_corr_matrix_constant_columns(spark, degen_dir):
    rows = Q.queries()["corr_matrix"](spark, degen_dir).collect()
    assert len(rows) == 6
    assert all(r["corr"] is None for r in rows)


def test_corr_test_constant_axis(spark, degen_dir):
    r = Q.queries()["corr_test"](spark, degen_dir).collect()[0]
    assert r["n"] == 80
    assert r["r"] is None and r["t_stat"] is None


def test_simple_linreg_constant_x(spark, degen_dir):
    r = Q.queries()["simple_linreg"](spark, degen_dir).collect()[0]
    assert r["n"] == 80
    assert r["slope"] is None and r["intercept"] is None
    assert r["r"] is None


def test_partial_corr_constant_columns(spark, degen_dir):
    rows = Q.queries()["partial_corr_matrix"](spark, degen_dir).collect()
    assert len(rows) == 6
    assert all(r["partial_corr"] is None for r in rows)


def test_cronbach_constant_items(spark, degen_dir):
    r = Q.queries()["cronbach_alpha"](spark, degen_dir).collect()[0]
    assert r["cronbach_alpha"] is None


def test_residual_diagnostics_constant_x(spark, degen_dir):
    r = Q.queries()["residual_diagnostics"](spark, degen_dir).collect()[0]
    assert r["n"] == 80
    # constant x => slope undefined => every residual statistic NULL
    for c in ("skewness", "ex_kurtosis", "jarque_bera",
              "durbin_watson", "breusch_pagan"):
        assert r[c] is None, c


def test_epi_2x2_empty_cell(spark, degen_dir):
    # no negative-acctbal customers => the 'exposed' row of the 2x2 is
    # empty; every ratio / CI is undefined => NULL
    r = Q.queries()["epi_2x2_measures"](spark, degen_dir).collect()[0]
    assert r["n_exp_out"] == 0 and r["n_exp_noout"] == 0
    for c in ("risk_ratio", "rr_ci_lo", "rr_ci_hi", "odds_ratio",
              "or_ci_lo", "or_ci_hi", "risk_diff"):
        assert r[c] is None, c


# --- temporal (C) family: constant daily series ----------------------


@pytest.fixture(scope="module")
def degen_events_dir(tmp_path_factory):
    """An events table whose DAILY series is constant (24 identical
    events every day for 30 days, value constant, uniform spacing) —
    zero variance on every daily statistic."""
    tmp = tmp_path_factory.mktemp("degen_events")
    rows = []
    eid = 0
    for d in range(30):
        for h in range(24):
            rows.append({
                "event_id": eid,
                "ts": (pd.Timestamp("2024-01-01")
                       + pd.Timedelta(days=d, hours=h)),
                "user_id": h % 5,
                "event_type": ["view", "click", "purchase",
                               "signup"][h % 4],
                "value": 100.0,
                "props": '{"k": 1}',
            })
            eid += 1
    pd.DataFrame(rows).to_parquet(str(tmp / "events.parquet"),
                                  index=False)
    return str(tmp)


@pytest.mark.parametrize("key,null_cols", [
    ("grubbs_daily_outlier", ["g_stat"]),
    ("acf_daily_events", ["acf"]),
    ("pacf_daily", ["pacf_1", "pacf_2", "pacf_3"]),
    ("ljung_box_daily", ["r_k", "q_cum"]),
    ("dow_seasonality_strength", ["eta_sq_dow"]),
    ("ccf_count_value", ["ccf"]),
    ("granger_count_to_value", ["f_stat"]),
    ("periodogram_daily", ["power_norm"]),
    ("ar2_yule_walker_daily", ["r1", "r2", "phi1", "phi2"]),
    ("weekend_lift_daily", ["welch_t"]),
    ("breusch_godfrey_daily", ["lag_resid_coef", "r2_aux", "bg_lm"]),
    ("spectral_entropy_daily", ["entropy_nats",
                                "spectral_entropy_norm"]),
    ("arch_lm_daily", ["lag1_corr_sq_resid", "arch_lm"]),
    ("generalized_esd_daily", ["r_stat"]),
    # newey_west on a constant series: residuals are exactly zero, so
    # the SEs are a DEFINED 0.0 — only t = 0/0 degrades to NULL
    ("newey_west_trend", ["t_hac"]),
    # cuped: per-user post sums differ (users see different event
    # counts), so theta/var_ratio stay defined — no-abort check only
    ("cuped_experiment_events", []),
    ("robust_outlier_days", ["modified_z"]),
])
def test_c_family_constant_series_degrades_to_null(spark,
                                                   degen_events_dir,
                                                   key, null_cols):
    rows = Q.queries()[key](spark, degen_events_dir).collect()
    assert rows, key  # a row (or rows) comes back, never an abort
    for r in rows:
        for c in null_cols:
            assert r[c] is None, (key, c, r)
    _assert_no_nan(rows)


# --- LLM-pipeline (B) family: all-duplicate docs, zero embeddings ----


@pytest.fixture(scope="module")
def degen_docs_dir(tmp_path_factory):
    """Every document identical (one short all-fail-gopher text, one
    source, one lang); every embedding the 64-d zero vector (cosine
    undefined everywhere) with a single label."""
    tmp = tmp_path_factory.mktemp("degen_docs")
    txt = "the cat sat on the mat and the dog sat on the log"
    pd.DataFrame({
        "doc_id": range(1, 41),
        "text": [txt] * 40,
        "lang": ["en"] * 40,
        "source": ["src0"] * 40,
        "n_chars": [len(txt)] * 40,
    }).to_parquet(str(tmp / "documents.parquet"), index=False)
    pd.DataFrame({
        "vec_id": range(1, 41),
        "embedding": [[0.0] * 64 for _ in range(40)],
        "label": [1] * 40,
    }).to_parquet(str(tmp / "embeddings.parquet"), index=False)
    return str(tmp)


def test_ann_zero_norm_vectors_never_abort(spark, degen_docs_dir):
    # zero-norm cosine is undefined: NULL scores must sort last (and
    # thus can still fill ranks), but the job must never abort
    for key in ("ann_lsh", "ann_ivf", "cosine_topk",
                "ann_truncation_recall"):
        rows = Q.queries()[key](spark, degen_docs_dir).collect()
        _assert_no_nan(rows)


def test_embedding_diagnostics_zero_vectors(spark, degen_docs_dir):
    iso = Q.queries()["embedding_isotropy"](spark,
                                            degen_docs_dir).collect()
    assert len(iso) == 1  # all rows filtered (nrm > 0) => empty stats
    er = Q.queries()["embedding_effective_rank"](
        spark, degen_docs_dir).collect()[0]
    assert er["frobenius_sq"] == 0.0
    assert er["effective_rank_pr"] is None
    coh = Q.queries()["label_cohesion_embeddings"](
        spark, degen_docs_dir).collect()
    assert coh == []  # every vector zero-norm => nothing survives


def test_quality_lift_all_fail_gopher(spark, degen_docs_dir):
    rows = Q.queries()["quality_lift_table"](spark,
                                             degen_docs_dir).collect()
    assert rows  # deciles still come back
    for r in rows:
        assert r["pass_rate"] == 0.0
        assert r["cum_lift"] is None  # base_rate 0 => lift undefined


def test_dedup_family_identical_docs(spark, degen_docs_dir):
    # all-duplicate corpora are the dedup operators' DESIGN case —
    # they must return, not abort
    exact = Q.queries()["dedup_exact"](spark, degen_docs_dir).collect()
    assert len(exact) >= 1
    clusters = Q.queries()["dedup_clusters"](spark,
                                             degen_docs_dir).collect()
    assert clusters


# --- single-class corpus: the full-registry sweep's remaining finds --


@pytest.fixture(scope="module")
def degen_single_dir(tmp_path_factory):
    """SINGLE-class orders (one status, one priority, constant price)
    plus constant lineitem — the regime that empties 2x2 cells,
    zeroes class margins, and makes every model fit singular."""
    tmp = tmp_path_factory.mktemp("degen_single")
    pd.DataFrame({
        "o_orderkey": range(1, 201),
        "o_custkey": [(i % 100) + 1 for i in range(200)],
        "o_orderstatus": ["O"] * 200,
        "o_orderpriority": ["3-MEDIUM"] * 200,
        "o_totalprice": [1000.0] * 200,
        "o_orderdate": pd.to_datetime(
            [f"2024-0{1 + (i % 3)}-15" for i in range(200)]).date,
    }).to_parquet(str(tmp / "orders.parquet"), index=False)
    pd.DataFrame({
        "l_orderkey": [(i % 200) + 1 for i in range(400)],
        "l_linenumber": [1 + (i // 200) for i in range(400)],
        "l_quantity": [7.0] * 400,
        "l_extendedprice": [100.0] * 400,
        "l_discount": [0.05] * 400,
        "l_tax": [0.02] * 400,
        "l_returnflag": ["N"] * 400,
        "l_shipdate": pd.to_datetime(["2024-02-01"] * 400).date,
        "l_partkey": [(i % 20) + 1 for i in range(400)],
        "l_suppkey": [(i % 10) + 1 for i in range(400)],
    }).to_parquet(str(tmp / "lineitem.parquet"), index=False)
    txt = "the cat sat on the mat and the dog sat on the log"
    pd.DataFrame({
        "doc_id": range(1, 41), "text": [txt] * 40, "lang": ["en"] * 40,
        "source": ["src0"] * 40, "n_chars": [len(txt)] * 40,
    }).to_parquet(str(tmp / "documents.parquet"), index=False)
    pd.DataFrame({
        "c_custkey": range(1, 101),
        "c_name": [f"Customer#{i}" for i in range(1, 101)],
        "c_nationkey": [i % 5 for i in range(100)],
        "c_mktsegment": ["BUILDING" if i % 2 else "MACHINERY"
                         for i in range(100)],
        "c_acctbal": [500.0] * 100,
    }).to_parquet(str(tmp / "customer.parquet"), index=False)
    return str(tmp)


@pytest.mark.parametrize("key", [
    "cmh_orders", "leverage_audit", "cohens_h_priority",
    "prop_ztest_order_status", "chisq_cell_residuals", "eval_metrics",
    "cooks_distance_outliers", "pr_auc_order_status",
    "cohen_kappa_orders", "mcnemar_orders", "mahalanobis_outliers",
    "chow_test_by_flag", "gamma_mom_fit", "qq_deciles_priority",
    "white_test_hetero", "hellinger_order_value", "deming_regression",
    "cv_metrics_by_fold", "dagostino_k2_price",
    "stepwise_aic_selection",
])
def test_single_class_corpus_never_aborts(spark, degen_single_dir, key):
    """Every statistic a single-class/constant corpus makes undefined
    must come back NULL in a returned row — never an ANSI
    DIVIDE_BY_ZERO job abort, a driver crash, or a NaN leak."""
    rows = Q.queries()[key](spark, degen_single_dir).collect()
    assert rows is not None
    _assert_no_nan(rows)


def test_model_fits_raise_informative_errors(spark, degen_single_dir):
    """The model FITS keep their documented informative-contract
    behavior on degenerate input: a clear ValueError naming the
    problem (zero-variance / singular), never a bare numpy
    LinAlgError after the expensive scan."""
    with pytest.raises(ValueError, match="singular Hessian"):
        Q.queries()["logreg_returnflag"](spark,
                                         degen_single_dir).collect()
    with pytest.raises(ValueError, match="zero-variance"):
        Q.queries()["pca_explained_variance"](spark,
                                              degen_single_dir).collect()


def test_forest_with_empty_trees_terminates(spark, degen_single_dir):
    """Regression: on a corpus whose collapsed hash-bootstrap zeroes
    some trees' total weight, the forest fit produces EMPTY trees and
    the scorer's ancestor walk used to spin forever at node -1
    (observed nontermination). Empty trees are now excluded from the
    ensemble and scoring/metrics complete in seconds."""
    rows = Q.queries()["rf_score_holdout"](spark,
                                           degen_single_dir).collect()
    assert rows  # holdout frame comes back
    m = Q.queries()["rf_holdout_metrics"](spark,
                                          degen_single_dir).collect()[0]
    # constant response => rmse 0, R2 undefined (zero SST) => NULL
    assert m["rmse"] == 0.0
    assert m["r2"] is None
    _assert_no_nan(rows)


def test_rate_and_screen_queries_single_arm(spark, degen_single_dir):
    # woe/iv: no urgent orders => every bin all-negative => NULL woe
    rows = Q.queries()["woe_iv_mktsegment"](spark,
                                            degen_single_dir).collect()
    assert rows and all(r["woe"] is None for r in rows)
    # cochran-armitage: single priority/status zeroes the variance
    r = Q.queries()["cochran_armitage_trend"](spark,
                                              degen_single_dir).collect()[0]
    assert r["z_trend"] is None
    # conformal: constant x => NULL fit propagates to NULL coverage
    c = Q.queries()["conformal_interval_coverage"](
        spark, degen_single_dir).collect()[0]
    assert c["coverage"] is None


# --- round-7 GK proof-bracket twins on all-tied inputs --------------


def test_quantile_twins_all_tied(spark, degen_dir):
    """Every GK twin on an all-constant value column: all probes hit
    the single value, brackets collapse onto it (containment trivially
    holds), and nothing aborts. Also exercises the small-n probe
    floor (_probe_eps) — 3/n here is 60x the 4/accuracy cushion."""
    tm = {r["l_returnflag"]: r
          for r in trimmed_mean_approx_price_detail(
              spark, degen_dir).collect()}
    for flag, r in tm.items():
        assert r["trimmed_mean_approx"] == 100.0, flag
        assert r["c10_lo"] <= 100.0 <= r["c90_hi"], flag
        assert r["n_kept"] == r["n"], flag  # nothing outside the cuts
    ws = winsorized_approx_price_stats_detail(
        spark, degen_dir).collect()
    for r in ws:
        assert r["winsorized_mean_approx"] == 100.0
        assert r["n_clamped"] == 0
        assert r["winsorized_sd_approx"] == 0.0
    of = outlier_fences_approx_detail(spark, degen_dir).collect()
    for r in of:
        assert r["n_outliers"] == 0
        assert r["fence_lo_approx"] <= 500.0 <= r["fence_hi_approx"]
    qs = quantile_summary_approx_detail(spark, degen_dir).collect()
    for r in qs:
        assert r["lo"] == r["hi"] == 1000.0
        for p in ("p25", "p50", "p75", "p95"):
            assert r[f"{p}_approx"] == 1000.0, p
    rb = {r["metric"]: r
          for r in rfm_bounds_approx_detail(
              spark, degen_dir).collect()}
    # mon is constant (1000.0/customer); rec constant (one date)
    assert rb["mon"]["q2_approx"] == 1000.0
    assert rb["rec"]["q2_approx"] == 0.0
    _assert_no_nan(tm.values())
    _assert_no_nan(ws)


def test_quantile_twin_contracts_all_tied(spark, degen_dir):
    """The r08 REGISTERED forms (bound-as-oracle): on all-constant
    inputs the exact audits equal the constant and every containment
    boolean still comes back TRUE (brackets collapse onto the value)."""
    reg = Q.queries()
    tm = {r["l_returnflag"]: r
          for r in reg["trimmed_mean_approx_price"](
              spark, degen_dir).collect()}
    for flag, r in tm.items():
        assert r["trimmed_mean_exact"] == 100.0, flag
        assert r["c10_in_bracket"] and r["c90_in_bracket"], flag
    mad = {r["l_returnflag"]: r
           for r in reg["mad_approx_price_by_flag"](
               spark, degen_dir).collect()}
    for flag, r in mad.items():
        assert r["median_price_exact"] == 100.0 and r["mad_exact"] == 0.0
        assert r["med_in_bracket"] and r["mad_in_bracket"], flag
    for r in reg["winsorized_approx_price_stats"](
            spark, degen_dir).collect():
        assert r["winsorized_mean_exact"] == 100.0
        assert r["n_clamped_exact"] == 0
        assert r["p01_in_bracket"] and r["p99_in_bracket"]
    for r in reg["outlier_fences_approx"](spark, degen_dir).collect():
        assert r["n_outliers_exact"] == 0
        assert r["q1_in_bracket"] and r["q3_in_bracket"]
    for r in reg["quantile_summary_approx"](spark, degen_dir).collect():
        assert r["lo"] == r["hi"] == 1000.0
        for p in ("p25", "p50", "p75", "p95"):
            assert r[f"{p}_exact"] == 1000.0 and r[f"{p}_in_bracket"], p
    rb = {r["metric"]: r
          for r in reg["rfm_bounds_approx"](spark, degen_dir).collect()}
    assert rb["mon"]["q2_exact"] == 1000.0 and rb["mon"]["q2_in_bracket"]
    assert rb["rec"]["q2_exact"] == 0.0 and rb["rec"]["q2_in_bracket"]


def test_hll_contract_identical_docs(spark, degen_docs_dir):
    """40 byte-identical documents: exact distinct = 1 per source and
    corpus-wide; the HLL bound boolean must hold at the degenerate
    extreme too."""
    rows = Q.queries()["sketch_hll_union"](spark, degen_docs_dir).collect()
    for r in rows:
        assert r["n_distinct_exact"] == 1, r["source"]
        assert r["hll_within_5pct"] is True, r["source"]
