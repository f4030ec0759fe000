"""Independent semantic checks for the round-3 late batches: every
closed-form statistic recomputed in pandas/numpy from the raw parquet
(no Spark, no oracle machinery) and compared against the registered
query's output."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from parking_bigdata_spark.queries.a_core import rank_stability_nations
from parking_bigdata_spark.queries.a_stats2 import (
    bartlett_acctbal_by_segment, chow_test_by_flag, cohen_kappa_orders,
    cronbach_alpha, higher_moments_by_flag, mahalanobis_outliers,
    mcnemar_orders, ordinal_assoc_qty_discount, partial_corr_matrix,
    theil_index_by_segment, wilcoxon_signed_rank)
from parking_bigdata_spark.queries.a_stats_ext import (
    ad_ksample_priority, anova_effect_sizes, brier_decomposition, cmh_orders,
    cohens_h_priority, dagostino_k2_price, deming_regression,
    dunn_posthoc_segments, epi_2x2_measures, gehan_wilcoxon_churn,
    hellinger_order_value, hosmer_lemeshow_status, jonckheere_trend_qty,
    lda_returnflag, leverage_audit, logrank_churn_ab, median_ci_order_value,
    pivot_multi_metrics, quantile_reg_90, sign_test_price,
    stratified_ht_estimate, weighted_kappa_orders, white_test_hetero)
from parking_bigdata_spark.queries.b_llm import (
    dedup_clusters, ngram_jaccard, quality_lift_table, vocab_overlap_by_source)
from parking_bigdata_spark.queries.b_llm_ext import (
    ann_truncation_recall, bigram_ppl_by_source, boilerplate_prefix_by_source,
    char_entropy_by_source, charset_profile_by_source, contamination_profile,
    cross_source_duplication, dedup_savings_by_source, dedup_threshold_curve,
    dup_cluster_size_histogram, embedding_effective_rank, embedding_isotropy,
    gram_novelty_by_source, label_cohesion_embeddings, langid_confusion,
    padding_waste_by_bucket, source_diversity, source_js_matrix,
    source_mixture_weights, token_packing_stats, vocab_coverage_topk)
from parking_bigdata_spark.queries.c_temporal import (
    friedman_dow_test, ljung_box_daily, negbin_mom_daily, peak_load_window,
    seasonal_naive_error_daily)
from parking_bigdata_spark.queries.c_temporal_ext import (
    ar2_yule_walker_daily, arch_lm_daily, breusch_godfrey_daily,
    ccf_count_value, conversion_by_session_depth, generalized_esd_daily,
    granger_count_to_value, hourly_entropy_by_type, interarrival_exp_ks,
    kendalls_w_dow, newey_west_trend, pacf_daily, periodogram_daily,
    pettitt_changepoint_daily, psi_monthly_orders, purchase_cadence,
    records_trend_daily, retention_half_life, session_event_cooccurrence,
    session_lognormal_fit, spectral_entropy_daily, wavelet_energy_daily,
    weekend_lift_daily, wilson_ci_event_reach)


@pytest.fixture(scope="module")
def lineitem(sf_dir):
    return pd.read_parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture(scope="module")
def customer(sf_dir):
    return pd.read_parquet(f"{sf_dir}/customer.parquet")


@pytest.fixture(scope="module")
def orders(sf_dir):
    return pd.read_parquet(f"{sf_dir}/orders.parquet")


def test_partial_corr_matches_numpy_inverse(spark, sf_dir, lineitem):
    got = {(r["col_x"], r["col_y"]): r["partial_corr"]
           for r in partial_corr_matrix(spark, sf_dir).collect()}
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    R = np.corrcoef(lineitem[cols].to_numpy(float), rowvar=False)
    P = np.linalg.inv(R)
    for i in range(4):
        for j in range(i + 1, 4):
            want = -P[i, j] / np.sqrt(P[i, i] * P[j, j])
            assert abs(got[(cols[i], cols[j])] - want) < 1e-3, \
                (cols[i], cols[j], got[(cols[i], cols[j])], want)


def test_mahalanobis_matches_numpy(spark, sf_dir, lineitem):
    top = mahalanobis_outliers(spark, sf_dir).toPandas()
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    X = lineitem[cols].to_numpy(float)
    mu = X.mean(axis=0)
    S = np.cov(X, rowvar=False, bias=True)
    Sinv = np.linalg.inv(S)
    V = X - mu
    d2 = np.einsum("ij,jk,ik->i", V, Sinv, V)
    want = np.sort(d2)[-1]
    # rounded covariances on the Spark side -> small tolerance
    assert abs(top["mahalanobis_d2"].iloc[0] - want) / want < 1e-3


def test_chow_matches_direct_ols(spark, sf_dir, lineitem):
    got = chow_test_by_flag(spark, sf_dir).collect()[0]

    def ssr(df):
        x = df["l_quantity"].to_numpy(float)
        y = df["l_extendedprice"].to_numpy(float)
        slope = np.cov(x, y, bias=True)[0, 1] / np.var(x)
        e = y - (y.mean() + slope * (x - x.mean()))
        return float((e ** 2).sum())

    ssr_p = ssr(lineitem)
    groups = [g for _, g in lineitem.groupby("l_returnflag")]
    ssr_g = sum(ssr(g) for g in groups)
    k, n = len(groups), len(lineitem)
    f = ((ssr_p - ssr_g) / ((k - 1) * 2)) / (ssr_g / (n - k * 2))
    assert abs(got["chow_f"] - f) / f < 1e-4
    assert got["n_regimes"] == k and got["n_rows"] == n


def test_cronbach_matches_pandas(spark, sf_dir, lineitem):
    got = cronbach_alpha(spark, sf_dir).collect()[0]
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    item_vars = lineitem[cols].var(ddof=1)
    total_var = lineitem[cols].sum(axis=1).var(ddof=1)
    want = 4 / 3 * (1 - item_vars.sum() / total_var)
    assert abs(got["cronbach_alpha"] - want) < 1e-5


def test_kappa_and_mcnemar_match_pandas(spark, sf_dir, orders):
    r1 = orders["o_orderpriority"].isin(["1-URGENT", "2-HIGH"])
    r2 = orders["o_totalprice"] > 150000
    a = int((r1 & r2).sum())
    b = int((r1 & ~r2).sum())
    c = int((~r1 & r2).sum())
    d = int((~r1 & ~r2).sum())
    n = a + b + c + d
    po = (a + d) / n
    pe = ((a + b) * (a + c) + (c + d) * (b + d)) / n ** 2
    kap = cohen_kappa_orders(spark, sf_dir).collect()[0]
    assert abs(kap["kappa"] - (po - pe) / (1 - pe)) < 1e-5
    mc = mcnemar_orders(spark, sf_dir).collect()[0]
    assert mc["b"] == b and mc["c"] == c
    assert abs(mc["chi2_corrected"]
               - (abs(b - c) - 1) ** 2 / (b + c)) < 1e-3


def test_bartlett_matches_direct(spark, sf_dir, customer):
    got = bartlett_acctbal_by_segment(spark, sf_dir).collect()[0]
    g = customer.groupby("c_mktsegment")["c_acctbal"]
    ns = g.count().to_numpy(float)
    s2 = g.var(ddof=1).to_numpy(float)
    N, k = ns.sum(), len(ns)
    sp2 = ((ns - 1) * s2).sum() / (N - k)
    stat = (N - k) * np.log(sp2) - ((ns - 1) * np.log(s2)).sum()
    corr = 1 + ((1 / (ns - 1)).sum() - 1 / (N - k)) / (3 * (k - 1))
    assert abs(got["bartlett_chi2"] - stat / corr) < 1e-3


def test_theil_matches_direct(spark, sf_dir, customer):
    got = {r["c_mktsegment"]: r["theil_index"]
           for r in theil_index_by_segment(spark, sf_dir).collect()}
    pos = customer[customer["c_acctbal"] > 0]
    for seg, grp in pos.groupby("c_mktsegment"):
        x = grp["c_acctbal"].to_numpy(float)
        mu = x.mean()
        want = float(np.mean(x / mu * np.log(x / mu)))
        assert abs(got[seg] - want) < 1e-5, seg


def test_higher_moments_match_scipy_free(spark, sf_dir, lineitem):
    got = {r["l_returnflag"]: r for r in
           higher_moments_by_flag(spark, sf_dir).collect()}
    for flag, grp in lineitem.groupby("l_returnflag"):
        x = grp["l_extendedprice"].to_numpy(float)
        m = x.mean()
        m2 = ((x - m) ** 2).mean()
        m3 = ((x - m) ** 3).mean()
        m4 = ((x - m) ** 4).mean()
        assert abs(got[flag]["skewness_g1"] - m3 / m2 ** 1.5) < 1e-3
        assert abs(got[flag]["excess_kurtosis_g2"]
                   - (m4 / m2 ** 2 - 3)) < 1e-3


def test_quality_lift_table_invariants(spark, sf_dir):
    lift = quality_lift_table(spark, sf_dir).toPandas()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    assert sorted(lift["decile"]) == list(range(1, 11))
    assert lift["n_docs"].sum() == len(docs)
    # the full-corpus cumulative lift is the base rate over itself
    assert abs(lift.loc[lift["decile"] == 10, "cum_lift"].iloc[0]
               - 1.0) < 1e-9
    # the heuristic score must actually concentrate rule-passers early
    assert (lift.loc[lift["decile"] == 1, "pass_rate"].iloc[0]
            >= lift.loc[lift["decile"] == 10, "pass_rate"].iloc[0])


def test_vocab_overlap_target_is_unity(spark, sf_dir):
    ov = {r["source"]: r for r in
          vocab_overlap_by_source(spark, sf_dir).collect()}
    assert ov["src0"]["vocab_jaccard"] == 1.0
    assert ov["src0"]["n_common"] == ov["src0"]["n_vocab"]
    for src, r in ov.items():
        assert 0.0 <= r["vocab_jaccard"] <= 1.0, src


def test_seasonal_naive_error_positive_and_bounded(spark, sf_dir):
    r = seasonal_naive_error_daily(spark, sf_dir).collect()[0]
    assert r["n_scored_days"] > 10  # sf0.001 events span ~a month
    assert r["mae"] > 0 and r["rmse"] >= r["mae"]


def test_peak_load_window_is_max_of_hops(spark, sf_dir):
    from parking_bigdata_spark.io import load_table
    from pyspark.sql import functions as F
    peak = peak_load_window(spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    mx = (ev.groupBy(F.window("ts", "1 hour", "15 minutes"))
            .count().agg(F.max("count")).collect()[0][0])
    assert peak["n_events"] == mx


def test_wilcoxon_matches_pandas_rank_recompute(spark, sf_dir, lineitem):
    part = pd.read_parquet(f"{sf_dir}/part.parquet")
    li = lineitem.assign(unit=lineitem.l_extendedprice
                         / lineitem.l_quantity)
    peak = li.groupby("l_partkey")["unit"].max()
    d = (peak - part.set_index("p_partkey")["p_retailprice"]).dropna()
    d = d[d != 0]
    r = d.abs().rank(method="average")
    wplus = float(r[d > 0].sum())
    n = len(d)
    t = d.abs().value_counts().to_numpy()
    var = n * (n + 1) * (2 * n + 1) / 24.0 - float(((t**3) - t).sum()) / 48
    z = (wplus - n * (n + 1) / 4.0) / np.sqrt(var)
    got = wilcoxon_signed_rank(spark, sf_dir).collect()[0]
    assert got["n_pairs"] == n
    assert abs(got["w_plus"] - wplus) < 0.01
    assert abs(got["z_stat"] - z) < 1e-5


def test_ordinal_assoc_matches_brute_force_cube(spark, sf_dir, lineitem):
    cells = (lineitem.groupby(["l_quantity", "l_discount"])
             .size().reset_index(name="c"))
    x = cells.l_quantity.to_numpy()
    y = cells.l_discount.to_numpy()
    c = cells.c.to_numpy().astype(float)
    gx = np.greater.outer(x, x).T  # [a, b] -> x_b > x_a
    gy = np.greater.outer(y, y).T
    ly = np.less.outer(y, y).T
    w = np.outer(c, c)
    C = float(w[gx & gy].sum())
    D = float(w[gx & ly].sum())
    n = float(c.sum())
    n0 = (n * n - n) / 2
    srx = cells.groupby("l_quantity")["c"].sum().to_numpy().astype(float)
    scy = cells.groupby("l_discount")["c"].sum().to_numpy().astype(float)
    n1 = ((srx**2).sum() - n) / 2
    n2 = ((scy**2).sum() - n) / 2
    got = ordinal_assoc_qty_discount(spark, sf_dir).collect()[0]
    assert got["concordant"] == C and got["discordant"] == D
    assert abs(got["gk_gamma"] - (C - D) / (C + D)) < 1e-5
    assert abs(got["somers_d_yx"] - (C - D) / (n0 - n1)) < 1e-5
    assert abs(got["somers_d_xy"] - (C - D) / (n0 - n2)) < 1e-5
    m = min(len(srx), len(scy))
    assert abs(got["stuart_tau_c"]
               - (C - D) * 2 * m / (n * n * (m - 1))) < 1e-5


def test_ljung_box_matches_numpy_acf(spark, sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet").dropna(subset=["ts"])
    daily = (ev.assign(d=ev.ts.dt.normalize()).groupby("d").size()
             .sort_index())
    x = daily.to_numpy().astype(float)
    idx = (daily.index - pd.Timestamp("1995-01-01")).days.to_numpy()
    n = len(x)
    xbar = x.mean()
    c0 = ((x - xbar) ** 2).sum()
    pos = {d: v for d, v in zip(idx, x)}
    q = 0.0
    got = {r["lag_k"]: r for r in
           ljung_box_daily(spark, sf_dir).collect()}
    for k in range(1, 8):
        ck = sum((pos[d] - xbar) * (pos[d + k] - xbar)
                 for d in idx if d + k in pos)
        rk = ck / c0
        q += n * (n + 2) * rk * rk / (n - k)
        assert abs(got[k]["r_k"] - rk) < 1e-4, k
        assert abs(got[k]["q_cum"] - q) < 0.01, k


def test_negbin_mom_recovers_moment_identities(spark, sf_dir):
    got = negbin_mom_daily(spark, sf_dir).collect()[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet").dropna(subset=["ts"])
    daily = ev.assign(d=ev.ts.dt.normalize()).groupby("d").size()
    m, v = daily.mean(), daily.var(ddof=1)
    assert got["n_days"] == len(daily)
    assert abs(got["mean"] - m) < 1e-3
    assert abs(got["variance"] - v) < 1e-3
    if v > m:
        r, p = got["size_r"], got["prob_p"]
        # NB(r, p) mean identity: r(1-p)/p == sample mean
        assert abs(r * (1 - p) / p - m) < 1e-2
        assert got["mean_loglik"] < 0


def _doc_words(text):
    import re
    return re.sub(r"[^a-z0-9 ]", " ", text.lower()).split()


def test_gram_novelty_matches_pandas_sets(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    per_doc = {}
    for r in docs.itertuples():
        w = _doc_words(r.text)
        per_doc[r.doc_id] = (r.source, {
            " ".join(w[i:i + 8]) for i in range(len(w) - 7)})
    owners = {}
    for did, (src, grams) in per_doc.items():
        for g in grams:
            owners.setdefault(g, set()).add(did)
    got = {r["source"]: r for r in
           gram_novelty_by_source(spark, sf_dir).collect()}
    by_src = {}
    for did, (src, grams) in per_doc.items():
        by_src.setdefault(src, set()).update(grams)
    for src, grams in by_src.items():
        uniq = sum(1 for g in grams if len(owners[g]) == 1)
        assert got[src]["n_distinct_grams"] == len(grams), src
        assert got[src]["n_unique_grams"] == uniq, src


def test_boilerplate_prefix_matches_pandas(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    pre = docs.assign(prefix=[" ".join(_doc_words(t)[:4])
                              for t in docs.text])
    pre = pre[pre.prefix.str.split().str.len() >= 4]
    got = {r["source"]: r for r in
           boilerplate_prefix_by_source(spark, sf_dir).collect()}
    for src, g in pre.groupby("source"):
        counts = (g.groupby("prefix").size().reset_index(name="n")
                  .sort_values(["n", "prefix"], ascending=[False, True]))
        top = counts.iloc[0]
        assert got[src]["top_prefix"] == top.prefix, src
        assert got[src]["n_docs_with_prefix"] == top.n, src
        assert abs(got[src]["prefix_share"] - top.n / len(g)) < 1e-5


def test_charset_profile_matches_recompute(spark, sf_dir):
    import re
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    got = {r["source"]: r for r in
           charset_profile_by_source(spark, sf_dir).collect()}
    src = docs.source.iloc[0]
    g = docs[docs.source == src]
    ws = np.mean([len(re.findall(r"[ \t\n\r]", t)) / len(t)
                  for t in g.text if t])
    sym = np.mean([len(re.findall(r"[^a-zA-Z0-9 \t\n\r]", t)) / len(t)
                   for t in g.text if t])
    assert abs(got[src]["ws_frac"] - ws) < 1e-4
    assert abs(got[src]["symbol_frac"] - sym) < 1e-4
    assert got[src]["n_docs"] == (g.text.str.len() > 0).sum()


def test_token_packing_matches_integer_cumsum(spark, sf_dir):
    import re
    pat = re.compile(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]")
    docs = (pd.read_parquet(f"{sf_dir}/documents.parquet")
            .sort_values("doc_id"))
    n = docs.text.map(lambda t: len(pat.findall(t))).to_numpy()
    cum = n.cumsum()
    start, end = cum - n, cum
    nz = n > 0
    crossing = int((((end[nz] - 1) // 512) > (start[nz] // 512)).sum())
    got = token_packing_stats(spark, sf_dir).collect()[0]
    assert got["n_docs"] == int(nz.sum())
    assert got["total_tokens"] == int(n.sum())
    assert got["n_sequences"] == -(-int(n.sum()) // 512)
    assert got["n_docs_crossing"] == crossing
    assert abs(got["fill_rate"]
               - n.sum() / (got["n_sequences"] * 512)) < 1e-6


def test_dagostino_k2_matches_published_formulas(spark, sf_dir):
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    x = np.log(o.o_totalprice.astype(float).to_numpy())
    n = float(len(x))
    m = x.mean()
    m2 = ((x - m) ** 2).mean()
    m3 = ((x - m) ** 3).mean()
    m4 = ((x - m) ** 4).mean()
    g1 = m3 / m2 ** 1.5
    b2 = m4 / m2 ** 2
    # D'Agostino 1970 skewness transform
    y = g1 * np.sqrt((n + 1) * (n + 3) / (6 * (n - 2)))
    beta2 = (3 * (n * n + 27 * n - 70) * (n + 1) * (n + 3)
             / ((n - 2) * (n + 5) * (n + 7) * (n + 9)))
    w2 = np.sqrt(2 * (beta2 - 1)) - 1
    delta = 1 / np.sqrt(np.log(np.sqrt(w2)))
    alpha = np.sqrt(2 / (w2 - 1))
    z1 = delta * np.log(y / alpha + np.sqrt((y / alpha) ** 2 + 1))
    # Anscombe-Glynn 1983 kurtosis transform
    eb2 = 3 * (n - 1) / (n + 1)
    vb2 = 24 * n * (n - 2) * (n - 3) / ((n + 1) ** 2 * (n + 3) * (n + 5))
    xk = (b2 - eb2) / np.sqrt(vb2)
    sb1 = (6 * (n * n - 5 * n + 2) / ((n + 7) * (n + 9))
           * np.sqrt(6 * (n + 3) * (n + 5) / (n * (n - 2) * (n - 3))))
    a = 6 + 8 / sb1 * (2 / sb1 + np.sqrt(1 + 4 / sb1 ** 2))
    z2 = ((1 - 2 / (9 * a))
          - np.cbrt((1 - 2 / a) / (1 + xk * np.sqrt(2 / (a - 4))))
          ) / np.sqrt(2 / (9 * a))
    got = dagostino_k2_price(spark, sf_dir).collect()[0]
    assert got["n"] == int(n)
    assert abs(got["skewness_g1"] - g1) < 1e-4
    assert abs(got["kurtosis_b2"] - b2) < 1e-4
    assert abs(got["z_skew"] - z1) < 1e-3
    assert abs(got["z_kurt"] - z2) < 1e-3
    assert abs(got["k2_stat"] - (z1 * z1 + z2 * z2)) < 2e-3


def test_dunn_posthoc_matches_pandas_ranks(spark, sf_dir):
    c = pd.read_parquet(f"{sf_dir}/customer.parquet")
    r = c.c_acctbal.astype(float).rank(method="average")
    n = float(len(c))
    t = c.c_acctbal.astype(float).value_counts().to_numpy().astype(float)
    sig2 = n * (n + 1) / 12 - (t ** 3 - t).sum() / (12 * (n - 1))
    mr = r.groupby(c.c_mktsegment).mean()
    ng = c.c_mktsegment.value_counts()
    got = {(x["seg_a"], x["seg_b"]): x for x in
           dunn_posthoc_segments(spark, sf_dir).collect()}
    segs = sorted(mr.index)
    assert len(got) == len(segs) * (len(segs) - 1) // 2
    for i, sa in enumerate(segs):
        for sb in segs[i + 1:]:
            z = ((mr[sa] - mr[sb])
                 / np.sqrt(sig2 * (1 / ng[sa] + 1 / ng[sb])))
            assert abs(got[(sa, sb)]["z_stat"] - z) < 1e-3, (sa, sb)
            assert abs(got[(sa, sb)]["mean_rank_a"] - mr[sa]) < 1e-2


def test_jonckheere_matches_bruteforce_cube(spark, sf_dir):
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    g = li.l_discount.astype(float).to_numpy()
    v = li.l_quantity.astype(float).to_numpy()
    levels = np.sort(np.unique(g))
    jt = 0.0
    for i, gi in enumerate(levels):
        vi = np.sort(v[g == gi])
        for gj in levels[i + 1:]:
            vj = v[g == gj]
            # U_ij = #(x<y) + 0.5 #(x==y) via sorted-side searchsorted
            lt = np.searchsorted(vi, vj, side="left")
            le = np.searchsorted(vi, vj, side="right")
            jt += lt.sum() + 0.5 * (le - lt).sum()
    got = jonckheere_trend_qty(spark, sf_dir).collect()[0]
    assert got["n"] == len(li)
    assert abs(got["jt_stat"] - jt) < 0.51
    # mean under H0
    ni = np.array([(g == gi).sum() for gi in levels], dtype=float)
    assert abs(got["mean_jt"]
               - (len(li) ** 2 - (ni ** 2).sum()) / 4.0) < 0.51


def test_logrank_matches_pandas_life_table(spark, sf_dir):
    import hashlib
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev.ts.notna()]
    ev["d"] = pd.to_datetime(ev.ts).dt.normalize()
    mx = ev.d.max()
    rows = []
    for uid, gd in ev.groupby("user_id"):
        days = pd.to_datetime(np.sort(gd.d.unique()))
        gaps = np.diff(days.values).astype("timedelta64[D]").astype(int)
        ich = None
        for i, gp in enumerate(gaps):
            if gp >= 3:
                ich = days[i]
                break
        cd = ich
        if cd is None and (mx - days[-1]).days >= 3:
            cd = days[-1]
        dur = ((cd if cd is not None else mx) - days[0]).days
        arm = int(hashlib.md5(f"arm:{uid}".encode()).hexdigest()[0] < "8")
        rows.append((dur, int(cd is not None), arm))
    lt = pd.DataFrame(rows, columns=["dur", "churned", "b"])
    o1 = e1 = vv = 0.0
    for dur in sorted(lt.dur.unique()):
        at = lt[lt.dur >= dur]
        ev_t = lt[(lt.dur == dur) & (lt.churned == 1)]
        d, nat = len(ev_t), float(len(at))
        n1, d1 = float((at.b == 1).sum()), float((ev_t.b == 1).sum())
        if d == 0 or nat <= 1:
            continue
        o1 += d1
        e1 += d * n1 / nat
        vv += d * (n1 / nat) * ((nat - n1) / nat) * (nat - d) / (nat - 1)
    got = logrank_churn_ab(spark, sf_dir).collect()[0]
    assert got["n_arm_a"] == int((lt.b == 1).sum())
    assert got["n_arm_b"] == int((lt.b == 0).sum())
    assert got["observed_a_churn"] == int(o1)
    assert abs(got["expected_a_churn"] - e1) < 1e-3
    if vv > 0:
        assert abs(got["z_stat"] - (o1 - e1) / np.sqrt(vv)) < 1e-3


def _daily_df(sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev.ts.notna()].copy()
    ev["d"] = (pd.to_datetime(ev.ts).dt.normalize()
               - pd.Timestamp("1995-01-01")).dt.days
    return ev


def test_ccf_matches_pandas_shifted_corr(spark, sf_dir):
    ev = _daily_df(sf_dir)
    daily = (ev.groupby("d")
               .agg(n=("event_id", "size"), v=("value", "mean"))
               .reset_index())
    got = {r["lag_k"]: r for r in
           ccf_count_value(spark, sf_dir).collect()}
    for k in (-2, 0, 3):
        m = daily.merge(daily.assign(d=daily.d - k)[["d", "v"]],
                        on="d", suffixes=("", "_lag"))
        exp = np.corrcoef(m.n, m.v_lag)[0, 1]
        assert got[k]["n_pairs"] == len(m)
        assert abs(got[k]["ccf"] - exp) < 1e-3, k


def test_granger_f_matches_numpy_ols(spark, sf_dir):
    ev = _daily_df(sf_dir)
    daily = (ev.groupby("d")
               .agg(x=("event_id", "size"), y=("value", "mean"))
               .reset_index().sort_values("d"))
    m = daily.merge(daily.assign(d=daily.d + 1), on="d",
                    suffixes=("", "_l"))
    y, yl, xl = (m.y.to_numpy(), m.y_l.to_numpy(),
                 m.x_l.to_numpy(dtype=float))
    n = len(m)
    Xr = np.column_stack([np.ones(n), yl])
    Xf = np.column_stack([np.ones(n), yl, xl])
    rss = lambda X: float(((y - X @ np.linalg.lstsq(X, y, rcond=None)[0])
                           ** 2).sum())
    rss_r, rss_f = rss(Xr), rss(Xf)
    f = (rss_r - rss_f) / (rss_f / (n - 3))
    got = granger_count_to_value(spark, sf_dir).collect()[0]
    assert got["n_obs"] == n
    assert abs(got["rss_restricted"] - rss_r) < max(1e-2, 1e-6 * rss_r)
    assert abs(got["rss_full"] - rss_f) < max(1e-2, 1e-6 * rss_f)
    assert abs(got["f_stat"] - f) < 1e-2


def test_pettitt_matches_bruteforce(spark, sf_dir):
    ev = _daily_df(sf_dir)
    daily = (ev.groupby("d").size().reset_index(name="n")
               .sort_values("d").reset_index(drop=True))
    r = daily.n.rank(method="average").to_numpy()
    nd = len(daily)
    s = np.cumsum(r)
    t = np.arange(1, nd + 1)
    u = 2 * s - t * (nd + 1)
    k = np.abs(u).max()
    best_day = int(daily.d.iloc[np.argmax(np.abs(u))])
    got = pettitt_changepoint_daily(spark, sf_dir).collect()[0]
    assert got["n_days"] == nd
    assert abs(got["k_stat"] - k) < 0.51
    assert got["changepoint_day"] == best_day
    assert abs(got["p_approx"]
               - np.exp(-6 * k * k / (nd ** 3 + nd ** 2))) < 1e-4


def test_periodogram_peaks_at_planted_period(spark, sf_dir):
    ev = _daily_df(sf_dir)
    daily = (ev.groupby("d").size().reset_index(name="n")
               .sort_values("d"))
    x = daily.n.to_numpy(dtype=float)
    d = daily.d.to_numpy(dtype=float)
    xc = x - x.mean()
    got = {r["period"]: r["power_norm"] for r in
           periodogram_daily(spark, sf_dir).collect()}
    for p in (3, 7, 12):
        th = 2 * np.pi * d / p
        pw = (((xc * np.cos(th)).sum() ** 2 + (xc * np.sin(th)).sum() ** 2)
              / (len(x) * x.var()))
        assert abs(got[p] - pw) < 1e-3, p


def test_interarrival_ks_matches_numpy_ecdf(spark, sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev.ts.notna()].sort_values(["user_id", "ts", "event_id"])
    us = ev.ts.astype("datetime64[us]").astype("int64")  # micros, exact
    g = []
    for uid, grp in ev.assign(us=us).groupby("user_id"):
        dif = np.diff(grp.us.to_numpy()) / 1e6
        g.extend(dif[dif > 0])
    g = np.sort(np.array(g))
    lam = round(1.0 / g.mean(), 9)
    n = len(g)
    cdf = 1 - np.exp(-lam * g)
    hi = np.arange(1, n + 1) / n
    lo = np.arange(0, n) / n
    ks = max(np.abs(hi - cdf).max(), np.abs(lo - cdf).max())
    got = interarrival_exp_ks(spark, sf_dir).collect()[0]
    assert got["n_gaps"] == n
    assert abs(got["lambda_per_sec"] - lam) < 1e-9
    assert abs(got["ks_stat"] - ks) < 1e-3


_TOK_PAT = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def test_source_mixture_matches_numpy_temperature(spark, sf_dir):
    import re
    pat = re.compile(_TOK_PAT)
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    tok = docs.assign(n=[len(pat.findall(t)) for t in docs.text])
    per = tok.groupby("source")["n"].sum()
    p = per / per.sum()
    w = p ** 0.7 / (p ** 0.7).sum()
    got = {r["source"]: r for r in
           source_mixture_weights(spark, sf_dir).collect()}
    assert abs(sum(r["temp_share"] for r in got.values()) - 1.0) < 1e-3
    for src in per.index:
        assert got[src]["n_tokens"] == per[src]
        assert abs(got[src]["natural_share"] - p[src]) < 1e-5
        assert abs(got[src]["temp_share"] - w[src]) < 1e-5
        assert abs(got[src]["upsample_factor"] - w[src] / p[src]) < 1e-3
    # temperature sampling must compress the range toward uniform
    assert (max(w) - min(w)) < (max(p) - min(p)) + 1e-12


def test_padding_waste_matches_numpy_buckets(spark, sf_dir):
    import re
    pat = re.compile(_TOK_PAT)
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    n = np.array([len(pat.findall(t)) for t in docs.text])
    n = n[n > 0]
    buckets = 2 ** np.clip(np.ceil(np.log2(np.maximum(n, 1))), 4, 13)
    buckets = np.maximum(buckets, 16).astype(int)
    got = {r["bucket_len"]: r for r in
           padding_waste_by_bucket(spark, sf_dir).collect()}
    for b in np.unique(buckets):
        mask = buckets == b
        assert got[b]["n_docs"] == int(mask.sum()), b
        assert got[b]["n_tokens"] == int(n[mask].sum()), b
        w = 1 - n[mask].sum() / (mask.sum() * b)
        assert abs(got[b]["waste_frac"] - w) < 1e-5, b
    assert sum(r["n_docs"] for r in got.values()) == len(n)


def test_source_diversity_matches_entropy(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    p = docs.source.value_counts(normalize=True).to_numpy()
    h = float(-(p * np.log(p)).sum())
    got = source_diversity(spark, sf_dir).collect()[0]
    assert got["n_sources"] == docs.source.nunique()
    assert abs(got["doc_entropy_nats"] - h) < 1e-5
    assert abs(got["doc_effective_sources"] - np.exp(h)) < 1e-3
    assert abs(got["doc_inv_simpson"] - 1.0 / (p ** 2).sum()) < 1e-3
    assert got["doc_effective_sources"] <= got["n_sources"] + 1e-9
    assert got["token_effective_sources"] <= got["n_sources"] + 1e-9


def test_ann_truncation_recall_matches_numpy(spark, sf_dir):
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    V = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    ids = emb.vec_id.to_numpy()
    qmask = ids < 10

    def topk(dim):
        A = V[:, :dim]
        An = A / np.linalg.norm(A, axis=1, keepdims=True)
        S = An[qmask] @ An.T
        out = {}
        for qi, qid in enumerate(ids[qmask]):
            s = np.round(S[qi], 6)
            s[ids == qid] = -np.inf
            # score DESC, vec_id ASC tie-break
            order = np.lexsort((ids, -s))
            out[qid] = set(ids[order][:5])
        return out

    full = topk(64)
    got = {r["dim"]: r for r in
           ann_truncation_recall(spark, sf_dir).collect()}
    for dim in (8, 16, 32):
        t = topk(dim)
        rec = np.mean([len(t[q] & full[q]) / 5.0 for q in full])
        assert got[dim]["n_queries"] == len(full)
        assert abs(got[dim]["mean_recall_at_5"] - rec) < 1e-6, dim
    # recall must be monotone non-decreasing in retained dims
    assert (got[8]["mean_recall_at_5"]
            <= got[32]["mean_recall_at_5"] + 1e-9)


def test_ad_ksample_matches_bruteforce(spark, sf_dir, orders):
    g = orders.o_orderpriority.to_numpy()
    v = orders.o_totalprice.astype(float).to_numpy()
    groups = np.unique(g)
    zs, ls = np.unique(v, return_counts=True)
    N, k = len(v), len(groups)
    B = np.cumsum(ls)
    a2 = 0.0
    for gi in groups:
        vi = v[g == gi]
        ni = len(vi)
        f = np.zeros(len(zs))
        uz, uc = np.unique(vi, return_counts=True)
        f[np.searchsorted(zs, uz)] = uc
        M = np.cumsum(f)
        Ma = M - f / 2.0
        Ba = B - ls / 2.0
        den = Ba * (N - Ba) - N * ls / 4.0
        ok = den > 0
        a2 += (1.0 / ni) * (ls[ok] * (N * Ma[ok] - ni * Ba[ok]) ** 2
                            / den[ok]).sum()
    a2 *= (N - 1) / N
    got = ad_ksample_priority(spark, sf_dir).collect()[0]
    assert got["n"] == N and got["k_groups"] == k
    assert abs(got["a2_akn"] - a2) < 1e-2
    assert got["mean_h0"] == k - 1


def test_white_lm_matches_numpy(spark, sf_dir, lineitem):
    x = lineitem.l_quantity.astype(float).to_numpy()
    y = lineitem.l_extendedprice.astype(float).to_numpy()
    slope = np.cov(x, y, bias=True)[0, 1] / x.var()
    e = y - (y.mean() + slope * (x - x.mean()))
    u = e ** 2
    Z = np.column_stack([np.ones_like(x), x, x * x])
    b = np.linalg.lstsq(Z, u, rcond=None)[0]
    r2 = 1 - ((u - Z @ b) ** 2).sum() / ((u - u.mean()) ** 2).sum()
    got = white_test_hetero(spark, sf_dir).collect()[0]
    assert got["n"] == len(x)
    assert abs(got["r2_aux"] - r2) < 1e-5
    assert abs(got["white_lm"] - len(x) * r2) < max(0.01, 1e-4 * len(x))


def test_lda_matches_numpy_solve(spark, sf_dir, lineitem):
    cols = ["l_quantity", "l_discount", "l_tax"]
    a = lineitem[lineitem.l_returnflag == "R"][cols].to_numpy(float)
    b = lineitem[lineitem.l_returnflag == "N"][cols].to_numpy(float)
    d = a.mean(axis=0) - b.mean(axis=0)
    Sw = ((np.cov(a, rowvar=False, bias=False) * (len(a) - 1)
           + np.cov(b, rowvar=False, bias=False) * (len(b) - 1))
          / (len(a) + len(b) - 2))
    w = np.linalg.solve(Sw, d)
    sep = np.sqrt(w @ d)
    wn = w / np.linalg.norm(w)
    got = lda_returnflag(spark, sf_dir).collect()[0]
    assert got["n_a"] == len(a) and got["n_b"] == len(b)
    for c, v in zip(cols, wn):
        assert abs(got[f"w_{c}"] - v) < 1e-4, c
    assert abs(got["mahalanobis_sep"] - sep) < 1e-3
    # canonical direction: separates toward class a
    assert sum(got[f"w_{c}"] * dv for c, dv in zip(cols, d)) > 0


def test_ar2_matches_numpy_yule_walker(spark, sf_dir):
    ev = _daily_df(sf_dir)
    daily = (ev.groupby("d").size().reset_index(name="n")
               .sort_values("d"))
    x = daily.n.to_numpy(dtype=float)
    d = daily.d.to_numpy()
    mu, c0, n = x.mean(), x.var(), len(x)
    cs = {}
    for k in (1, 2):
        # pairs joined on calendar day (gaps drop), matching the query
        idx = {dd: i for i, dd in enumerate(d)}
        pairs = [(i, idx[dd + k]) for i, dd in enumerate(d)
                 if dd + k in idx]
        cs[k] = sum((x[i] - mu) * (x[j] - mu) for i, j in pairs) / n
    r1, r2 = cs[1] / c0, cs[2] / c0
    phi1 = r1 * (1 - r2) / (1 - r1 ** 2)
    phi2 = (r2 - r1 ** 2) / (1 - r1 ** 2)
    got = ar2_yule_walker_daily(spark, sf_dir).collect()[0]
    assert got["n_days"] == n
    assert abs(got["r1"] - r1) < 1e-5
    assert abs(got["r2"] - r2) < 1e-5
    assert abs(got["phi1"] - phi1) < 1e-4
    assert abs(got["phi2"] - phi2) < 1e-4
    assert abs(got["innovation_var"]
               - c0 * (1 - phi1 * r1 - phi2 * r2)) < 1e-2


def test_bigram_ppl_matches_pandas_lm(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    from collections import Counter
    cb, cu = Counter(), Counter()
    doc_pairs = {}
    for r in docs.itertuples():
        w = _doc_words(r.text)
        prs = list(zip(w, w[1:]))
        if prs:
            doc_pairs[r.doc_id] = (r.source, prs)
            cb.update(prs)
            cu.update(p[0] for p in prs)
    v = len({p[1] for ps in doc_pairs.values() for p in ps[1]})
    per_src = {}
    for did, (src, prs) in doc_pairs.items():
        nll = np.mean([-np.log((cb[p] + 0.5) / (cu[p[0]] + 0.5 * v))
                       for p in prs])
        per_src.setdefault(src, []).append(nll)
    got = {r["source"]: r for r in
           bigram_ppl_by_source(spark, sf_dir).collect()}
    for src, nlls in per_src.items():
        assert got[src]["n_docs"] == len(nlls), src
        assert abs(got[src]["avg_bigram_nll"] - np.mean(nlls)) < 1e-3
        assert abs(got[src]["perplexity"]
                   - np.exp(np.mean(nlls))) < 0.05


def test_embedding_isotropy_matches_n2_bruteforce(spark, sf_dir):
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    V = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    nrm = np.linalg.norm(V, axis=1)
    Vh = V[nrm > 0] / nrm[nrm > 0, None]
    n = len(Vh)
    S = Vh @ Vh.T
    mean_cos = (S.sum() - np.trace(S)) / (n * (n - 1))
    got = embedding_isotropy(spark, sf_dir).collect()[0]
    assert got["n_vectors"] == n
    assert got["dim"] == V.shape[1]
    assert abs(got["mean_norm"] - nrm[nrm > 0].mean()) < 1e-5
    assert abs(got["mean_pairwise_cosine"] - mean_cos) < 1e-5


def test_vocab_coverage_matches_sorted_cumsum(spark, sf_dir):
    from collections import Counter
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    c = Counter()
    for t in docs.text:
        c.update(_doc_words(t))
    # sort by count desc; within a tie group any word subset covers
    # the same token mass, so plain count-sorted cumsum is exact
    counts = np.sort(np.array(list(c.values())))[::-1]
    total = counts.sum()
    got = {r["top_k"]: r for r in
           vocab_coverage_topk(spark, sf_dir).collect()}
    for k in (100, 1000, 10000):
        want = counts[:k].sum() / total if k <= len(counts) else 1.0
        assert got[k]["vocab_size"] == len(counts)
        assert abs(got[k]["token_coverage"] - want) < 1e-5, k
        assert abs(got[k]["oov_rate"] - (1 - want)) < 1e-5


def test_weekend_lift_matches_pandas(spark, sf_dir):
    ev = _daily_df(sf_dir)
    daily = ev.groupby("d").size().reset_index(name="n")
    wk = daily[daily.d % 7 % 6 == 0]  # 0 or 6
    wd = daily[~(daily.d % 7).isin([0, 6])]
    got = weekend_lift_daily(spark, sf_dir).collect()[0]
    assert got["n_weekend_days"] == len(wk)
    assert got["n_weekday_days"] == len(wd)
    assert abs(got["lift"] - wk.n.mean() / wd.n.mean()) < 1e-3
    se2 = wk.n.var(ddof=1) / len(wk) + wd.n.var(ddof=1) / len(wd)
    t = (wk.n.mean() - wd.n.mean()) / np.sqrt(se2)
    assert abs(got["welch_t"] - t) < 1e-3


def test_quantile_reg_reduces_check_loss(spark, sf_dir, lineitem):
    """The τ=0.9 IRLS line must beat both the OLS line and the LAD
    line on the τ=0.9 check loss (pinball), and its residuals must
    leave roughly 10% of mass above... at least far less than 50%."""
    got = {r["term"]: r["estimate"] for r in
           quantile_reg_90(spark, sf_dir).collect()}
    x = lineitem.l_quantity.astype(float).to_numpy()
    y = lineitem.l_extendedprice.astype(float).to_numpy()

    def pinball(b0, b1, tau=0.9):
        r = y - (b0 + b1 * x)
        return np.where(r >= 0, tau * r, (tau - 1) * r).mean()

    slope = np.cov(x, y, bias=True)[0, 1] / x.var()
    ols = (y.mean() - slope * x.mean(), slope)
    q = (got["intercept"], got["coef_x"])
    assert pinball(*q) < pinball(*ols)
    # the fitted line sits clearly above the median line (0.5 mass)
    # and is still descending toward 0.1 at the fixed 8-scan budget
    frac_above = (y > q[0] + q[1] * x).mean()
    assert frac_above < 0.35


def test_pivot_multi_matches_pandas(spark, sf_dir, orders):
    got = {r["o_orderpriority"]: r for r in
           pivot_multi_metrics(spark, sf_dir).collect()}
    for pri, g in orders.groupby("o_orderpriority"):
        for s in ("F", "O", "P"):
            sub = g[g.o_orderstatus == s]
            assert got[pri][f"n_{s.lower()}"] == len(sub), (pri, s)
            if len(sub):
                assert abs(got[pri][f"avg_{s.lower()}"]
                           - sub.o_totalprice.astype(float).mean()) < 0.02
            else:
                assert got[pri][f"avg_{s.lower()}"] is None


def test_cross_source_duplication_matches_pandas(spark, sf_dir):
    import hashlib
    from itertools import combinations
    from collections import Counter
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    docs["h"] = [hashlib.md5(t.encode()).hexdigest() for t in docs.text]
    pair_texts, pair_docs = Counter(), Counter()
    for h, g in docs.groupby("h"):
        srcs = sorted(g.source.unique())
        if len(srcs) < 2:
            continue
        for a, b in combinations(srcs, 2):
            pair_texts[(a, b)] += 1
            pair_docs[(a, b)] += len(g)
    got = {(r["src_a"], r["src_b"]): r for r in
           cross_source_duplication(spark, sf_dir).collect()}
    assert set(got) == set(pair_texts)
    for k in pair_texts:
        assert got[k]["n_shared_texts"] == pair_texts[k], k
        assert got[k]["n_docs_involved"] == pair_docs[k], k


def test_char_entropy_matches_pandas(spark, sf_dir):
    from collections import Counter
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    got = {r["source"]: r for r in
           char_entropy_by_source(spark, sf_dir).collect()}
    src = docs.source.iloc[0]
    hs, dc = [], []
    for t in docs[docs.source == src].text:
        c = Counter(t.lower())
        n = sum(c.values())
        if n == 0:
            continue
        p = np.array(list(c.values())) / n
        hs.append(float(-(p * np.log(p)).sum()))
        dc.append(len(c))
    assert got[src]["n_docs"] == len(hs)
    assert abs(got[src]["avg_char_entropy"] - np.mean(hs)) < 1e-4
    assert abs(got[src]["avg_distinct_chars"] - np.mean(dc)) < 1e-2


def test_session_lognormal_matches_pandas(spark, sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev.ts.notna()].sort_values(["user_id", "ts", "event_id"])
    durs = []
    for uid, g in ev.groupby("user_id"):
        us = g.ts.astype("datetime64[us]").astype("int64").to_numpy()
        brk = np.concatenate([[True], np.diff(us) > 1800 * 1_000_000])
        sid = np.cumsum(brk)
        for s in np.unique(sid):
            w = us[sid == s]
            durs.append((w.max() - w.min()) / 1e6)
    durs = np.array(durs)
    pos = durs[durs > 0]
    got = session_lognormal_fit(spark, sf_dir).collect()[0]
    assert got["n_sessions"] == len(pos)
    assert got["n_single_event"] == int((durs <= 0).sum())
    assert abs(got["mu_log_s"] - np.log(pos).mean()) < 1e-4
    assert abs(got["sigma_log_s"] - np.log(pos).std(ddof=1)) < 1e-4
    imp = np.exp(np.log(pos).mean() + np.log(pos).var(ddof=1) / 2)
    assert abs(got["implied_over_actual"] - imp / pos.mean()) < 1e-3


def test_hosmer_lemeshow_matches_pandas_ntile(spark, sf_dir, orders):
    o = orders.copy()
    o["p"] = np.round(1 / (1 + np.exp(-(-2.0 + o.o_totalprice * 1e-5))), 6)
    o["y"] = (o.o_orderstatus == "F").astype(int)
    o = o.sort_values(["p", "o_orderkey"]).reset_index(drop=True)
    n = len(o)
    # SQL NTILE semantics: first (n % 10) buckets get one extra row
    q, rem = divmod(n, 10)
    sizes = [q + 1] * rem + [q] * (10 - rem)
    dec = np.repeat(np.arange(1, 11), sizes)
    o["decile"] = dec
    got = {r["decile"]: r for r in
           hosmer_lemeshow_status(spark, sf_dir).collect()}
    chi2 = 0.0
    for d, g in o.groupby("decile"):
        obs, exp, nd = g.y.sum(), g.p.sum(), len(g)
        assert got[d]["n"] == nd, d
        assert got[d]["observed_f"] == obs, d
        assert abs(got[d]["expected_f"] - exp) < 1e-2, d
        chi2 += (obs - exp) ** 2 / (exp * (1 - exp / nd))
    assert abs(got[1]["hl_chi2"] - chi2) < 0.02


def test_hellinger_matches_pandas(spark, sf_dir, orders):
    o = orders[orders.o_orderstatus.isin(["F", "O"])].copy()
    o["bin"] = np.minimum(np.floor(o.o_totalprice / 50000), 9)
    f = o[o.o_orderstatus == "F"].bin.value_counts(normalize=True)
    q = o[o.o_orderstatus == "O"].bin.value_counts(normalize=True)
    bins = sorted(set(f.index) | set(q.index))
    bc = sum(np.sqrt(f.get(b, 0) * q.get(b, 0)) for b in bins)
    got = hellinger_order_value(spark, sf_dir).collect()[0]
    assert got["n_finished"] == (o.o_orderstatus == "F").sum()
    assert abs(got["hellinger"] - np.sqrt(1 - bc)) < 1e-4
    assert abs(got["bhattacharyya"] + np.log(bc)) < 1e-4
    assert 0 <= got["hellinger"] <= 1


def test_wavelet_energy_matches_numpy(spark, sf_dir):
    ev = _daily_df(sf_dir)
    daily = (ev.groupby("d").size().reset_index(name="n"))
    idx = dict(zip(daily.d, daily.n))
    got = {r["scale_days"]: r for r in
           wavelet_energy_daily(spark, sf_dir).collect()}
    for s in (2, 4, 8):
        e, nb = 0.0, 0
        blocks = {}
        for d, n in idx.items():
            blocks.setdefault(d - d % (2 * s), []).append((d, n))
        for b, rows in blocks.items():
            if len(rows) != 2 * s:
                continue
            s1 = sum(n for d, n in rows if d % (2 * s) < s)
            s2 = sum(n for d, n in rows if d % (2 * s) >= s)
            e += ((s1 - s2) / np.sqrt(2 * s)) ** 2
            nb += 1
        assert got[s]["n_blocks"] == nb, s
        assert abs(got[s]["detail_energy"] - e) < 1e-2, s


def test_dedup_savings_matches_pandas(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    keep = docs.groupby(docs.text)["doc_id"].transform("min")
    docs = docs.assign(is_dup=(docs.doc_id != keep).astype(int))
    got = {r["source"]: r for r in
           dedup_savings_by_source(spark, sf_dir).collect()}
    for src, g in docs.groupby("source"):
        assert got[src]["n_docs"] == len(g)
        assert got[src]["n_dup_docs"] == g.is_dup.sum(), src
        assert got[src]["chars_saved"] == (g.is_dup * g.n_chars).sum()
        assert abs(got[src]["savings_frac"]
                   - (g.is_dup * g.n_chars).sum() / g.n_chars.sum()) < 1e-5


def test_pacf_matches_statsmodels_free_recursion(spark, sf_dir):
    ev = _daily_df(sf_dir)
    daily = (ev.groupby("d").size().reset_index(name="n")
               .sort_values("d"))
    x = daily.n.to_numpy(dtype=float)
    d = daily.d.to_numpy()
    mu, c0, n = x.mean(), x.var(), len(x)
    idx = {dd: i for i, dd in enumerate(d)}
    r = {}
    for k in (1, 2, 3):
        pairs = [(i, idx[dd + k]) for i, dd in enumerate(d)
                 if dd + k in idx]
        r[k] = (sum((x[i] - mu) * (x[j] - mu) for i, j in pairs)
                / n) / c0
    R3 = np.array([[1, r[1], r[2]], [r[1], 1, r[1]], [r[2], r[1], 1]])
    rhs = np.array([r[1], r[2], r[3]])
    p3 = np.linalg.solve(R3, rhs)[2]
    got = pacf_daily(spark, sf_dir).collect()[0]
    assert got["n_days"] == n
    assert abs(got["pacf_1"] - r[1]) < 1e-5
    assert abs(got["pacf_2"]
               - (r[2] - r[1] ** 2) / (1 - r[1] ** 2)) < 1e-5
    assert abs(got["pacf_3"] - p3) < 1e-4


def test_breusch_godfrey_matches_numpy(spark, sf_dir):
    ev = _daily_df(sf_dir)
    daily = (ev.groupby("d").size().reset_index(name="y")
               .sort_values("d"))
    dd = daily.d.to_numpy(dtype=float)
    y = daily.y.to_numpy(dtype=float)
    b = np.cov(dd, y, bias=True)[0, 1] / dd.var()
    e = y - (y.mean() + b * (dd - dd.mean()))
    idx = {v: i for i, v in enumerate(dd)}
    rows = [(e[idx[v]], v, e[idx[v - 1]]) for v in dd if v - 1 in idx]
    u, z1, z2 = map(np.array, zip(*rows))
    Z = np.column_stack([np.ones_like(z1), z1, z2])
    bb = np.linalg.lstsq(Z, u, rcond=None)[0]
    r2 = 1 - ((u - Z @ bb) ** 2).sum() / ((u - u.mean()) ** 2).sum()
    got = breusch_godfrey_daily(spark, sf_dir).collect()[0]
    assert got["n_obs"] == len(u)
    assert abs(got["r2_aux"] - r2) < 1e-5
    assert abs(got["bg_lm"] - len(u) * r2) < 1e-2
    assert abs(got["lag_resid_coef"] - bb[2]) < 1e-4


def test_spectral_entropy_matches_numpy(spark, sf_dir):
    ev = _daily_df(sf_dir)
    daily = (ev.groupby("d").size().reset_index(name="n"))
    x = daily.n.to_numpy(dtype=float)
    d = daily.d.to_numpy(dtype=float)
    xc = x - x.mean()
    pw = np.array([
        (xc * np.cos(2 * np.pi * d / p)).sum() ** 2
        + (xc * np.sin(2 * np.pi * d / p)).sum() ** 2
        for p in range(2, 15)])
    q = pw / pw.sum()
    h = float(-(q * np.log(q)).sum())
    got = spectral_entropy_daily(spark, sf_dir).collect()[0]
    assert got["n_frequencies"] == 13
    assert abs(got["entropy_nats"] - h) < 1e-4
    assert abs(got["spectral_entropy_norm"] - h / np.log(13)) < 1e-5
    assert 0 <= got["spectral_entropy_norm"] <= 1


def test_contamination_profile_matches_pandas(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    def tri(text):
        w = _doc_words(text)
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
    ev = set()
    for r in docs[docs.doc_id % 20 == 0].itertuples():
        ev |= tri(r.text)
    per_src = {}
    for r in docs[docs.doc_id % 20 != 0].itertuples():
        g = tri(r.text)
        if not g:
            continue
        per_src.setdefault(r.source, []).append(
            len(g & ev) / len(g))
    got = {r["source"]: r for r in
           contamination_profile(spark, sf_dir).collect()}
    for src, fr in per_src.items():
        assert got[src]["n_docs"] == len(fr), src
        assert abs(got[src]["avg_contam_frac"] - np.mean(fr)) < 1e-4
        assert abs(got[src]["max_contam_frac"] - max(fr)) < 1e-5
        assert got[src]["n_docs_over_half"] == sum(f > 0.5 for f in fr)


def test_deming_matches_numpy_closed_form(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    x = docs.n_chars.astype(float).to_numpy() / 100.0
    y = np.array([len(t.strip().split()) for t in docs.text],
                 dtype=float)
    sxx, syy = x.var(), y.var()
    sxy = np.cov(x, y, bias=True)[0, 1]
    beta = ((syy - sxx) + np.sqrt((syy - sxx) ** 2 + 4 * sxy ** 2)) \
        / (2 * sxy)
    got = deming_regression(spark, sf_dir).collect()[0]
    assert got["n_rows"] == len(x)
    assert abs(got["deming_slope"] - beta) < 1e-4
    assert abs(got["deming_intercept"]
               - (y.mean() - beta * x.mean())) < 1e-3
    # Deming slope must exceed the OLS slope (attenuation correction)
    assert got["deming_slope"] >= sxy / sxx - 1e-9


def test_epi_2x2_matches_closed_forms(spark, sf_dir, customer):
    e = customer.c_acctbal < 0
    o = customer.c_mktsegment == "BUILDING"
    a = int((e & o).sum()); b = int((e & ~o).sum())
    c = int((~e & o).sum()); d = int((~e & ~o).sum())
    rr = (a / (a + b)) / (c / (c + d))
    orr = a * d / (b * c)
    rd = a / (a + b) - c / (c + d)
    got = epi_2x2_measures(spark, sf_dir).collect()[0]
    assert (got["n_exp_out"], got["n_exp_noout"],
            got["n_unexp_out"], got["n_unexp_noout"]) == (a, b, c, d)
    assert abs(got["risk_ratio"] - rr) < 1e-5
    assert abs(got["odds_ratio"] - orr) < 1e-5
    assert abs(got["risk_diff"] - rd) < 1e-6
    assert got["rr_ci_lo"] <= rr <= got["rr_ci_hi"]
    assert got["or_ci_lo"] <= orr <= got["or_ci_hi"]
    assert got["rd_ci_lo"] <= rd <= got["rd_ci_hi"]


def test_arch_lm_matches_numpy(spark, sf_dir):
    ev = _daily_df(sf_dir)
    daily = (ev.groupby("d").size().reset_index(name="y")
               .sort_values("d"))
    dd = daily.d.to_numpy(dtype=float)
    y = daily.y.to_numpy(dtype=float)
    b = np.cov(dd, y, bias=True)[0, 1] / dd.var()
    u = (y - (y.mean() + b * (dd - dd.mean()))) ** 2
    idx = {v: i for i, v in enumerate(dd)}
    rows = [(u[idx[v]], u[idx[v - 1]]) for v in dd if v - 1 in idx]
    cu, lu = map(np.array, zip(*rows))
    r = np.corrcoef(cu, lu)[0, 1]
    got = arch_lm_daily(spark, sf_dir).collect()[0]
    assert got["n_obs"] == len(cu)
    assert abs(got["lag1_corr_sq_resid"] - r) < 1e-5
    assert abs(got["arch_lm"] - len(cu) * r * r) < 1e-2


def test_langid_confusion_consistency(spark, sf_dir):
    rows = langid_confusion(spark, sf_dir).collect()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    # totals per true language must cover every doc exactly once
    per_true = {}
    for r in rows:
        per_true[r["true_lang"]] = per_true.get(r["true_lang"], 0) + r["n"]
        assert 0 <= r["row_frac"] <= 1
    assert per_true == docs.lang.value_counts().to_dict()
    # row fractions sum to 1 per true language
    from collections import defaultdict
    fs = defaultdict(float)
    for r in rows:
        fs[r["true_lang"]] += r["row_frac"]
    for v in fs.values():
        assert abs(v - 1.0) < 1e-3


def test_weighted_kappa_matches_pandas(spark, sf_dir, orders):
    i = orders.o_orderpriority.str[0].astype(int) - 1
    j = np.minimum(np.floor(orders.o_totalprice / 100000), 4).astype(int)
    n = len(orders)
    tab = pd.crosstab(i, j)
    wo = sum(((a - b) ** 2) * tab.loc[a, b]
             for a in tab.index for b in tab.columns)
    ri, cj = tab.sum(axis=1), tab.sum(axis=0)
    we = sum(((a - b) ** 2) * ri[a] * cj[b] / n
             for a in tab.index for b in tab.columns)
    got = weighted_kappa_orders(spark, sf_dir).collect()[0]
    assert got["n_orders"] == n
    assert abs(got["weighted_observed"] - wo) < 0.6
    assert abs(got["weighted_expected"] - we) < 0.6
    assert abs(got["weighted_kappa"] - (1 - wo / we)) < 1e-5


def test_psi_monthly_matches_pandas(spark, sf_dir, orders):
    o = orders[orders.o_orderdate.notna()].copy()
    o["m"] = pd.to_datetime(o.o_orderdate).dt.to_period("M")
    o["b"] = np.minimum(np.floor(o.o_totalprice / 50000), 9).astype(int)
    bands = sorted(o.b.unique())
    months = sorted(o.m.unique())
    shares = {}
    for m in months:
        g = o[o.m == m]
        shares[m] = {b: ((g.b == b).sum() + 0.5) / (len(g) + 5.0)
                     for b in bands}
    got = {r["month"]: r for r in
           psi_monthly_orders(spark, sf_dir).collect()}
    checked = 0
    for prev, cur in zip(months, months[1:]):
        if (cur - prev).n != 1:
            continue
        psi = sum((shares[cur][b] - shares[prev][b])
                  * np.log(shares[cur][b] / shares[prev][b])
                  for b in bands)
        key = str(cur)
        assert key in got, key
        assert abs(got[key]["psi_vs_prev_month"] - psi) < 1e-5, key
        checked += 1
    assert checked >= 10


def test_effective_rank_matches_numpy_eigen(spark, sf_dir):
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    V = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    C = np.cov(V, rowvar=False, bias=True)
    lam = np.linalg.eigvalsh(C)
    pr = lam.sum() ** 2 / (lam ** 2).sum()
    got = embedding_effective_rank(spark, sf_dir).collect()[0]
    assert got["n_vectors"] == len(V)
    assert got["dim"] == V.shape[1]
    assert abs(got["trace_cov"] - np.trace(C)) < 1e-4
    assert abs(got["frobenius_sq"] - (C ** 2).sum()) < 1e-4
    assert abs(got["effective_rank_pr"] - pr) < 1e-2
    assert 1 <= got["effective_rank_pr"] <= got["dim"]


def test_gehan_matches_pandas_life_table(spark, sf_dir):
    import hashlib
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev.ts.notna()]
    ev["d"] = pd.to_datetime(ev.ts).dt.normalize()
    mx = ev.d.max()
    rows = []
    for uid, gd in ev.groupby("user_id"):
        days = pd.to_datetime(np.sort(gd.d.unique()))
        gaps = np.diff(days.values).astype("timedelta64[D]").astype(int)
        ich = None
        for i, gp in enumerate(gaps):
            if gp >= 3:
                ich = days[i]
                break
        cd = ich
        if cd is None and (mx - days[-1]).days >= 3:
            cd = days[-1]
        dur = ((cd if cd is not None else mx) - days[0]).days
        arm = int(hashlib.md5(f"arm:{uid}".encode()).hexdigest()[0] < "8")
        rows.append((dur, int(cd is not None), arm))
    lt = pd.DataFrame(rows, columns=["dur", "churned", "b"])
    wo = we = vv = 0.0
    for dur in sorted(lt.dur.unique()):
        at = lt[lt.dur >= dur]
        ev_t = lt[(lt.dur == dur) & (lt.churned == 1)]
        dd, nat = len(ev_t), float(len(at))
        n1, d1 = float((at.b == 1).sum()), float((ev_t.b == 1).sum())
        if dd == 0 or nat <= 1:
            continue
        wo += nat * d1
        we += nat * dd * n1 / nat
        vv += (nat ** 2) * dd * (n1 / nat) * ((nat - n1) / nat) \
            * (nat - dd) / (nat - 1)
    got = gehan_wilcoxon_churn(spark, sf_dir).collect()[0]
    assert abs(got["weighted_observed_a"] - wo) < 0.51
    assert abs(got["weighted_expected_a"] - we) < 1e-2
    if vv > 0:
        assert abs(got["z_stat"] - (wo - we) / np.sqrt(vv)) < 1e-3


def test_brier_decomposition_identity(spark, sf_dir, orders):
    got = brier_decomposition(spark, sf_dir).collect()[0]
    p = np.round(1 / (1 + np.exp(-(-2.0 + orders.o_totalprice * 1e-5))), 6)
    y = (orders.o_orderstatus == "F").astype(int).to_numpy()
    b = np.minimum(np.floor(orders.o_totalprice / 50000), 9).astype(int)
    nn = len(orders)
    rel = res = 0.0
    obar = y.mean()
    for bb in np.unique(b):
        m = b == bb
        rel += m.sum() * (p[m].mean() - y[m].mean()) ** 2
        res += m.sum() * (y[m].mean() - obar) ** 2
    rel, res = rel / nn, res / nn
    assert got["n_orders"] == nn
    assert abs(got["reliability"] - rel) < 1e-5
    assert abs(got["resolution"] - res) < 1e-5
    assert abs(got["uncertainty"] - obar * (1 - obar)) < 1e-6
    assert abs(got["brier_from_decomposition"]
               - (rel - res + obar * (1 - obar))) < 1e-5


def test_records_matches_pandas_cummax(spark, sf_dir):
    ev = _daily_df(sf_dir)
    daily = (ev.groupby("d").size().reset_index(name="n")
               .sort_values("d"))
    x = daily.n.to_numpy()
    prevmax = np.maximum.accumulate(np.concatenate([[-1], x]))[:-1]
    prevmax[0] = -10**9
    nr = int((x > prevmax).sum())
    nd = len(x)
    h = sum(1 / k for k in range(1, nd + 1))
    got = records_trend_daily(spark, sf_dir).collect()[0]
    assert got["n_days"] == nd
    assert got["n_records"] == nr
    assert abs(got["expected_records"] - h) < 1e-3


def test_source_js_matrix_matches_pandas(spark, sf_dir):
    import hashlib, re
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    counts = {}
    for r in docs.itertuples():
        toks = [t for t in re.sub(r"[^a-z0-9]+", " ",
                                  r.text.lower()).strip().split(" ")
                if t]
        arr = counts.setdefault(r.source, np.zeros(64))
        for t in toks:
            h = hashlib.md5(t.encode()).hexdigest()
            arr[(int(h[0], 16) * 16 + int(h[1], 16)) % 64] += 1
    probs = {s: (a + 1) / (a.sum() + 64) for s, a in counts.items()}
    got = {(r["src_a"], r["src_b"]): r for r in
           source_js_matrix(spark, sf_dir).collect()}
    srcs = sorted(probs)
    assert len(got) == len(srcs) * (len(srcs) - 1) // 2
    for i, a in enumerate(srcs[:4]):
        for b in srcs[i + 1:i + 4]:
            if b <= a:
                continue
            pa, pb = probs[a], probs[b]
            m = (pa + pb) / 2
            js = float(0.5 * (pa * np.log(pa / m)).sum()
                       + 0.5 * (pb * np.log(pb / m)).sum())
            assert abs(got[(a, b)]["js_divergence"] - js) < 1e-5, (a, b)
            assert abs(got[(a, b)]["js_distance"] - np.sqrt(js)) < 1e-4


def test_label_cohesion_matches_bruteforce(spark, sf_dir):
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    V = np.stack(emb.embedding.to_numpy()).astype(np.float64)
    nrm = np.linalg.norm(V, axis=1)
    Vh = V / nrm[:, None]
    g = Vh.sum(axis=0)
    got = {r["label"]: r for r in
           label_cohesion_embeddings(spark, sf_dir).collect()}
    for lab in emb.label.unique():
        m = (emb.label == lab).to_numpy()
        X = Vh[m]
        n = len(X)
        S = X @ X.T
        intra = (S.sum() - np.trace(S)) / (n * (n - 1))
        c = X.sum(axis=0)
        cos_g = c @ g / (np.linalg.norm(c) * np.linalg.norm(g))
        assert got[lab]["n_vectors"] == n, lab
        assert abs(got[lab]["mean_intra_cosine"] - intra) < 1e-5, lab
        assert abs(got[lab]["centroid_cos_to_global"] - cos_g) < 1e-5


def test_sign_test_matches_pandas(spark, sf_dir, lineitem):
    part = pd.read_parquet(f"{sf_dir}/part.parquet")
    li = lineitem.assign(unit=lineitem.l_extendedprice
                         / lineitem.l_quantity)
    peak = li.groupby("l_partkey")["unit"].max()
    d = (peak - part.set_index("p_partkey")["p_retailprice"]).dropna()
    d = d[d != 0]
    n, npos = len(d), int((d > 0).sum())
    cc = 0.5 if npos > n / 2 else (-0.5 if npos < n / 2 else 0.0)
    z = (npos - n / 2 - cc) / np.sqrt(n / 4)
    got = sign_test_price(spark, sf_dir).collect()[0]
    assert got["n_pairs"] == n and got["n_positive"] == npos
    assert abs(got["z_stat"] - z) < 1e-3


def test_cmh_matches_pandas(spark, sf_dir, orders):
    sa = se = sv = srn = srd = 0.0
    for pri, g in orders.groupby("o_orderpriority"):
        e = g.o_totalprice > 150000
        o = g.o_orderstatus == "F"
        a = float((e & o).sum()); b = float((e & ~o).sum())
        c = float((~e & o).sum()); d = float((~e & ~o).sum())
        n = a + b + c + d
        sa += a
        se += (a + b) * (a + c) / n
        sv += (a + b) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1))
        srn += a * d / n
        srd += b * c / n
    chi2 = (abs(sa - se) - 0.5) ** 2 / sv
    got = cmh_orders(spark, sf_dir).collect()[0]
    assert got["k_strata"] == orders.o_orderpriority.nunique()
    assert abs(got["cmh_chi2"] - chi2) < 1e-3
    assert abs(got["mh_odds_ratio"] - srn / srd) < 1e-5


def test_session_cooccurrence_matches_pandas(spark, sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev.ts.notna()].sort_values(["user_id", "ts", "event_id"])
    from itertools import combinations
    from collections import Counter
    sess_types = []
    for uid, g in ev.groupby("user_id"):
        us = g.ts.astype("datetime64[us]").astype("int64").to_numpy()
        brk = np.concatenate([[True], np.diff(us) > 1800 * 1_000_000])
        sid = np.cumsum(brk)
        for s in np.unique(sid):
            sess_types.append(frozenset(g.event_type.to_numpy()[sid == s]))
    ns = len(sess_types)
    per = Counter()
    pairs = Counter()
    for ts_ in sess_types:
        for t in ts_:
            per[t] += 1
        for a, b in combinations(sorted(ts_), 2):
            pairs[(a, b)] += 1
    got = {(r["type_a"], r["type_b"]): r for r in
           session_event_cooccurrence(spark, sf_dir).collect()}
    assert set(got) == set(pairs)
    for k, v in pairs.items():
        assert got[k]["n_both"] == v, k
        lift = (v / ns) / ((per[k[0]] / ns) * (per[k[1]] / ns))
        assert abs(got[k]["lift"] - lift) < 1e-2, k


def test_rank_stability_matches_pandas(spark, sf_dir, lineitem, orders):
    c = pd.read_parquet(f"{sf_dir}/customer.parquet")
    n = pd.read_parquet(f"{sf_dir}/nation.parquet")
    df = (lineitem.merge(orders, left_on="l_orderkey",
                         right_on="o_orderkey")
                  .merge(c, left_on="o_custkey", right_on="c_custkey")
                  .merge(n, left_on="c_nationkey",
                         right_on="n_nationkey"))
    df = df[df.o_orderdate.notna()]
    df["yr"] = pd.to_datetime(df.o_orderdate).dt.year
    rev = (df.groupby(["yr", "n_name"])["l_extendedprice"].sum()
             .reset_index())
    got = {r["year"]: r for r in
           rank_stability_nations(spark, sf_dir).collect()}
    yrs = sorted(rev.yr.unique())
    for prev, cur in zip(yrs, yrs[1:]):
        if cur - prev != 1:
            continue
        a = rev[rev.yr == prev].sort_values(
            ["l_extendedprice", "n_name"],
            ascending=[False, True]).reset_index()
        b = rev[rev.yr == cur].sort_values(
            ["l_extendedprice", "n_name"],
            ascending=[False, True]).reset_index()
        ra = {r.n_name: i + 1 for i, r in a.iterrows()}
        rb = {r.n_name: i + 1 for i, r in b.iterrows()}
        common = set(ra) & set(rb)
        k = len(common)
        d2 = sum((rb[x] - ra[x]) ** 2 for x in common)
        rho = 1 - 6 * d2 / (k * (k * k - 1))
        assert got[cur]["n_nations"] == k, cur
        assert abs(got[cur]["spearman_vs_prev_year"] - rho) < 1e-4, cur
        assert got[cur]["footrule"] == sum(
            abs(rb[x] - ra[x]) for x in common)


def test_dedup_curve_monotone_and_consistent(spark, sf_dir):
    rows = {r["threshold"]: r for r in
            dedup_threshold_curve(spark, sf_dir).collect()}
    pairs = ngram_jaccard(spark, sf_dir).toPandas()
    ts = sorted(rows)
    # monotone non-increasing in the threshold
    for a, b in zip(ts, ts[1:]):
        assert rows[a]["n_pairs"] >= rows[b]["n_pairs"]
        assert rows[a]["n_docs_removable"] >= rows[b]["n_docs_removable"]
    for t in ts:
        sub = pairs[pairs.jaccard >= t]
        assert rows[t]["n_pairs"] == len(sub), t
        assert rows[t]["n_docs_removable"] == sub.doc_id_b.nunique(), t


def test_hourly_entropy_matches_pandas(spark, sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev.ts.notna()].copy()
    us = ev.ts.astype("datetime64[us]").astype("int64")
    ev["h"] = (us // (3600 * 1_000_000)) % 24
    got = {r["event_type"]: r for r in
           hourly_entropy_by_type(spark, sf_dir).collect()}
    for t, g in ev.groupby("event_type"):
        c = g.h.value_counts()
        p = c / c.sum()
        h = float(-(p * np.log(p)).sum()) / np.log(24)
        assert got[t]["n_events"] == len(g)
        assert abs(got[t]["hourly_entropy_norm"] - h) < 1e-4, t
        top = c.reset_index().sort_values(["count", "h"],
                                          ascending=[False, True])
        assert got[t]["peak_hour"] == int(top.h.iloc[0]), t


def test_anova_effect_sizes_match_pandas(spark, sf_dir, customer):
    g = customer.groupby("c_mktsegment")["c_acctbal"]
    x = customer.c_acctbal.astype(float)
    nn, k = float(len(x)), g.ngroups
    sst = float(((x - x.mean()) ** 2).sum())
    ssb = float((g.count() * (g.mean() - x.mean()) ** 2).sum())
    ssw = sst - ssb
    msb, msw = ssb / (k - 1), ssw / (nn - k)
    n0 = (nn - (g.count() ** 2).sum() / nn) / (k - 1)
    got = anova_effect_sizes(spark, sf_dir).collect()[0]
    assert got["k_groups"] == k and got["n"] == int(nn)
    assert abs(got["eta_squared"] - ssb / sst) < 1e-5
    assert abs(got["omega_squared"]
               - (ssb - (k - 1) * msw) / (sst + msw)) < 1e-5
    assert abs(got["icc_1_1"]
               - (msb - msw) / (msb + (n0 - 1) * msw)) < 1e-5


def test_dup_cluster_histogram_consistent(spark, sf_dir):
    hist = dup_cluster_size_histogram(spark, sf_dir).toPandas()
    comp = dedup_clusters(spark, sf_dir).toPandas()
    sizes = comp.groupby("lbl").size()
    want = sizes.value_counts().sort_index()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    assert list(hist.cluster_size) == list(want.index)
    assert list(hist.n_clusters) == list(want.values)
    assert (hist.n_singleton_docs == len(docs) - len(comp)).all()
    assert (hist.cluster_size >= 2).all()


def test_purchase_cadence_matches_pandas(spark, sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[(ev.ts.notna()) & (ev.event_type == "purchase")]
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    gaps, users = [], set()
    for uid, g in ev.groupby("user_id"):
        us = g.ts.astype("datetime64[us]").astype("int64").to_numpy()
        if len(us) >= 2:
            gaps.extend(np.diff(us) / 86400e6)
            users.add(uid)
    gaps = np.array(gaps)
    got = purchase_cadence(spark, sf_dir).collect()[0]
    assert got["n_repeat_purchasers"] == len(users)
    assert got["n_gaps"] == len(gaps)
    assert abs(got["median_gap_days"]
               - np.percentile(gaps, 50, method="linear")) < 1e-3
    assert abs(got["p90_gap_days"]
               - np.percentile(gaps, 90, method="linear")) < 1e-3
    assert abs(got["mean_gap_days"] - gaps.mean()) < 1e-3


def test_ht_estimate_matches_pandas(spark, sf_dir, orders):
    import hashlib
    rates = {"1-URGENT": 0.5, "2-HIGH": 0.25, "3-MEDIUM": 0.125,
             "4-NOT SPECIFIED": 0.125, "5-LOW": 0.25}
    got = {r["o_orderpriority"]: r for r in
           stratified_ht_estimate(spark, sf_dir).collect()}
    for pri, g in orders.groupby("o_orderpriority"):
        pi = rates[pri]
        u = np.array([int(hashlib.md5(f"ht:{k}".encode())
                          .hexdigest()[:4], 16)
                      for k in g.o_orderkey])
        take = u < pi * 65536
        y = g.o_totalprice.astype(float).to_numpy()
        ht = (y[take] / pi).sum()
        v = (y[take] ** 2 * (1 - pi) / pi ** 2).sum()
        assert got[pri]["n_sampled"] == int(take.sum()), pri
        assert abs(got[pri]["ht_total"] - ht) < 0.5, pri
        assert abs(got[pri]["ht_se"] - np.sqrt(v)) < 0.5
        assert abs(got[pri]["true_total"] - y.sum()) < 0.5
        # sanity: estimator within ~5 SEs of truth
        assert abs(got[pri]["z_error"]) < 5


def test_median_ci_matches_numpy_order_stats(spark, sf_dir, orders):
    v = np.sort(orders.o_totalprice.astype(float).to_numpy())
    n = len(v)
    z = 1.959964
    lo = max(int(np.floor(n / 2 - z * np.sqrt(n) / 2)), 1)
    hi = min(int(np.ceil(1 + n / 2 + z * np.sqrt(n) / 2)), n)
    med = (v[(n + 1) // 2 - 1] + v[(n + 2) // 2 - 1]) / 2
    got = median_ci_order_value(spark, sf_dir).collect()[0]
    assert got["n"] == n
    assert abs(got["median"] - med) < 1e-2
    assert got["rank_lo"] == lo and got["rank_hi"] == hi
    assert abs(got["ci_lo"] - v[lo - 1]) < 1e-2
    assert abs(got["ci_hi"] - v[hi - 1]) < 1e-2
    assert got["ci_lo"] <= got["median"] <= got["ci_hi"]


def test_kendalls_w_consistent_with_friedman(spark, sf_dir):
    w = kendalls_w_dow(spark, sf_dir).collect()[0]
    f = friedman_dow_test(spark, sf_dir).collect()[0]
    assert w["n_blocks"] == f["n_blocks"]
    assert abs(w["friedman_q"] - f["friedman_q"]) < 1e-3
    assert abs(w["kendalls_w"]
               - f["friedman_q"] / (f["n_blocks"] * 6)) < 1e-5
    assert 0 <= w["kendalls_w"] <= 1


def test_conversion_by_depth_matches_pandas(spark, sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev.ts.notna()].sort_values(["user_id", "ts", "event_id"])
    buckets = {}
    for uid, g in ev.groupby("user_id"):
        us = g.ts.astype("datetime64[us]").astype("int64").to_numpy()
        brk = np.concatenate([[True], np.diff(us) > 1800 * 1_000_000])
        sid = np.cumsum(brk)
        types = g.event_type.to_numpy()
        for s in np.unique(sid):
            m = sid == s
            depth = int(m.sum())
            conv = int((types[m] == "purchase").any())
            b = ("1" if depth == 1 else "2" if depth <= 2
                 else "3-4" if depth <= 4 else "5-8" if depth <= 8
                 else "9+")
            n, c = buckets.get(b, (0, 0))
            buckets[b] = (n + 1, c + conv)
    got = {r["depth_bucket"]: r for r in
           conversion_by_session_depth(spark, sf_dir).collect()}
    assert set(got) == set(buckets)
    for b, (n, c) in buckets.items():
        assert got[b]["n_sessions"] == n, b
        assert got[b]["n_converted"] == c, b


def test_generalized_esd_matches_iterative_numpy(spark, sf_dir):
    ev = _daily_df(sf_dir)
    daily = ev.groupby("d").size().reset_index(name="n")
    d = daily.d.to_numpy().astype(int)
    x = daily.n.to_numpy().astype(float)
    got = generalized_esd_daily(spark, sf_dir).collect()
    assert [r["round"] for r in got] == [1, 2, 3]
    for r in got:
        mu, sd = x.mean(), x.std(ddof=1)
        z = np.abs(x - mu) / sd
        best = np.lexsort((d, -z))[0]
        assert r["day_index"] == d[best], r["round"]
        assert abs(r["r_stat"] - z[best]) < 1e-3
        keep = d != d[best]
        d, x = d[keep], x[keep]
    # rounds strictly shrink the series
    assert len(d) == len(daily) - 3


def test_leverage_audit_identity(spark, sf_dir, lineitem):
    x = lineitem.l_quantity.astype(float).to_numpy()
    n = len(x)
    h = 1 / n + (x - x.mean()) ** 2 / (x.var() * n)
    got = leverage_audit(spark, sf_dir).collect()[0]
    assert got["n"] == n
    assert got["n_high_leverage"] == int((h > 4 / n).sum())
    assert abs(got["max_leverage"] - h.max()) < 1e-8
    # exact identity: Σh = p = 2 for simple regression with intercept
    assert abs(got["mean_times_n"] - 2.0) < 1e-6


def test_retention_half_life_matches_pandas(spark, sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev.ts.notna()].copy()
    ts = pd.to_datetime(ev.ts)
    first = ts.groupby(ev.user_id).transform("min")
    cw = first.dt.to_period("W").dt.start_time
    wo = ((ts.dt.to_period("W").dt.start_time - cw).dt.days // 7)
    df = pd.DataFrame({"u": ev.user_id, "cw": cw, "wo": wo})
    cells = (df.drop_duplicates().groupby(["cw", "wo"])["u"]
               .nunique().reset_index(name="nu"))
    base = cells[cells.wo == 0].set_index("cw")["nu"]
    curve = (cells.assign(n0=cells.cw.map(base))
                  .groupby("wo").agg(active=("nu", "sum"),
                                     b=("n0", "sum")))
    pts = curve[curve.index >= 1]
    x = pts.index.to_numpy(dtype=float)
    y = np.log(pts.active / pts.b).to_numpy()
    got = retention_half_life(spark, sf_dir).collect()[0]
    assert got["n_offsets"] == len(pts)
    if len(x) >= 2 and x.var() > 0:
        slope = np.cov(x, y, bias=True)[0, 1] / x.var()
        assert abs(got["log_decay_slope"] - slope) < 1e-4
        if abs(slope) > 1e-12:  # flat curve -> NULL half-life by design
            assert abs(got["half_life_weeks"] + np.log(2) / slope) < 1e-2
        else:
            assert got["half_life_weeks"] is None \
                or not np.isfinite(got["half_life_weeks"])


def test_wilson_ci_matches_closed_form(spark, sf_dir):
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev[ev.ts.notna()]
    nu = ev.user_id.nunique()
    got = {r["event_type"]: r for r in
           wilson_ci_event_reach(spark, sf_dir).collect()}
    z = 1.959964
    for t, g in ev.groupby("event_type"):
        k = g.user_id.nunique()
        p = k / nu
        den = 1 + z * z / nu
        ctr = (p + z * z / (2 * nu)) / den
        hw = z / den * np.sqrt(p * (1 - p) / nu
                               + z * z / (4 * nu * nu))
        assert got[t]["n_users_reached"] == k, t
        assert abs(got[t]["wilson_lo"] - (ctr - hw)) < 1e-5
        assert abs(got[t]["wilson_hi"] - (ctr + hw)) < 1e-5
        assert 0 <= got[t]["wilson_lo"] <= got[t]["reach"] \
            <= got[t]["wilson_hi"] <= 1


def test_cohens_h_matches_closed_form(spark, sf_dir, orders):
    u = orders[orders.o_orderpriority == "1-URGENT"]
    lo = orders[orders.o_orderpriority == "5-LOW"]
    p1 = (u.o_orderstatus == "F").mean()
    p2 = (lo.o_orderstatus == "F").mean()
    h = 2 * np.arcsin(np.sqrt(p1)) - 2 * np.arcsin(np.sqrt(p2))
    got = cohens_h_priority(spark, sf_dir).collect()[0]
    assert got["n_urgent"] == len(u) and got["n_low"] == len(lo)
    assert abs(got["p_urgent_finished"] - p1) < 1e-5
    assert abs(got["cohens_h"] - h) < 1e-5


def test_newey_west_matches_numpy(spark, sf_dir):
    ev = _daily_df(sf_dir)
    daily = (ev.groupby("d").size().reset_index(name="y")
               .sort_values("d"))
    d = daily.d.to_numpy(dtype=float)
    y = daily.y.to_numpy(dtype=float)
    b = np.cov(d, y, bias=True)[0, 1] / d.var()
    v = d - d.mean()
    e = y - (y.mean() + b * v)
    svv = (v ** 2).sum()
    s0 = (v ** 2 * e ** 2).sum()
    idx = {dd: i for i, dd in enumerate(d)}
    s1 = sum(v[idx[dd]] * e[idx[dd]] * v[idx[dd - 1]] * e[idx[dd - 1]]
             for dd in d if dd - 1 in idx)
    se_w = np.sqrt(s0 / svv ** 2)
    se_nw = np.sqrt((s0 + s1) / svv ** 2)
    got = newey_west_trend(spark, sf_dir).collect()[0]
    assert got["n_days"] == len(d)
    assert abs(got["slope"] - b) < 1e-4
    assert abs(got["se_white"] - se_w) < 1e-4
    assert abs(got["se_newey_west"] - se_nw) < 1e-4
    assert abs(got["t_hac"] - b / se_nw) < 1e-2
