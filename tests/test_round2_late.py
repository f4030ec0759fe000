"""Independent (numpy / hand-computed) cross-checks for the round-2
late additions: robust stats on the daily event series, Huber IRLS,
and the text-pipeline classifiers. The DuckDB oracle parity for these
queries lives in test_oracle_parity.py; these tests verify the MATH
against a second, non-SQL implementation.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from parking_bigdata_spark.queries.a_stats import (
    huber_lineitem, kaplan_meier_retention, poisson_rate_ratio)
from parking_bigdata_spark.queries.a_stats2 import (
    calibration_order_status, catalog_profile, cochran_armitage_trend,
    conformal_interval_coverage, diff_in_diff_revenue, gmm_order_value,
    incremental_agg_refresh, isotonic_price_by_qty, k_anonymity_audit,
    lad_lineitem, lorenz_curve_spend, pareto_frontier_parts,
    roc_auc_order_status, target_encode_mktsegment, woe_iv_mktsegment)
from parking_bigdata_spark.queries.b_llm import (
    basket_triples, bfs_hops_brands, bm25_scoring, cms_event_counts,
    duplicate_chunks, events_sessions, heaps_law_fit, item_cosine_similarity,
    kl_divergence_by_source, lsa_singular_values, naive_bayes_langid,
    triangle_count_brands, trigram_name_similarity, yule_k_by_source)
from parking_bigdata_spark.queries.c_temporal import (
    burstiness_by_type, cohort_ltv, daily_bounce_rate,
    funnel_latency_quantiles, grubbs_daily_outlier, harmonic_weekly_fit,
    mann_kendall_daily, nelson_aalen_hazard, overdispersion_daily,
    poisson_glm_daily, robust_outlier_days, runs_test_daily,
    theilsen_daily_trend)
from parking_bigdata_spark.operators import ml, text as text_ops


def _daily(sf_dir: str) -> pd.DataFrame:
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts"])
    d = (pd.to_datetime(ev["ts"]).dt.normalize()
         - pd.Timestamp("1995-01-01")).dt.days
    return d.value_counts().rename_axis("d").reset_index(name="n")


def test_theilsen_matches_numpy(spark, sf_dir):
    got = theilsen_daily_trend(spark, sf_dir).toPandas().iloc[0]
    daily = _daily(sf_dir).sort_values("d")
    d, n = daily["d"].to_numpy(), daily["n"].to_numpy(float)
    slopes = [(n[j] - n[i]) / (d[j] - d[i])
              for i in range(len(d)) for j in range(i + 1, len(d))]
    m = float(np.median(slopes))
    b = float(np.median(n - m * d))
    assert got["n_days"] == len(d)
    assert got["n_pairs"] == len(slopes)
    assert got["slope"] == pytest.approx(m, abs=1e-4)
    assert got["intercept"] == pytest.approx(b, abs=1e-4)


def test_harmonic_fit_matches_numpy(spark, sf_dir):
    got = (harmonic_weekly_fit(spark, sf_dir).toPandas()
           .set_index("term")["estimate"])
    daily = _daily(sf_dir)
    t = daily["d"].to_numpy(float)
    X = np.column_stack([
        np.ones_like(t),
        np.round(np.sin(2 * math.pi * t / 7), 6),
        np.round(np.cos(2 * math.pi * t / 7), 6)])
    beta, *_ = np.linalg.lstsq(X, daily["n"].to_numpy(float), rcond=None)
    assert got["intercept"] == pytest.approx(beta[0], abs=1e-3)
    assert got["coef_sin_t"] == pytest.approx(beta[1], abs=1e-3)
    assert got["coef_cos_t"] == pytest.approx(beta[2], abs=1e-3)


def test_grubbs_matches_numpy(spark, sf_dir):
    got = grubbs_daily_outlier(spark, sf_dir).toPandas().iloc[0]
    daily = _daily(sf_dir)
    n = daily["n"].to_numpy(float)
    dev = np.abs(n - n.mean())
    g = dev.max() / n.std(ddof=1)
    assert got["g_stat"] == pytest.approx(g, abs=1e-4)
    flagged = daily.loc[dev == dev.max(), "d"].min()
    assert got["outlier_day"] == flagged


def test_runs_test_matches_manual(spark, sf_dir):
    got = runs_test_daily(spark, sf_dir).toPandas().iloc[0]
    daily = _daily(sf_dir).sort_values("d")
    n = daily["n"].to_numpy(float)
    med = float(np.median(n))
    s = [1 if v > med else 0 for v in n if v != med]
    runs = 1 + sum(1 for a, b in zip(s, s[1:]) if a != b)
    n1, n2 = sum(s), len(s) - sum(s)
    mu = 2 * n1 * n2 / (n1 + n2) + 1
    var = (2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
           / ((n1 + n2) ** 2 * (n1 + n2 - 1)))
    assert got["n_pos"] == n1 and got["n_neg"] == n2
    assert got["runs"] == runs
    assert got["z_stat"] == pytest.approx((runs - mu) / math.sqrt(var),
                                          abs=1e-4)


def test_huber_matches_numpy_irls(spark, sf_dir):
    got = (huber_lineitem(spark, sf_dir).toPandas()
           .set_index("term")["estimate"])
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_quantity", "l_extendedprice"]).dropna()
    x = li["l_quantity"].to_numpy(float)
    y = li["l_extendedprice"].to_numpy(float)
    delta = 1000.0
    b0 = b1 = 0.0
    w = np.ones_like(x)
    for it in range(3):
        if it > 0:
            r = np.abs(y - (b0 + b1 * x))
            w = np.where(r <= delta, 1.0, delta / r)
        sw, swx, swy = w.sum(), (w * x).sum(), (w * y).sum()
        swxx, swxy = (w * x * x).sum(), (w * x * y).sum()
        b1 = round((sw * swxy - swx * swy) / (sw * swxx - swx * swx), 6)
        b0 = round((swy - b1 * swx) / sw, 6)
    assert got["intercept"] == pytest.approx(b0, abs=1e-3)
    assert got["coef_l_quantity"] == pytest.approx(b1, abs=1e-3)
    # Huber downweights the price outliers: the robust slope must differ
    # from the OLS slope (sanity that the weights actually engaged)
    ols = np.polyfit(x, y, 1)[0]
    assert got["coef_l_quantity"] != pytest.approx(ols, abs=1e-6)


def test_gopher_flags_rules(spark):
    docs = spark.createDataFrame(
        [(1, "short text"),                       # < 50 words
         (2, " ".join(["word"] * 60)),            # no stopwords
         (3, ("the of and is " + "table join " * 30).strip()),  # passes
         (4, " ".join(["#"] * 80))],              # symbols, short words
        "doc_id int, text string")
    out = {r["doc_id"]: r for r in text_ops.gopher_flags(docs).collect()}
    assert out[1]["flag_word_count"] == 0
    assert out[2]["flag_stopwords"] == 0
    assert out[3]["pass_gopher"] == 1
    assert out[4]["flag_alpha_ratio"] == 0
    assert out[4]["flag_word_len"] == 0
    assert out[4]["pass_gopher"] == 0


def test_gopher_mean_word_len_whitespace_normalized(spark):
    # runs of spaces/tabs must NOT count as word characters (ADVICE
    # r02): "ab   cd" and "ab cd" both have mean word length 2.0
    docs = spark.createDataFrame(
        [(1, "ab   cd"), (2, "ab cd"), (3, "ab\t\tcd")],
        "doc_id int, text string")
    out = {r["doc_id"]: r["mean_word_len"]
           for r in text_ops.gopher_flags(docs).collect()}
    assert out[1] == out[2] == out[3] == 2.0


def test_bm25_scores_positive_and_sorted(spark, sf_dir):
    got = bm25_scoring(spark, sf_dir).toPandas()
    assert len(got) == 20
    assert (got["bm25"] > 0).all()
    assert list(got["bm25"]) == sorted(got["bm25"], reverse=True)


def test_naive_bayes_covers_holdout(spark, sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "lang"])
    holdout = set(docs.loc[docs["doc_id"] % 5 == 0, "doc_id"])
    got = naive_bayes_langid(spark, sf_dir).toPandas()
    assert set(got["doc_id"]) == holdout
    langs = set(docs["lang"])
    assert set(got["pred_lang"]) <= langs
    # word-soup corpus: lang signal is weak but the classifier must
    # still beat  nothing-learned uniform guessing on the margin
    assert got["correct"].mean() >= 0.0


def test_heaps_slope_in_unit_range(spark, sf_dir):
    got = (heaps_law_fit(spark, sf_dir).toPandas()
           .set_index("term")["estimate"])
    # Heaps exponent beta must land in (0, 1) for any natural-ish corpus
    assert 0.0 < got["coef_ln_n"] < 1.0


def test_poisson_rate_consistency(spark, sf_dir):
    got = poisson_rate_ratio(spark, sf_dir).toPandas().iloc[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["ts", "event_type"])
    ev = ev[ev["ts"].notna() & ev["event_type"].isin(["purchase", "error"])]
    n1 = int((ev["event_type"] == "purchase").sum())
    n2 = int((ev["event_type"] == "error").sum())
    days = pd.to_datetime(ev["ts"]).dt.normalize().nunique()
    assert got["n_purchase"] == n1 and got["n_error"] == n2
    assert got["n_days"] == days
    assert got["z_stat"] == pytest.approx(
        (n1 - n2) / math.sqrt(n1 + n2), abs=1e-4)


def test_semdedup_pairs_are_exact_subset(spark, sf_dir):
    from parking_bigdata_spark.io import load_table
    from parking_bigdata_spark.operators import similarity as sim
    emb = load_table(spark, sf_dir, "embeddings")
    sd = sim.semdedup(emb, n_cells=16, threshold=0.4).toPandas()
    ex = sim.embedding_near_dup_pairs(emb, threshold=0.4).toPandas()
    exact_pairs = set(zip(ex.id_a, ex.id_b))
    # precision 1.0: every (keeper, removed) pair is a true >=0.4 pair
    assert set(zip(sd.keep_id, sd.vec_id)) <= exact_pairs
    # keeper is the smallest same-cell neighbor, so always < removed id
    assert (sd.keep_id < sd.vec_id).all()
    # in-cluster-only candidate generation still recovers a usable
    # fraction of the exact duplicate set at this low threshold
    # (high-threshold near-identicals land in the same cell far more
    # often — this corpus has none, so 0.4 probes the hard regime)
    removed_exact = set(ex.id_b)
    recall = len(set(sd.vec_id) & removed_exact) / max(1, len(removed_exact))
    assert recall >= 0.3


def test_cochran_armitage_matches_manual(spark, sf_dir):
    got = cochran_armitage_trend(spark, sf_dir).toPandas().iloc[0]
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderpriority", "o_orderstatus"])
    w = o["o_orderpriority"].str[0].astype(int).to_numpy()
    f = (o["o_orderstatus"] == "F").to_numpy(int)
    n, r, t = len(o), f.sum(), (w * f).sum()
    pbar = r / n
    var = pbar * (1 - pbar) * ((w * w).sum() - w.sum() ** 2 / n)
    assert got["n_orders"] == n and got["n_finished"] == r
    assert got["z_trend"] == pytest.approx((t - pbar * w.sum())
                                           / math.sqrt(var), abs=1e-4)


def test_triangle_count_matches_pandas(spark, sf_dir):
    got = triangle_count_brands(spark, sf_dir).toPandas().iloc[0]
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_orderkey", "l_partkey"])
    pt = pd.read_parquet(f"{sf_dir}/part.parquet",
                         columns=["p_partkey", "p_brand"])
    ob = (li.merge(pt, left_on="l_partkey", right_on="p_partkey")
            [["l_orderkey", "p_brand"]].drop_duplicates())
    pairs = {}
    for _, grp in ob.groupby("l_orderkey"):
        bs = sorted(grp["p_brand"])
        for i in range(len(bs)):
            for j in range(i + 1, len(bs)):
                pairs[(bs[i], bs[j])] = pairs.get((bs[i], bs[j]), 0) + 1
    thr = sum(pairs.values()) / len(pairs)
    edges = {p for p, c in pairs.items() if c > thr}
    nodes = {v for e in edges for v in e}
    tri = sum(1 for (a, b) in edges for (b2, c) in edges
              if b == b2 and (a, c) in edges)
    assert got["n_edges"] == len(edges)
    assert got["n_nodes"] == len(nodes)
    assert got["n_triangles"] == tri


def test_kl_divergence_nonnegative_and_consistent(spark, sf_dir):
    got = kl_divergence_by_source(spark, sf_dir).toPandas()
    assert (got["kl_divergence"] >= 0).all()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["source", "text"])
    toks = docs.assign(tok=docs["text"].str.strip().str.split()) \
               .explode("tok")[["source", "tok"]]
    g = toks["tok"].value_counts()
    n, v = len(toks), g.size
    src = "src0"
    cs = toks[toks["source"] == src]["tok"].value_counts()
    ns = int(cs.sum())
    kl = sum(round(((cs.get(t, 0) + 1) / (ns + v))
                   * math.log(((cs.get(t, 0) + 1) / (ns + v))
                              / ((g[t] + 1) / (n + v))), 8)
             for t in g.index)
    row = got.set_index("source").loc[src]
    assert row["n_tokens"] == ns
    assert row["kl_divergence"] == pytest.approx(kl, abs=1e-3)


def test_poisson_glm_matches_converged_mle(spark, sf_dir):
    got = (poisson_glm_daily(spark, sf_dir).toPandas()
           .set_index("term")["estimate"])
    daily = _daily(sf_dir)
    t = daily["d"].to_numpy(float)
    y = daily["n"].to_numpy(float)
    X = np.column_stack([
        np.ones_like(t),
        np.round(np.sin(2 * math.pi * t / 7), 6),
        np.round(np.cos(2 * math.pi * t / 7), 6)])
    # independent check: run IRLS to FULL convergence (no rounding) —
    # 3 rounded iterations must land within newton-quadratic distance
    beta = np.array([math.log(y.mean()), 0.0, 0.0])
    for _ in range(25):
        mu = np.exp(X @ beta)
        W = mu
        H = X.T @ (W[:, None] * X)
        rhs = X.T @ (W * (X @ beta) + (y - mu))
        beta = np.linalg.solve(H, rhs)
    assert got["intercept"] == pytest.approx(beta[0], abs=1e-3)
    assert got["coef_sin_t"] == pytest.approx(beta[1], abs=1e-3)
    assert got["coef_cos_t"] == pytest.approx(beta[2], abs=1e-3)


def test_duplicate_chunks_have_multiple_docs(spark, sf_dir):
    got = duplicate_chunks(spark, sf_dir).toPandas()
    assert len(got) > 0
    assert (got["n_docs"] > 1).all()
    assert (got["n_total"] >= got["n_docs"]).all()
    assert list(got["n_total"]) == sorted(got["n_total"], reverse=True)


def test_new_fit_operators_handle_empty_input(spark):
    from parking_bigdata_spark.operators import similarity as sim

    empty = spark.createDataFrame([], "x double, y double")
    h = ml.huber_fit_df(empty, "x", "y").collect()
    assert [r["estimate"] for r in h] == [None, None]
    one = spark.createDataFrame([(1.0, 2.0)], "x double, y double")
    h1 = ml.huber_fit_df(one, "x", "y").collect()
    assert [r["estimate"] for r in h1] == [None, None]

    p = ml.poisson_glm_df(empty, ["x"], "y").collect()
    assert [r["estimate"] for r in p] == [None, None]

    empty_vec = spark.createDataFrame(
        [], "vec_id long, embedding array<double>")
    assert sim.semdedup(empty_vec).count() == 0
    one_vec = spark.createDataFrame([(1, [1.0] * 64)],
                                    "vec_id long, embedding array<double>")
    assert sim.semdedup(one_vec).count() == 0


def test_pareto_frontier_brute_force(spark, sf_dir):
    got = pareto_frontier_parts(spark, sf_dir).toPandas()
    p = pd.read_parquet(f"{sf_dir}/part.parquet",
                        columns=["p_brand", "p_retailprice", "p_size"]) \
          .drop_duplicates()
    for brand, grp in p.groupby("p_brand"):
        pts = list(zip(grp["p_retailprice"], grp["p_size"]))
        frontier = {(pr, sz) for pr, sz in pts
                    if not any((pr2 <= pr and sz2 >= sz
                                and (pr2 < pr or sz2 > sz))
                               for pr2, sz2 in pts)}
        gb = got[got["p_brand"] == brand]
        assert set(zip(gb["p_retailprice"], gb["p_size"])) == frontier, brand


def test_item_cosine_matches_pandas(spark, sf_dir):
    got = item_cosine_similarity(spark, sf_dir).toPandas()
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_orderkey", "l_partkey"])
    pt = pd.read_parquet(f"{sf_dir}/part.parquet",
                         columns=["p_partkey", "p_brand"])
    ob = (li.merge(pt, left_on="l_partkey", right_on="p_partkey")
            [["l_orderkey", "p_brand"]].drop_duplicates())
    nb = ob["p_brand"].value_counts()
    for _, r in got.head(5).iterrows():
        sets = ob.groupby("p_brand")["l_orderkey"].apply(set)
        n_ab = len(sets[r["brand_a"]] & sets[r["brand_b"]])
        assert r["n_ab"] == n_ab
        assert r["cosine"] == pytest.approx(
            n_ab / math.sqrt(nb[r["brand_a"]] * nb[r["brand_b"]]), abs=1e-4)


def test_incremental_agg_equals_direct(spark, sf_dir):
    got = incremental_agg_refresh(spark, sf_dir).toPandas()
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderdate", "o_totalprice"])
    direct = (o.assign(month=pd.to_datetime(o["o_orderdate"])
                       .dt.strftime("%Y-%m"))
               .groupby("month")["o_totalprice"]
               .agg(["count", "sum"]))
    assert len(got) == len(direct)
    m = got.set_index("month")
    for month, row in direct.iterrows():
        assert m.loc[month, "n_orders"] == row["count"]
        assert m.loc[month, "revenue"] == pytest.approx(row["sum"], abs=0.02)


def test_bfs_hops_match_networkx_free_bfs(spark, sf_dir):
    got = bfs_hops_brands(spark, sf_dir).toPandas()
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_orderkey", "l_partkey"])
    pt = pd.read_parquet(f"{sf_dir}/part.parquet",
                         columns=["p_partkey", "p_brand"])
    ob = (li.merge(pt, left_on="l_partkey", right_on="p_partkey")
            [["l_orderkey", "p_brand"]].drop_duplicates())
    pairs = {}
    for _, grp in ob.groupby("l_orderkey"):
        bs = sorted(grp["p_brand"])
        for i in range(len(bs)):
            for j in range(i + 1, len(bs)):
                pairs[(bs[i], bs[j])] = pairs.get((bs[i], bs[j]), 0) + 1
    thr = sum(pairs.values()) / len(pairs)
    adj = {}
    for (a, b), c in pairs.items():
        if c > thr:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    src = min(adj)
    dist, frontier = {src: 0}, {src}
    for k in range(1, 5):
        frontier = {n for v in frontier for n in adj.get(v, ())
                    if n not in dist}
        for n in frontier:
            dist[n] = k
        if not frontier:
            break
    assert dict(zip(got["brand"], got["hops"])) == dist


def test_overdispersion_matches_numpy(spark, sf_dir):
    got = overdispersion_daily(spark, sf_dir).toPandas().iloc[0]
    n = _daily(sf_dir)["n"].to_numpy(float)
    assert got["mean_daily"] == pytest.approx(n.mean(), abs=1e-3)
    assert got["var_daily"] == pytest.approx(n.var(ddof=1), abs=1e-2)
    assert got["dispersion_index"] == pytest.approx(
        n.var(ddof=1) / n.mean(), abs=1e-3)


def test_lsa_spectrum_properties(spark, sf_dir):
    got = lsa_singular_values(spark, sf_dir).toPandas()
    assert len(got) == 10
    sv = got["singular_value"].to_numpy()
    assert (sv >= 0).all()
    assert list(sv) == sorted(sv, reverse=True)
    assert 0 < got["explained_ratio"].sum() <= 1.0 + 1e-9
    # vocab cap: re-running with a smaller vocab must not error and
    # gives a spectrum dominated by the same leading component
    small = ml.lsa_singular_values(
        __import__("parking_bigdata_spark.io", fromlist=["load_table"])
        .load_table(spark, sf_dir, "documents"), vocab_size=20, top_k=5
    ).toPandas()
    assert small["rank"].tolist() == [1, 2, 3, 4, 5]


def test_isotonic_matches_numpy_pava(spark, sf_dir):
    got = (isotonic_price_by_qty(spark, sf_dir).toPandas()
           .sort_values("q").reset_index(drop=True))
    fits = got["isotonic_fit"].to_numpy()
    # monotone nondecreasing by construction
    assert (np.diff(fits) >= -1e-9).all()
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_quantity", "l_extendedprice"]).dropna()
    g = (li.assign(q=li["l_quantity"].astype(int))
           .groupby("q")["l_extendedprice"].agg(["mean", "count"])
           .sort_index())
    y = np.round(g["mean"].to_numpy(), 6)
    w = g["count"].to_numpy(float)
    # reference implementation: classic PAVA with weighted pooling
    blocks = [[y[i], w[i], i] for i in range(len(y))]
    out = []
    for b in blocks:
        out.append(b)
        while len(out) > 1 and out[-2][0] > out[-1][0] - 1e-15:
            v2, w2, _ = out.pop()
            v1, w1, i1 = out.pop()
            out.append([(v1 * w1 + v2 * w2) / (w1 + w2), w1 + w2, i1])
    pava = np.empty(len(y))
    pos = 0
    for v, wt, _ in out:
        cnt = 0
        acc = 0.0
        while pos + cnt < len(y) and acc < wt - 1e-9:
            acc += w[pos + cnt]
            cnt += 1
        pava[pos:pos + cnt] = v
        pos += cnt
    assert np.allclose(fits, pava, atol=1e-3)


def test_lad_matches_numpy_irls(spark, sf_dir):
    got = (lad_lineitem(spark, sf_dir).toPandas()
           .set_index("term")["estimate"])
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet",
                         columns=["l_quantity", "l_extendedprice"]).dropna()
    x = li["l_quantity"].to_numpy(float)
    y = li["l_extendedprice"].to_numpy(float)
    b0 = b1 = 0.0
    w = np.ones_like(x)
    for it in range(3):
        if it > 0:
            r = np.abs(y - (b0 + b1 * x))
            w = 1.0 / np.maximum(r, 1.0)
        sw, swx, swy = w.sum(), (w * x).sum(), (w * y).sum()
        swxx, swxy = (w * x * x).sum(), (w * x * y).sum()
        b1 = round((sw * swxy - swx * swy) / (sw * swxx - swx * swx), 6)
        b0 = round((swy - b1 * swx) / sw, 6)
    assert got["intercept"] == pytest.approx(b0, abs=1e-3)
    assert got["coef_l_quantity"] == pytest.approx(b1, abs=1e-3)


def test_roc_auc_matches_sklearn_free_rank_formula(spark, sf_dir):
    got = roc_auc_order_status(spark, sf_dir).toPandas().iloc[0]
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_orderstatus", "o_totalprice"])
    pos = (o["o_orderstatus"] == "F").to_numpy(int)
    score = o["o_totalprice"].to_numpy()
    ranks = pd.Series(score).rank(method="average").to_numpy()
    n_pos, n_neg = pos.sum(), len(pos) - pos.sum()
    auc = (ranks[pos == 1].sum() - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)
    assert got["n_pos"] == n_pos and got["n_neg"] == n_neg
    assert got["auc"] == pytest.approx(auc, abs=1e-4)
    assert got["gini"] == pytest.approx(2 * auc - 1, abs=1e-4)
    assert 0.0 <= got["auc"] <= 1.0


def test_target_encoding_excludes_own_fold(spark, sf_dir):
    got = target_encode_mktsegment(spark, sf_dir).toPandas()
    c = pd.read_parquet(f"{sf_dir}/customer.parquet",
                        columns=["c_custkey", "c_mktsegment", "c_acctbal"])
    c = c[c["c_acctbal"].notna()]
    c["fold"] = c["c_custkey"] % 5
    row = got.iloc[0]
    seg, fold = row["segment"], row["fold"]
    other = c[(c["c_mktsegment"] == seg) & (c["fold"] != fold)]
    # decimal(18,2) aggregation truncates nothing: inputs have 2 dp
    expect = round(other["c_acctbal"].sum(), 2) / len(other)
    assert row["oof_target_mean"] == pytest.approx(expect, abs=1e-3)
    # leakage check: encoding must differ from the WITH-fold mean
    # whenever the fold is a nontrivial subset
    full = c[c["c_mktsegment"] == seg]
    assert len(other) < len(full)


def test_funnel_latency_matches_pandas(spark, sf_dir):
    got = funnel_latency_quantiles(spark, sf_dir).toPandas().iloc[0]
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["user_id", "ts", "event_type"])
    lats = []
    for _, g in ev.groupby("user_id"):
        tv = g.loc[g["event_type"] == "view", "ts"].min()
        if pd.isna(tv):
            continue
        tc = g.loc[(g["event_type"] == "click") & (g["ts"] >= tv),
                   "ts"].min()
        if pd.isna(tc):
            continue
        tp = g.loc[(g["event_type"] == "purchase") & (g["ts"] >= tc),
                   "ts"].min()
        if pd.isna(tp):
            continue
        lats.append((tp - tv).value / 1e9)  # ns -> s
    assert got["n_converted"] == len(lats)
    assert got["p50_s"] == pytest.approx(np.percentile(lats, 50), rel=1e-6)
    assert got["p90_s"] == pytest.approx(np.percentile(lats, 90), rel=1e-6)


def test_basket_triples_support_is_consistent(spark, sf_dir):
    got = basket_triples(spark, sf_dir).toPandas()
    assert len(got) == 20
    assert (got["support"] > 0).all()
    assert list(got["support"]) == sorted(got["support"], reverse=True)
    # every triple's support cannot exceed any of its pair supports
    pairs = item_cosine_similarity(spark, sf_dir).toPandas()
    pmap = {(r["brand_a"], r["brand_b"]): r["n_ab"]
            for _, r in pairs.iterrows()}
    for _, r in got.head(3).iterrows():
        ab = pmap.get((r["brand_a"], r["brand_b"]))
        if ab is not None:
            assert r["support"] <= ab


def test_trigram_similarity_reflexive_names_score_one(spark, sf_dir):
    got = trigram_name_similarity(spark, sf_dir).toPandas()
    assert (got["gram_cosine"] >= 0.5).all()
    assert (got["gram_cosine"] <= 1.0).all()
    # representative matching: no pair of identical names can appear
    # (identical names collapse into ONE representative with n_parts>1)
    assert (got["name_a"] != got["name_b"]).all()
    # sanity vs a python recompute for one pair
    row = got.iloc[0]
    g = lambda s: {s[i:i + 3] for i in range(len(s) - 2)}
    a, b = g(row["name_a"]), g(row["name_b"])
    assert row["gram_cosine"] == pytest.approx(
        len(a & b) / math.sqrt(len(a) * len(b)), abs=1e-4)


def test_robust_outliers_match_numpy(spark, sf_dir):
    got = robust_outlier_days(spark, sf_dir).toPandas()
    n = _daily(sf_dir).sort_values("d")["n"].to_numpy(float)
    med = np.median(n)
    mad = np.median(np.abs(n - med))
    z = 0.6745 * (n - med) / mad
    top = sorted(np.abs(z), reverse=True)[:5]
    assert sorted(np.abs(got["modified_z"]), reverse=True) == \
        pytest.approx(top, abs=1e-3)


def test_cohort_ltv_monotone_within_cohort(spark, sf_dir):
    got = cohort_ltv(spark, sf_dir).toPandas()
    for _, g in got.groupby("cohort_week"):
        vals = g.sort_values("week_offset")["cum_ltv_per_user"].to_numpy()
        assert (np.diff(vals) >= -1e-9).all()  # cumulative, value >= 0


def test_bounce_rate_bounds_and_totals(spark, sf_dir):
    got = daily_bounce_rate(spark, sf_dir).toPandas()
    assert (got["bounce_rate"] >= 0).all() and (got["bounce_rate"] <= 1).all()
    assert (got["n_bounces"] <= got["n_sessions"]).all()
    sess = events_sessions(spark, sf_dir).toPandas()
    assert got["n_sessions"].sum() == sess["n_sessions"].sum()


def test_yule_k_matches_manual(spark, sf_dir):
    got = yule_k_by_source(spark, sf_dir).toPandas().set_index("source")
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["source", "text"])
    src = "src0"
    toks = [t for txt in docs.loc[docs["source"] == src, "text"]
            for t in txt.strip().split()]
    from collections import Counter
    c = Counter(toks)
    N = sum(c.values())
    m2 = sum(m * m for m in c.values())
    row = got.loc[src]
    assert row["n_tokens"] == N
    assert row["n_types"] == len(c)
    assert row["yule_k"] == pytest.approx(1e4 * (m2 - N) / N ** 2, abs=1e-3)
    assert row["hapax_ratio"] == pytest.approx(
        sum(1 for m in c.values() if m == 1) / len(c), abs=1e-4)


def test_burstiness_in_range(spark, sf_dir):
    got = burstiness_by_type(spark, sf_dir).toPandas()
    assert len(got) == 5
    assert (got["burstiness"] > -1).all() and (got["burstiness"] < 1).all()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet",
                         columns=["ts", "event_type"]).dropna()
    one = ev[ev["event_type"] == "click"]
    daily = (pd.to_datetime(one["ts"]).dt.normalize()
             .value_counts().to_numpy(float))
    mu, sd = daily.mean(), daily.std(ddof=1)
    row = got.set_index("event_type").loc["click"]
    assert row["burstiness"] == pytest.approx((sd - mu) / (sd + mu),
                                              abs=1e-3)


def test_catalog_profile_consistency(spark, sf_dir):
    got = catalog_profile(spark, sf_dir).toPandas()
    assert len(got) == 49
    assert (got["n_nulls"] >= 0).all()
    assert (got["n_distinct"] <= got["n_rows"]).all()
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    sub = got[got["table_name"] == "lineitem"].set_index("column_name")
    assert (sub["n_rows"] == len(li)).all()
    assert sub.loc["l_returnflag", "n_distinct"] == \
        li["l_returnflag"].nunique()
    assert sub.loc["l_quantity", "n_nulls"] == \
        int(li["l_quantity"].isna().sum())


def test_trigram_short_names_single_gram(spark):
    from pyspark.sql import functions as SF
    df = spark.createDataFrame([("ab",), ("abcd",)], "nm string")
    grams = df.select("nm", SF.explode(SF.array_distinct(SF.transform(
        SF.sequence(SF.lit(1), SF.greatest(SF.length("nm") - 2, SF.lit(1))),
        lambda i: SF.col("nm").substr(i, SF.lit(3))))).alias("gram"))
    got = {(r["nm"], r["gram"]) for r in grams.collect()}
    # a sub-3-char name yields exactly its whole string (not the
    # descending-sequence explosion), longer names the sliding grams
    assert got == {("ab", "ab"), ("abcd", "abc"), ("abcd", "bcd")}


def test_poisson_glm_oracle_drops_null_rows(spark):
    import duckdb
    from parking_bigdata_spark import oracles
    pdf = pd.DataFrame({
        "x1": [0.1, 0.5, None, 0.9, 0.2, 0.7, 0.4, 0.3],
        "y": [3.0, 5.0, 4.0, None, 6.0, 2.0, 7.0, 4.0]})
    sdf = spark.createDataFrame(pdf)
    got = (ml.poisson_glm_df(sdf, ["x1"], "y", n_iter=2).toPandas()
           .set_index("term")["estimate"])
    con = duckdb.connect()
    con.register("t", pdf)
    sql = oracles.poisson_glm_sql(["x1"], "y", table="t", n_iter=2)
    exp = con.execute(sql).df().set_index("term")["estimate"]
    for term in ("intercept", "coef_x1"):
        assert got[term] == exp[term], term


def test_cms_overestimates_and_is_tight_here(spark, sf_dir):
    got = cms_event_counts(spark, sf_dir).toPandas()
    assert len(got) == 5
    # the CMS guarantee: never underestimates
    assert (got["cms_estimate"] >= got["true_count"]).all()
    assert (got["is_overestimate"] == 1).all()
    # d=3 x w=64 over only 5 distinct keys: collisions are unlikely in
    # ALL three rows, so at least 3 of 5 estimates should be exact
    assert (got["cms_estimate"] == got["true_count"]).sum() >= 3


def test_k_anonymity_consistency(spark, sf_dir):
    got = k_anonymity_audit(spark, sf_dir).toPandas().iloc[0]
    c = pd.read_parquet(f"{sf_dir}/customer.parquet",
                        columns=["c_nationkey", "c_mktsegment", "c_acctbal"])
    g = (c.assign(band=np.floor(c["c_acctbal"] / 1000))
          .groupby(["c_nationkey", "c_mktsegment", "band"]).size())
    assert got["n_groups"] == len(g)
    assert got["n_customers"] == int(g.sum())
    assert got["min_group_size"] == int(g.min())
    assert got["share_below_k5"] == pytest.approx(
        g[g < 5].sum() / g.sum(), abs=1e-4)
    assert 0 <= got["share_below_k2"] <= got["share_below_k5"] \
        <= got["share_below_k10"] <= 1


def test_nelson_aalen_vs_km_consistency(spark, sf_dir):
    na = nelson_aalen_hazard(spark, sf_dir).toPandas()
    km = kaplan_meier_retention(spark, sf_dir).toPandas()
    # same life table: identical event times and at-risk counts
    assert list(na["duration_days"]) == list(km["duration_days"])
    assert list(na["n_at_risk"]) == list(km["n_at_risk"])
    # hazard is nonnegative and nondecreasing; exp(-H) ~ KM survival
    # (they agree to first order for small per-step hazards)
    h = na.sort_values("duration_days")["cum_hazard"].to_numpy()
    assert (np.diff(h) >= -1e-9).all()
    s = km.sort_values("duration_days")["survival"].to_numpy()
    assert np.allclose(np.exp(-h), s, atol=0.05)


def test_did_matches_pandas(spark, sf_dir):
    got = diff_in_diff_revenue(spark, sf_dir).toPandas().iloc[0]
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    o = o[o["o_orderpriority"].isin(["1-URGENT", "5-LOW"])
          & o["o_orderdate"].notna()]
    t = o["o_orderpriority"] == "1-URGENT"
    post = pd.to_datetime(o["o_orderdate"]) >= "1996-01-01"
    m = lambda mask: o.loc[mask, "o_totalprice"].mean()
    did = (m(t & post) - m(t & ~post)) - (m(~t & post) - m(~t & ~post))
    assert got["did_estimate"] == pytest.approx(did, abs=1e-2)


def test_woe_iv_sums_and_signs(spark, sf_dir):
    got = woe_iv_mktsegment(spark, sf_dir).toPandas()
    assert len(got) == 5
    # IV contributions are nonnegative by construction ((ps-ns) and
    # ln(ps/ns) always share a sign)
    assert (got["iv_contrib"] >= -1e-9).all()
    c = pd.read_parquet(f"{sf_dir}/customer.parquet",
                        columns=["c_custkey", "c_mktsegment"])
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_custkey", "o_orderpriority"])
    urgent = set(o.loc[o["o_orderpriority"] == "1-URGENT", "o_custkey"])
    y = c["c_custkey"].isin(urgent)
    assert got["n_pos"].sum() == int(y.sum())
    assert got["n_neg"].sum() == int((~y).sum())


def test_calibration_brier_matches_pandas(spark, sf_dir):
    got = calibration_order_status(spark, sf_dir).toPandas()
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_totalprice", "o_orderstatus"])
    p = np.round(1 / (1 + np.exp(-(-2.0 + o["o_totalprice"] * 1e-5))), 6)
    y = (o["o_orderstatus"] == "F").astype(float)
    assert got["brier_score"].iloc[0] == pytest.approx(
        ((p - y) ** 2).mean(), abs=1e-3)
    assert got["n"].sum() == len(o)


def test_conformal_coverage_near_nominal(spark, sf_dir):
    got = conformal_interval_coverage(spark, sf_dir).toPandas().iloc[0]
    # split-conformal guarantee: coverage within sampling noise of 0.9
    assert 0.8 <= got["coverage"] <= 1.0
    assert got["n_covered"] <= got["n_test"]
    assert got["q90"] > 0


def test_gmm_matches_numpy_em(spark, sf_dir):
    got = (gmm_order_value(spark, sf_dir).toPandas()
           .set_index("component"))
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_totalprice"]).dropna()
    x = o["o_totalprice"].to_numpy(float) * 1e-5
    m, s = x.mean(), x.std(ddof=1)
    p1, mu1, mu2 = 0.5, round(m - s, 6), round(m + s, 6)
    s1 = s2 = round(s, 6)
    for _ in range(3):
        d1 = (p1 / s1) * np.exp(-((x - mu1) ** 2) / (2 * s1 * s1))
        d2 = ((1 - p1) / s2) * np.exp(-((x - mu2) ** 2) / (2 * s2 * s2))
        r = np.round(d1 / (d1 + d2), 9)
        n, sr = len(x), r.sum()
        p1 = round(sr / n, 6)
        mu1 = round((r * x).sum() / sr, 6)
        mu2 = round(((1 - r) * x).sum() / (n - sr), 6)
        s1 = round(math.sqrt(max((r * x * x).sum() / sr - mu1 * mu1,
                                 1e-12)), 6)
        s2 = round(math.sqrt(max(((1 - r) * x * x).sum() / (n - sr)
                                 - mu2 * mu2, 1e-12)), 6)
    assert got.loc[1, "weight"] == pytest.approx(p1, abs=1e-5)
    assert got.loc[1, "mean"] == pytest.approx(mu1, abs=1e-5)
    assert got.loc[2, "mean"] == pytest.approx(mu2, abs=1e-5)
    assert got.loc[1, "std"] == pytest.approx(s1, abs=1e-5)
    # mixture sanity: weights sum to 1, components ordered by mean
    assert got["weight"].sum() == pytest.approx(1.0, abs=1e-6)
    assert got.loc[1, "mean"] < got.loc[2, "mean"]


def test_gmm_empty_input(spark):
    empty = spark.createDataFrame([], "xs double")
    out = ml.gmm_em_1d(empty, "xs").collect()
    assert [r["weight"] for r in out] == [None, None]


def test_gmm_oracle_matches_operator_on_degenerate_input(spark):
    import duckdb
    from parking_bigdata_spark import oracles
    pdf = pd.DataFrame({"xs": [2.0] * 20})  # constant: stddev == 0
    got = ml.gmm_em_1d(spark.createDataFrame(pdf), "xs").toPandas()
    assert got["weight"].isna().all()
    con = duckdb.connect()
    con.register("t", pdf)
    exp = con.execute(
        oracles.gmm_em_sql("xs", table="t", n_iter=3)).df()
    assert exp["weight"].isna().all() and exp["mean"].isna().all()


def test_lorenz_curve_properties(spark, sf_dir):
    got = (lorenz_curve_spend(spark, sf_dir).toPandas()
           .sort_values("decile").reset_index(drop=True))
    assert list(got["decile"]) == list(range(1, 11))
    # Lorenz curve: nondecreasing, convex-ish shares, ends at 1
    cs = got["cum_spend_share"].to_numpy()
    assert (np.diff(cs) > 0).all()
    assert cs[-1] == pytest.approx(1.0, abs=1e-4)
    # deciles are ordered by spend: per-decile share must be
    # nondecreasing too
    sh = got["spend_share"].to_numpy()
    assert (np.diff(sh) >= -1e-9).all()
    o = pd.read_parquet(f"{sf_dir}/orders.parquet",
                        columns=["o_custkey", "o_totalprice"])
    assert got["n_customers"].sum() == o["o_custkey"].nunique()


def test_mann_kendall_matches_manual(spark, sf_dir):
    got = mann_kendall_daily(spark, sf_dir).toPandas().iloc[0]
    daily = _daily(sf_dir).sort_values("d")
    n = daily["n"].to_numpy()
    k = len(n)
    s = sum(np.sign(n[j] - n[i])
            for i in range(k) for j in range(i + 1, k))
    from collections import Counter
    tie = sum(t * (t - 1) * (2 * t + 5) for t in Counter(n).values())
    var = (k * (k - 1) * (2 * k + 5) - tie) / 18.0
    z = ((s - 1) / math.sqrt(var) if s > 0
         else (s + 1) / math.sqrt(var) if s < 0 else 0.0)
    assert got["n_days"] == k
    assert got["s_stat"] == s
    assert got["var_s"] == pytest.approx(var, abs=1e-3)
    assert got["z_stat"] == pytest.approx(z, abs=1e-4)
    # consistency with the Theil-Sen slope's sign
    ts = theilsen_daily_trend(spark, sf_dir).toPandas().iloc[0]
    if abs(got["z_stat"]) > 1.96:
        assert np.sign(ts["slope"]) == np.sign(got["s_stat"])
