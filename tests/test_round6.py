"""Round-6 additions (VERDICT r05 next-round asks #2/#5/#7): proof
brackets on the GK MAD twin, grid twins for the last exact-rank
operators (PR-AUC / Dunn / Wilcoxon signed-rank), and the
principal-component-regression composition — each bound-checked
against its exact counterpart at TWO SFs (the A18gb discipline)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from parking_bigdata_spark.queries.a_scale_twins import (
    dunn_approx_segments, gini_approx_acctbal_by_segment,
    kruskal_approx_acctbal_by_segment, mad_approx_price_by_flag_detail,
    pr_auc_approx_order_status, roc_auc_approx_order_status,
    spearman_approx_qty_price, wilcoxon_approx_signed_rank)
from parking_bigdata_spark.queries.a_stats import mad_price_by_flag
from parking_bigdata_spark.queries.a_stats2 import (
    pr_auc_order_status, wilcoxon_signed_rank)
from parking_bigdata_spark.queries.a_stats_ext import (
    dunn_posthoc_segments, pcr_holdout)
from parking_bigdata_spark.queries.b_llm import duplicate_chunks
from parking_bigdata_spark.queries.b_llm_ext import (
    duplicate_chunks_bloom, gram_novelty_bloom_by_source,
    gram_novelty_by_source)
from parking_bigdata_spark.io import load_table
from parking_bigdata_spark.operators import stats

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


@pytest.mark.parametrize("sf", SFS)
def test_mad_approx_brackets_contain_exact(spark, sf):
    """VERDICT r05 #7: the GK twin's [med_lo, med_hi] must CONTAIN the
    exact A63 median (the ±4/accuracy probe cushion — same guarantee
    grouped_quantiles' exact refine is built on), and [mad_lo, mad_hi]
    must contain the exact median of |v − median_price_approx| (the
    deviation median around the emitted center). Brackets must also be
    tight enough to be useful, not vacuous."""
    exact = {r["l_returnflag"]: r
             for r in mad_price_by_flag(spark, sf).collect()}
    ap = {r["l_returnflag"]: r
          for r in mad_approx_price_by_flag_detail(spark, sf).collect()}
    assert set(ap) == set(exact)

    # exact deviation median AROUND THE EMITTED approx center
    li = load_table(spark, sf, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").cast("double").alias("v"))
    centers = spark.createDataFrame(
        [(k, float(v["median_price_approx"])) for k, v in ap.items()],
        "l_returnflag string, c double")
    dev = (li.join(F.broadcast(centers), "l_returnflag")
             .select("l_returnflag",
                     F.abs(F.col("v") - F.col("c")).alias("adev")))
    dev_med = {r["l_returnflag"]: r["m"]
               for r in stats.grouped_median(dev, "l_returnflag", "adev",
                                             alias="m").collect()}

    for flag, row in ap.items():
        e = exact[flag]
        assert row["med_lo"] <= e["median_price"] <= row["med_hi"], flag
        assert row["mad_lo"] <= dev_med[flag] <= row["mad_hi"], flag
        # tightness: the cushion is ±4/accuracy in rank — on these
        # smooth distributions that is well under 1% in value
        assert (row["med_hi"] - row["med_lo"]) / e["median_price"] < 0.01
        assert (row["mad_hi"] - row["mad_lo"]) / e["mad"] < 0.02, flag


@pytest.mark.parametrize("sf", SFS)
def test_pr_auc_approx_close_to_exact(spark, sf):
    """Average precision of the 256-bucket binned blocks converges to
    the exact tie-block AP; measured |delta| <= 2e-4 at the driver
    SFs, asserted within 2e-3."""
    exact = pr_auc_order_status(spark, sf).collect()[0]
    ap = pr_auc_approx_order_status(spark, sf).collect()[0]
    assert ap["n_pos"] == exact["n_pos"]
    assert ap["n_neg"] == exact["n_neg"]
    assert abs(ap["average_precision_approx"]
               - exact["average_precision"]) < 2e-3


@pytest.mark.parametrize("sf", SFS)
def test_dunn_approx_close_to_exact(spark, sf):
    """Dunn's pairwise z on the binned ranks tracks the exact test;
    measured |delta z| <= 0.01 per pair at the driver SFs, asserted
    within 0.05 (the same decision at any sane alpha)."""
    exact = {(r["seg_a"], r["seg_b"]): r
             for r in dunn_posthoc_segments(spark, sf).collect()}
    ap = {(r["seg_a"], r["seg_b"]): r
          for r in dunn_approx_segments(spark, sf).collect()}
    assert set(ap) == set(exact)
    for pair, row in ap.items():
        e = exact[pair]
        assert abs(row["z_approx"] - e["z_stat"]) < 0.05, pair
        assert abs(row["mean_rank_a_approx"] - e["mean_rank_a"]) \
            / e["mean_rank_a"] < 0.005, pair


@pytest.mark.parametrize("sf", SFS)
def test_wilcoxon_approx_brackets_exact(spark, sf):
    """[w_lo, w_hi] is a PROOF bracket for the exact W+ (tie-averaging
    within a bucket is rank-preserving smoothing — see the A136b
    docstring), and the tie-averaged midpoint tracks the exact z."""
    exact = wilcoxon_signed_rank(spark, sf).collect()[0]
    ap = wilcoxon_approx_signed_rank(spark, sf).collect()[0]
    assert ap["n_pairs"] == exact["n_pairs"]
    assert ap["w_lo"] - 1e-2 <= exact["w_plus"] <= ap["w_hi"] + 1e-2
    assert abs(ap["z_approx"] - exact["z_stat"]) < 0.05


def test_cms_hex_chars_scale_with_corpus():
    """VERDICT r05 #3: the counting-filter cell space must scale with
    the corpus instead of sitting at the fixed 2^20 that saturates at
    true corpus scale — smallest width with 16^h >= 4x estimated rows,
    clamped to [5, 8]."""
    from parking_bigdata_spark.queries.b_llm_ext import _cms_hex_chars
    assert _cms_hex_chars(1_000) == 5
    assert _cms_hex_chars(262_144) == 5          # 4x = 2^20 exactly
    assert _cms_hex_chars(262_145) == 6          # first step past 16^5
    assert _cms_hex_chars(5_000 * 64) == 6       # sf0.1-shaped corpus
    assert _cms_hex_chars(125_000 * 64) == 7     # 100x stress corpus
    assert _cms_hex_chars(10**9) == 8            # billion-gram corpus
    assert _cms_hex_chars(10**15) == 8           # clamp: never past 16^8


@pytest.mark.parametrize("sf", SFS)
@pytest.mark.parametrize("kind", ["grams", "chunks"])
def test_cms_prefilter_not_saturated(spark, sf, kind):
    """Non-saturation at the driver SFs (mostly-unique corpora — the
    prefilter's design regime): a healthy cell space leaves a real
    cold fraction, i.e. the filter actually prunes digest-shuffle
    rows. The 20x/100x unique-heavy stress assertion lives in the
    SCALE.md ledger (scripts/make_stress.py unique mode)."""
    from parking_bigdata_spark.queries.b_llm_ext import cms_prefilter_stats
    row = cms_prefilter_stats(spark, sf, kind).collect()[0]
    assert row["n_rows"] > 0
    assert row["cold_fraction"] > 0.3, row
    # the hot-cell broadcast is bounded by occupied cells, not the
    # cell-space size
    assert row["n_hot_cells"] <= row["n_rows"]


@pytest.mark.parametrize("sf", SFS)
def test_cms_twins_still_equal_exact_after_resize(spark, sf):
    """The lossless-prefilter theorem is cell-count-independent: after
    the corpus-aware resize the twins must still equal their exact
    forms row-for-row (the round-5 equality test re-run against the
    new sizing)."""
    for exact_fn, twin_fn, key in (
            (gram_novelty_by_source, gram_novelty_bloom_by_source,
             "source"),
            (duplicate_chunks, duplicate_chunks_bloom, "chunk_md5")):
        exact = sorted(map(tuple, exact_fn(spark, sf).collect()))
        twin = sorted(map(tuple, twin_fn(spark, sf).collect()))
        assert twin == exact, key


def _exact_wplus(d):
    """Reference W+ (tie-averaged ranks of |d|, summed over d>0) in
    plain numpy — the textbook definition, independent of any Spark
    machinery."""
    import numpy as np
    d = np.asarray(d, dtype=float)
    ad = np.abs(d)
    order = np.argsort(ad, kind="mergesort")
    ranks = np.empty(len(d))
    sad = ad[order]
    i, r = 0, 1
    while i < len(d):
        j = i
        while j < len(d) and sad[j] == sad[i]:
            j += 1
        ranks[order[i:j]] = (r + (r + (j - i) - 1)) / 2.0
        r += j - i
        i = j
    return float(ranks[d > 0].sum())


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
@pytest.mark.parametrize("grid", [4, 8])
def test_wilcoxon_bracket_theorem_randomized(spark, seed, grid):
    """The containment theorem itself, exercised where it is NOT
    degenerate: random signed data (continuous + heavy-tie mixtures)
    on deliberately COARSE grids (G=4/8), where many pairs share a
    bucket and [w_lo, w_hi] is genuinely wide — the exact W+ must
    land inside for every draw."""
    import numpy as np
    from parking_bigdata_spark.queries.a_scale_twins import _wilcoxon_grid
    rng = np.random.default_rng(seed)
    if seed % 2 == 0:
        d = np.round(rng.normal(0.3, 1.0, 150), 1)   # rounded: many ties
    else:
        d = rng.choice([-3.0, -1.5, -0.5, 0.5, 1.5, 2.5, 4.0], 150)
    d = d[d != 0.0]
    df = spark.createDataFrame(
        [(float(x), float(abs(x))) for x in d], "d double, ad double")
    row = _wilcoxon_grid(df, grid).collect()[0]
    exact = _exact_wplus(d)
    assert row["n_pairs"] == len(d)
    assert row["w_lo"] - 1e-2 <= exact <= row["w_hi"] + 1e-2, (
        seed, grid, exact, row)
    # coarse grids must produce genuinely wide brackets for the
    # continuous mixture — the theorem is being exercised, not
    # trivially satisfied
    if seed % 2 == 0:
        assert row["w_hi"] > row["w_lo"]


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_gk_median_bracket_randomized(spark, seed):
    """The ±4/accuracy GK probe cushion must bracket the exact
    percentile_cont median on arbitrary shapes — heavy ties, skew,
    and a group smaller than the sketch accuracy (where GK stores
    everything and the bracket degenerates to exact)."""
    import numpy as np
    rng = np.random.default_rng(seed)
    acc = 1000
    eps = 4.0 / acc
    groups = {
        "ties": rng.choice([1.0, 2.0, 2.0, 3.0, 50.0], 5000),
        "skew": np.exp(rng.normal(0, 2, 5000)),
        "tiny": rng.normal(10, 1, 37),
    }
    rows = [(g, float(v)) for g, vals in groups.items() for v in vals]
    df = spark.createDataFrame(rows, "g string, v double")
    br = {r["g"]: r for r in stats.grouped_quantiles_approx(
        df, "g", "v", [0.5 - eps, 0.5, 0.5 + eps],
        ["lo", "mid", "hi"], accuracy=acc).collect()}
    exact = {r["g"]: r["m"] for r in stats.grouped_median(
        df, "g", "v", alias="m", accuracy=acc).collect()}
    for g in groups:
        assert br[g]["lo"] <= exact[g] <= br[g]["hi"], (g, br[g], exact[g])


def test_pcr_holdout_matches_numpy(spark):
    """Semantic cross-check for the PCR composition (the
    expected-parquet oracle pins determinism, not semantics): the
    whole pipeline — standardized train-fold PCA, OLS on top-2 PC
    scores with 4-dp coefficients, holdout metrics — re-derived in
    pure numpy from the collected sf0.001 fold must reproduce the
    registered query's rmse/mape/r2 (sign-invariance of the metrics
    in the eigenvectors makes the comparison well-posed)."""
    import numpy as np
    sf = "/root/testdata/sf0.001"
    row = pcr_holdout(spark, sf).collect()[0]

    li = (load_table(spark, sf, "lineitem")
          .select("l_orderkey", "l_quantity", "l_discount", "l_tax",
                  "l_extendedprice").toPandas())
    X = np.column_stack([
        li["l_quantity"],
        li["l_quantity"] * (1 - li["l_discount"]),
        li["l_quantity"] * (1 + li["l_tax"]),
        li["l_discount"]]).astype(float)
    y = li["l_extendedprice"].to_numpy(dtype=float)
    train = (li["l_orderkey"] % 5 != 0).to_numpy()
    mu, sd = X[train].mean(0), X[train].std(0, ddof=1)
    C = np.corrcoef(X[train], rowvar=False)
    # match pca_fit: covariance of standardized == correlation matrix
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(vals)[::-1]
    V = vecs[:, order][:, :2]
    S_train = ((X[train] - mu) / sd) @ V
    A = np.column_stack([np.ones(len(S_train)), S_train])
    beta = np.linalg.solve(A.T @ A, A.T @ y[train])
    b = np.round(beta, 4)
    S_test = ((X[~train] - mu) / sd) @ V
    pred = b[0] + S_test @ b[1:]
    yt = y[~train]
    rmse = float(np.sqrt(np.mean((yt - pred) ** 2)))
    mape = float(np.mean(np.abs((yt - pred) / yt)))
    sst = float((yt ** 2).sum() - yt.sum() ** 2 / len(yt))
    r2 = 1.0 - float(((yt - pred) ** 2).sum()) / sst
    assert row["n_test"] == int((~train).sum())
    assert abs(row["rmse"] - rmse) < max(1e-2, 1e-5 * rmse)
    assert abs(row["mape"] - mape) < 1e-3
    assert abs(row["r2"] - r2) < 1e-3


def _tie_avg_ranks_np(v):
    import numpy as np
    v = np.asarray(v, dtype=float)
    order = np.argsort(v, kind="mergesort")
    ranks = np.empty(len(v))
    sv = v[order]
    i, r = 0, 1
    while i < len(v):
        j = i
        while j < len(v) and sv[j] == sv[i]:
            j += 1
        ranks[order[i:j]] = (r + (r + (j - i) - 1)) / 2.0
        r += j - i
        i = j
    return ranks


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
@pytest.mark.parametrize("grid", [4, 8])
def test_roc_mw_brackets_theorem_randomized(spark, seed, grid):
    """[auc_lo, auc_hi] and [u_lo, u_hi] must contain the exact
    tie-averaged AUC / U on random labeled data at COARSE grids —
    exercising the strictly-ordered-cross-bucket argument where
    within-bucket pairs (the unknown) dominate."""
    import numpy as np
    from parking_bigdata_spark.queries.a_scale_twins import (_mw_grid,
                                                             _roc_grid)
    rng = np.random.default_rng(seed)
    lab = (rng.random(200) < 0.4).astype(int)
    if seed % 2 == 0:
        v = np.round(rng.normal(0, 1, 200) + 0.8 * lab, 1)  # ties
    else:
        v = rng.normal(0, 1, 200) + 0.5 * lab               # continuous
    ranks = _tie_avg_ranks_np(v)
    n1, n0 = int(lab.sum()), int((1 - lab).sum())
    u_exact = float(ranks[lab == 1].sum()) - n1 * (n1 + 1) / 2.0
    auc_exact = u_exact / (n1 * n0)

    df = spark.createDataFrame(
        [(int(p), float(x)) for p, x in zip(lab, v)], "pos int, v double")
    r = _roc_grid(df, grid).collect()[0]
    assert (r["n_pos"], r["n_neg"]) == (n1, n0)
    assert r["auc_lo"] - 1e-4 <= auc_exact <= r["auc_hi"] + 1e-4, (
        seed, grid, auc_exact, r)
    assert r["auc_hi"] > r["auc_lo"]  # coarse grid: bracket is real

    m = _mw_grid(df.withColumnRenamed("pos", "i1"), grid).collect()[0]
    assert (m["n1"], m["n2"]) == (n1, n0)
    assert m["u_lo"] - 1e-2 <= u_exact <= m["u_hi"] + 1e-2, (
        seed, grid, u_exact, m)


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
@pytest.mark.parametrize("grid", [4, 8])
def test_ks_bracket_theorem_randomized(spark, seed, grid):
    """[ks_d_approx, ks_d_upper] must contain the exact two-sample D
    on random draws at COARSE grids: edge evaluations are exact ECDF
    values (lower bound), and within a bucket each ECDF moves by at
    most its bucket mass (upper bound)."""
    import numpy as np
    from parking_bigdata_spark.queries.a_stats import _ks_grid
    rng = np.random.default_rng(seed)
    lab = (rng.random(250) < 0.45).astype(int)
    if seed % 2 == 0:
        v = np.round(rng.normal(0, 1, 250) + 0.6 * lab, 1)
    else:
        v = np.exp(rng.normal(0, 1, 250)) + 0.3 * lab
    x1, x2 = np.sort(v[lab == 1]), np.sort(v[lab == 0])
    pooled = np.unique(v)
    e1 = np.searchsorted(x1, pooled, side="right") / len(x1)
    e2 = np.searchsorted(x2, pooled, side="right") / len(x2)
    d_exact = float(np.max(np.abs(e1 - e2)))

    df = spark.createDataFrame(
        [(float(x), int(p)) for x, p in zip(v, lab)], "v double, i1 int")
    r = _ks_grid(df, grid).collect()[0]
    assert (r["n1"], r["n2"]) == (int(lab.sum()), int((1 - lab).sum()))
    assert r["ks_d_approx"] - 1e-4 <= d_exact <= r["ks_d_upper"] + 1e-4, (
        seed, grid, d_exact, r)
    assert r["ks_d_upper"] > r["ks_d_approx"]  # bracket is real at G=4/8


def test_cms_recompute_path_equals_exact(spark, monkeypatch):
    """The corpus-scale branch of _cms_split (estimated rows above the
    materialization bound → NO localCheckpoint, the tagged projection
    recomputes per consumer) must still satisfy the lossless theorem —
    exercised by forcing the bound to 0, which no driver SF reaches
    naturally."""
    from parking_bigdata_spark.queries import b_llm_ext
    monkeypatch.setattr(b_llm_ext, "_CMS_MATERIALIZE_MAX_ROWS", 0)
    sf = "/root/testdata/sf0.001"
    exact = sorted(map(tuple, gram_novelty_by_source(spark, sf).collect()))
    twin = sorted(map(tuple,
                      b_llm_ext.gram_novelty_bloom_by_source(spark, sf)
                      .collect()))
    assert twin == exact


def test_grid_twins_constant_column(spark, tmp_path):
    """The degenerate bucket branch (mx == mn → every row in bucket 0)
    that no driver corpus exercises: a CONSTANT value column must flow
    through the registered twins without an ANSI error. Gini of a
    constant positive column is exactly 0 (perfect equality); rank
    statistics of an all-tied column are undefined and must come back
    as a row (NaN/None), never an exception."""
    import math
    import pandas as pd
    cust = pd.DataFrame({
        "c_custkey": range(1, 101),
        "c_mktsegment": ["BUILDING" if i % 2 else "MACHINERY"
                         for i in range(100)],
        "c_acctbal": [500.0] * 100,
    })
    cust.to_parquet(str(tmp_path / "customer.parquet"), index=False)
    sf = str(tmp_path)

    g = {r["c_mktsegment"]: r
         for r in gini_approx_acctbal_by_segment(spark, sf).collect()}
    assert set(g) == {"BUILDING", "MACHINERY"}
    for seg, row in g.items():
        assert row["gini_approx"] == 0.0, (seg, row)

    k = kruskal_approx_acctbal_by_segment(spark, sf).collect()
    assert len(k) == 1 and k[0]["n"] == 100
    assert k[0]["h_stat_approx"] is None  # all-tied: undefined => NULL

    d = dunn_approx_segments(spark, sf).collect()
    assert len(d) == 1  # one segment pair
    assert d[0]["mean_rank_a_approx"] == d[0]["mean_rank_b_approx"]
    assert d[0]["z_approx"] is None  # all-tied: undefined => NULL


def test_grid_twins_single_class_and_constant_axis(spark, tmp_path):
    """More undefined-statistic inputs that must degrade to NULL, not
    an ANSI job abort: a single-class orders table (no 'P'/'F' rows
    for PR-AUC/ROC; only one priority arm for Mann-Whitney) and a
    constant lineitem axis for the Spearman twin."""
    import pandas as pd
    orders = pd.DataFrame({
        "o_orderkey": range(1, 51),
        "o_orderstatus": ["O"] * 50,          # never 'P', never 'F'
        "o_orderpriority": ["3-MEDIUM"] * 50,  # neither MW arm
        "o_totalprice": [100.0 + i for i in range(50)],
    })
    orders.to_parquet(str(tmp_path / "orders.parquet"), index=False)
    li = pd.DataFrame({
        "l_quantity": [7.0] * 40,             # constant x axis
        "l_extendedprice": [float(i) for i in range(40)],
    })
    li.to_parquet(str(tmp_path / "lineitem.parquet"), index=False)
    sf = str(tmp_path)

    pr = pr_auc_approx_order_status(spark, sf).collect()[0]
    assert pr["n_pos"] == 0
    assert pr["average_precision_approx"] is None

    roc = roc_auc_approx_order_status(spark, sf).collect()[0]
    assert roc["n_pos"] == 0
    assert roc["auc_approx"] is None and roc["gini_approx"] is None

    sp = spearman_approx_qty_price(spark, sf).collect()[0]
    assert sp["n_rows"] == 40
    assert sp["spearman_rho_approx"] is None
