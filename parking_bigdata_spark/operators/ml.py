"""Modeling operators: regression, PCA, VIF, evaluation metrics,
deterministic stratified splits.

Reference parity: simple lm fit 등록차량수 ~ 단지내주차면수
(20210803_이승하.R:740), multivariate OLS (R:1194), ``prcomp`` PCA
(R:537), ``rms::vif`` (R:527), RMSE/MAPE/R² evaluation
(R:1291-1315), and the seeded region-stratified 80/20 split
(R:962-989).

Scale design: every fit reduces to FIXED-SIZE sufficient statistics —
the (k+1)x(k+1) Gram matrix XᵀX and Xᵀy — computed in ONE distributed
``agg`` pass (k² fused sum-of-products expressions, map-side combined).
Only that k×k matrix reaches the driver; numpy solves it. This is the
classic scalable formulation of linear least squares: 100 TB of rows
stream through; driver work is O(k³) independent of row count.
"""

from __future__ import annotations


import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parking_bigdata_spark.io import local_df
from parking_bigdata_spark.operators.stats import noise_floor


def simple_linreg(df: DataFrame, x: str, y: str, round_to: int = 4) -> DataFrame:
    """Single-feature OLS slope/intercept/r (R:740) from closed-form
    covariance aggregates — identical math to SQL's regr_slope/intercept,
    one pass, one output row.
    """
    agg = df.where(F.col(x).isNotNull() & F.col(y).isNotNull()).agg(
        F.count(F.lit(1)).alias("n"),
        F.covar_pop(x, y).alias("cov"),
        F.var_pop(x).alias("varx"),
        F.avg(x).alias("mx"),
        F.avg(y).alias("my"),
        # pop-moment corr form: identical to F.corr on real data but
        # degrades to NULL on a zero-variance column instead of an
        # ANSI DIVIDE_BY_ZERO job abort (Spark 4 default ANSI mode)
        (F.covar_pop(x, y)
         / F.nullif(F.sqrt(F.var_pop(x) * F.var_pop(y)), F.lit(0.0)))
         .alias("r"),
    )
    # nullif: constant x => zero variance — slope undefined => NULL
    slope = F.col("cov") / F.nullif(F.col("varx"), F.lit(0.0))
    return agg.select(
        F.col("n"),
        F.round(slope, round_to).alias("slope"),
        F.round(F.col("my") - slope * F.col("mx"), round_to).alias("intercept"),
        F.round(F.col("r"), round_to).alias("r"),
    )


def _gram_aggregate(df: DataFrame, xs: list[str], y: str | None):
    """Sufficient statistics for least squares: upper triangle of
    [1,x₁..x_k]ᵀ[1,x₁..x_k] plus Xᵀy and yᵀy, fused into ONE agg over
    one scan. Returns (G, Xty, syy) — k² scalars, driver-tiny."""
    cols = ["__one"] + xs
    d = df
    for c in xs + ([y] if y else []):
        d = d.where(F.col(c).isNotNull())
    d = d.withColumn("__one", F.lit(1.0))
    aggs = []
    for i, a in enumerate(cols):
        for b in cols[i:]:
            aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"g_{a}__{b}"))
        if y:
            aggs.append(F.sum(F.col(a) * F.col(y)).alias(f"xy_{a}"))
    if y:
        aggs.append(F.sum(F.col(y) * F.col(y)).alias("yy"))
    row = d.agg(*aggs).collect()[0].asDict()
    k = len(cols)
    G = np.zeros((k, k))
    for i, a in enumerate(cols):
        for j in range(i, k):
            b = cols[j]
            G[i, j] = G[j, i] = row[f"g_{a}__{b}"]
    Xty = np.array([row[f"xy_{a}"] for a in cols]) if y else None
    syy = row["yy"] if y else None
    return G, Xty, syy


def ols_fit(df: DataFrame, xs: list[str], y: str) -> dict[str, float]:
    """Multivariate OLS via normal equations (R:1194's lm).

    One distributed pass builds XᵀX (with intercept) and Xᵀy; the
    (k+1)-dim solve happens on the driver. Returns {intercept, coef_*}.
    """
    G, Xty, _ = _gram_aggregate(df, xs, y)
    try:
        beta = np.linalg.solve(G, Xty)
    except np.linalg.LinAlgError:
        raise ValueError(
            f"ols_fit: singular normal equations — constant/collinear "
            f"feature(s) among {xs}; drop degenerate columns"
        ) from None
    out = {"intercept": float(beta[0])}
    out.update({f"coef_{c}": float(b) for c, b in zip(xs, beta[1:])})
    return out


def ols_fit_df(df: DataFrame, xs: list[str], y: str,
               round_to: int = 4) -> DataFrame:
    """`ols_fit` as a DataFrame (term, estimate) for the driver contract."""
    spark = df.sparkSession
    fit = ols_fit(df, xs, y)
    rows = [("intercept", round(fit["intercept"], round_to))]
    rows += [(f"coef_{c}", round(fit[f"coef_{c}"], round_to)) for c in xs]
    return local_df(spark, rows, "term string, estimate double")


def ridge_fit_df(df: DataFrame, xs: list[str], y: str, lam: float = 1.0,
                 round_to: int = 4) -> DataFrame:
    """Ridge regression (L2-penalized least squares), the closed-form
    companion to LASSO (R:1248's glmnet at alpha=0).

    Same one-pass sufficient statistics as OLS — the ONLY distributed
    work is the fused XᵀX / Xᵀy aggregate over one scan — then the
    driver solves (XᵀX + λI)β = Xᵀy with the intercept row/column
    unpenalized. At 100 TB the cost is identical to a single agg query;
    the k×k solve is microseconds.
    """
    G, Xty, _ = _gram_aggregate(df, xs, y)
    k = G.shape[0]
    P = np.eye(k) * lam
    P[0, 0] = 0.0  # never shrink the intercept
    beta = np.linalg.solve(G + P, Xty)
    spark = df.sparkSession
    rows = [("intercept", round(float(beta[0]), round_to))]
    rows += [(f"coef_{c}", round(float(b), round_to))
             for c, b in zip(xs, beta[1:])]
    return local_df(spark, rows, "term string, estimate double")


def eval_metrics(df: DataFrame, y_true: str, y_pred, round_to: int = 4) -> DataFrame:
    """RMSE / MAPE / R² in a single fused pass (R:1291-1315).
    ``y_pred`` may be a column name or Column expression (a model's
    scoring expression composes straight in — no materialization).
    """
    pred = F.col(y_pred) if isinstance(y_pred, str) else y_pred
    err = F.col(y_true) - pred
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(err * err).alias("mse"),
        # nullif: zero actuals / constant y would ANSI-throw — MAPE
        # excludes zero-actual rows, R2 degrades to NULL on zero SST
        F.avg(F.abs(err / F.nullif(F.col(y_true), F.lit(0.0))))
         .alias("mape"),
        F.avg(F.col(y_true)).alias("my"),
        F.sum(err * err).alias("sse"),
        F.sum(F.col(y_true) * F.col(y_true)).alias("syy"),
        F.sum(F.col(y_true)).alias("sy"),
    )
    # noise_floor (r06 ADVICE #2): a NEAR-constant response leaves the
    # cancelled SST at float-noise scale rather than exactly zero —
    # relative-epsilon guard instead of nullif(·, 0), scale = Σy²
    sst = noise_floor(F.col("syy") - F.col("sy") * F.col("sy")
                      / F.col("n"), F.col("syy"))
    return agg.select(
        F.col("n"),
        F.round(F.sqrt(F.col("mse")), round_to).alias("rmse"),
        F.round(F.col("mape"), round_to).alias("mape"),
        F.round(F.lit(1.0) - F.col("sse") / sst, round_to).alias("r2"),
    )


def stratified_split(df: DataFrame, stratum_col: str, key_col: str,
                     train_frac: float = 0.8) -> DataFrame:
    """Deterministic stratified train/test tagging (R:962-989's seeded
    per-region slice_sample).

    Instead of a seeded RNG (non-reproducible across engines), rank keys
    within each stratum and take the first ceil(frac*n) — deterministic,
    engine-portable, and expressible in ANSI SQL for the oracle. The
    window shuffle partitions by stratum only once.
    """
    from pyspark.sql import Window
    w = Window.partitionBy(stratum_col).orderBy(key_col)
    return (df.withColumn("__rn", F.row_number().over(w))
              .withColumn("__n", F.count(F.lit(1)).over(
                  Window.partitionBy(stratum_col)))
              .withColumn("split",
                          F.when(F.col("__rn") <= F.ceil(F.col("__n") * train_frac),
                                 F.lit("training")).otherwise(F.lit("test")))
              .drop("__rn", "__n"))


def pca_fit(df: DataFrame, cols: list[str], scale: bool = True):
    """PCA via covariance/correlation eigen-decomposition (R:537's
    ``prcomp(scale=TRUE)``).

    One fused agg computes the k×k second-moment matrix + means (+
    variances when scaling); driver does the k×k ``eigh``. Returns
    (eigenvalues desc, eigenvectors[:, desc], means, stds).
    """
    k = len(cols)
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.avg(c).alias(f"m_{c}") for c in cols]
    aggs += [F.stddev_samp(c).alias(f"s_{c}") for c in cols]
    for i, a in enumerate(cols):
        for b in cols[i:]:
            aggs.append(F.covar_samp(a, b).alias(f"c_{a}__{b}"))
    row = df.agg(*aggs).collect()[0].asDict()
    C = np.zeros((k, k))
    for i, a in enumerate(cols):
        for j in range(i, k):
            b = cols[j]
            C[i, j] = C[j, i] = row[f"c_{a}__{b}"]
    means = np.array([row[f"m_{c}"] for c in cols])
    stds = np.array([row[f"s_{c}"] for c in cols])
    if scale:
        zero = [c for c, sc in zip(cols, stds) if not sc or sc == 0.0]
        if zero:
            raise ValueError(f"pca_fit: zero-variance column(s) {zero} — "
                             "correlation scaling is undefined; drop them "
                             "or pass scale=False")
        C = C / np.outer(stds, stds)
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(vals)[::-1]
    return vals[order], vecs[:, order], means, stds


def pca_explained_variance(df: DataFrame, cols: list[str],
                           round_to: int = 4) -> DataFrame:
    """Explained-variance ratio per principal component (prcomp summary,
    R:538). Driver-side eigen on the aggregated correlation matrix."""
    spark = df.sparkSession
    vals, _, _, _ = pca_fit(df, cols, scale=True)
    total = float(vals.sum())
    rows = [(i + 1, round(float(v), round_to), round(float(v / total), round_to))
            for i, v in enumerate(vals)]
    return local_df(
        spark,
        rows, "component int, eigenvalue double, explained_ratio double")


def pca_project(df: DataFrame, cols: list[str], n_components: int,
                scale: bool = True, round_to: int = 6) -> DataFrame:
    """Project rows onto the top principal components (R:569's PC
    scores). The k×n_components loading matrix is a driver-side literal
    folded into a codegen'd linear expression — the projection itself is
    a pure map, no shuffle, streams at full scan speed.
    """
    vals, vecs, means, stds = pca_fit(df, cols, scale=scale)
    out = df
    for pc in range(n_components):
        expr = F.lit(0.0)
        for i, c in enumerate(cols):
            centered = (F.col(c) - float(means[i]))
            if scale:
                centered = centered / float(stds[i])
            expr = expr + centered * float(vecs[i, pc])
        out = out.withColumn(f"pc{pc + 1}", F.round(expr, round_to))
    return out


def lasso_fit(df: DataFrame, xs: list[str], y: str, lam: float = 0.1,
              n_iter: int = 200) -> dict[str, float]:
    """LASSO via coordinate descent on sufficient statistics (R:1248's
    ``cv.glmnet(alpha=1)`` capability).

    Exactly ONE distributed pass builds XᵀX / Xᵀy / means / variances;
    coordinate descent then iterates on the k×k system on the driver —
    iteration count never touches the data again, so 100 TB costs the
    same single scan as OLS. Features are standardized (glmnet default)
    and coefficients returned on the original scale.

    Rows with a NULL in ANY feature or the target are dropped first
    (listwise deletion, same as ``ols_fit``) — pairwise-deleted moment
    matrices can be non-PSD and send coordinate descent to coefficients
    that solve no actual least-squares problem.
    """
    for c in xs + [y]:
        df = df.where(F.col(c).isNotNull())
    k = len(xs)
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.avg(c).alias(f"m_{c}") for c in xs + [y]]
    aggs += [F.stddev_pop(c).alias(f"s_{c}") for c in xs]
    for i, a in enumerate(xs):
        for b in xs[i:]:
            aggs.append(F.covar_pop(a, b).alias(f"c_{a}__{b}"))
        aggs.append(F.covar_pop(a, y).alias(f"cy_{a}"))
    row = df.agg(*aggs).collect()[0].asDict()
    n = row["n"]
    s = np.array([row[f"s_{c}"] for c in xs])
    zero = [c for c, sc in zip(xs, s) if not sc or sc == 0.0]
    if zero:
        raise ValueError(f"lasso_fit: zero-variance feature(s) {zero} — "
                         "drop constant columns before standardizing")
    C = np.zeros((k, k))
    for i, a in enumerate(xs):
        for j in range(i, k):
            b = xs[j]
            C[i, j] = C[j, i] = row[f"c_{a}__{b}"]
    # correlation-scale Gram of standardized X and X'y/n
    G = C / np.outer(s, s)
    g = np.array([row[f"cy_{c}"] for c in xs]) / s
    beta = np.zeros(k)
    for _ in range(n_iter):
        for j in range(k):
            r_j = g[j] - G[j] @ beta + G[j, j] * beta[j]
            beta[j] = np.sign(r_j) * max(abs(r_j) - lam, 0.0) / G[j, j]
    coef = beta / s  # back to original scale
    intercept = row[f"m_{y}"] - sum(
        coef[i] * row[f"m_{c}"] for i, c in enumerate(xs))
    out = {"intercept": float(intercept), "n": float(n)}
    out.update({f"coef_{c}": float(b) for c, b in zip(xs, coef)})
    return out


def lasso_fit_df(df: DataFrame, xs: list[str], y: str, lam: float = 0.1,
                 round_to: int = 4) -> DataFrame:
    spark = df.sparkSession
    fit = lasso_fit(df, xs, y, lam)
    rows = [("intercept", round(fit["intercept"], round_to))]
    rows += [(f"coef_{c}", round(fit[f"coef_{c}"], round_to)) for c in xs]
    return local_df(spark, rows, "term string, estimate double")


def stepwise_aic(df: DataFrame, xs: list[str], y: str) -> DataFrame:
    """Backward stepwise selection by AIC (R:632's ``stepAIC``).

    The trick that makes this scale: EVERY candidate model's SSE is a
    submatrix solve of the SAME Gram matrix — one distributed pass
    total, then O(k³) driver algebra per step. AIC = n·ln(SSE/n) + 2p.
    """
    spark = df.sparkSession
    G, Xty, syy = _gram_aggregate(df, xs, y)  # yᵀy rides the same scan
    n = G[0, 0]

    def sse_of(subset: list[int]) -> float | None:
        # indices into [intercept] + xs; a singular submatrix
        # (constant/collinear features) makes the candidate
        # infeasible — None, never a LinAlgError or NaN leak
        idx = [0] + [i + 1 for i in subset]
        A = G[np.ix_(idx, idx)]
        b = Xty[idx]
        try:
            beta = np.linalg.solve(A, b)
        except np.linalg.LinAlgError:
            return None
        return float(syy - b @ beta)

    def aic_of(subset: list[int]) -> float | None:
        p = len(subset) + 2  # + intercept + variance
        s = sse_of(subset)
        if s is None or not np.isfinite(s) or s <= 0:
            return None  # degenerate fit: AIC undefined
        return float(n * np.log(s / n) + 2 * p)

    def lt(a: float | None, b: float | None) -> bool:
        # a < b with None treated as +inf (an undefined AIC never wins)
        return a is not None and (b is None or a < b)

    current = list(range(len(xs)))
    a0 = aic_of(current)
    history = [("<full>", round(a0, 4) if a0 is not None else None,
                len(current))]
    improved = True
    while improved and current:
        improved = False
        base = aic_of(current)
        best_drop, best_aic = None, base
        for j in current:
            cand = [i for i in current if i != j]
            a = aic_of(cand)
            if lt(a, best_aic):
                best_drop, best_aic = j, a
        if best_drop is not None:
            current = [i for i in current if i != best_drop]
            history.append((f"-{xs[best_drop]}", round(best_aic, 4),
                            len(current)))
            improved = True
    selected = ",".join(xs[i] for i in current)
    a_sel = aic_of(current)
    history.append((f"selected:{selected}",
                    round(a_sel, 4) if a_sel is not None else None,
                    len(current)))
    return local_df(
        spark, history, "step string, aic double, n_features int")


def random_forest_importance(df: DataFrame, xs: list[str], y: str,
                             n_trees: int = 20, max_depth: int = 5,
                             seed: int = 42, round_to: int = 4,
                             feature_subset: str = "onethird") -> DataFrame:
    """Random-forest regression feature importances (R:1260's
    ``randomForest``), via Spark MLlib — distributed tree induction with
    histogram-based splits (the standard scale-out RF formulation).
    Fixed seed ⇒ deterministic importances.

    ``feature_subset="all"`` turns this into BAGGED trees (ipred's
    ``bagging``, R:59): every tree sees every feature and variance comes
    only from the bootstrap.
    """
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import RandomForestRegressor
    spark = df.sparkSession
    data = df.select(*xs, y).dropna()
    vec = VectorAssembler(inputCols=xs, outputCol="features")
    model = RandomForestRegressor(
        featuresCol="features", labelCol=y, numTrees=n_trees,
        maxDepth=max_depth, seed=seed, subsamplingRate=0.8,
        featureSubsetStrategy=feature_subset,
    ).fit(vec.transform(data))
    imps = model.featureImportances.toArray()
    return local_df(
        spark,
        [(c, round(float(v), round_to)) for c, v in zip(xs, imps)],
        "feature string, importance double")


def vif_scores(df: DataFrame, cols: list[str], round_to: int = 4) -> DataFrame:
    """Variance inflation factors (R:527). VIF_j = 1/(1-R²_j) where R²_j
    regresses column j on the others. All regressions share ONE Gram
    matrix: we aggregate XᵀX once, then each R²_j is a driver-side
    submatrix solve — k solves of a (k)x(k) system, zero extra Spark
    passes.
    """
    spark = df.sparkSession
    G, _, _ = _gram_aggregate(df, cols, None)  # includes intercept row/col
    n = G[0, 0]
    out = []
    for j, c in enumerate(cols):
        yi = j + 1  # offset for intercept
        others = [0] + [i + 1 for i in range(len(cols)) if i != j]
        A = G[np.ix_(others, others)]
        b = G[np.ix_(others, [yi])].ravel()
        beta = np.linalg.solve(A, b)
        sse = G[yi, yi] - b @ beta
        sst = G[yi, yi] - G[0, yi] ** 2 / n
        r2 = 1.0 - sse / sst
        vif = 1.0 / (1.0 - r2) if r2 < 1.0 else float("inf")
        out.append((c, round(float(r2), round_to), round(float(vif), round_to)))
    return local_df(spark, out, "feature string, r2 double, vif double")


def logreg_irls(df: DataFrame, xs: list[str], y: str,
                n_iter: int = 8, round_to: int = 4,
                l2: float = 0.0) -> DataFrame:
    """Logistic regression via iteratively reweighted least squares
    (Newton-Raphson) — the GLM companion to `ols_fit` (R:740's lm
    family, extended to classification).

    Each iteration is ONE distributed aggregate: with the current beta
    folded into a column expression, p = sigmoid(xb) and w = p(1-p) are
    plain codegen arithmetic, and the pass collects the gradient
    Xt(y - p) plus the upper triangle of the Hessian XtWX —
    (k+1)(k+4)/2 scalars regardless of row count. The (k+1)-dim solve
    happens on the driver. 100 TB cost = n_iter scans, no shuffles.

    ``l2`` adds ridge regularization (gradient − l2·beta, Hessian +
    l2·I, intercept included): REQUIRED when the label is perfectly
    separable in the features (e.g. a rule-derived label regressed on
    the rule's own inputs) — unregularized IRLS then diverges to a
    singular Hessian. Default 0.0 keeps the plain-MLE behavior.
    """
    spark = df.sparkSession
    cols = ["__one"] + xs
    d = df
    for c in xs + [y]:
        d = d.where(F.col(c).isNotNull())
    d = d.withColumn("__one", F.lit(1.0)).persist()
    k = len(cols)
    beta = np.zeros(k)
    for _ in range(n_iter):
        eta = sum((F.col(c) * float(b) for c, b in zip(cols, beta)),
                  F.lit(0.0))
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
        w = p * (F.lit(1.0) - p)
        aggs = [F.sum((F.col(y) - p) * F.col(c)).alias(f"g_{i}")
                for i, c in enumerate(cols)]
        for i in range(k):
            for j in range(i, k):
                aggs.append(F.sum(w * F.col(cols[i]) * F.col(cols[j]))
                             .alias(f"h_{i}_{j}"))
        row = d.agg(*aggs).collect()[0].asDict()
        g = np.array([row[f"g_{i}"] for i in range(k)]) - l2 * beta
        H = np.zeros((k, k))
        for i in range(k):
            for j in range(i, k):
                H[i, j] = H[j, i] = row[f"h_{i}_{j}"]
        if l2:
            H = H + l2 * np.eye(k)
        try:
            beta = beta + np.linalg.solve(H, g)
        except np.linalg.LinAlgError:
            d.unpersist()
            raise ValueError(
                "logreg_irls: singular Hessian — constant/collinear "
                f"feature(s) among {xs} or a perfectly separable "
                "label; drop degenerate columns or pass l2 > 0"
            ) from None
    d.unpersist()
    rows = [("intercept", round(float(beta[0]), round_to))]
    rows += [(f"coef_{c}", round(float(b), round_to))
             for c, b in zip(xs, beta[1:])]
    return local_df(spark, rows, "term string, estimate double")


def kmeans_lloyd(df: DataFrame, vec_col: str = "embedding",
                 id_col: str = "vec_id", k: int = 8, n_iter: int = 5,
                 round_to: int = 2) -> DataFrame:
    """Full-corpus distributed Lloyd's k-means — the scale path when the
    clustering itself is the product (contrast `ivf_fit_centroids`,
    which trains a coarse quantizer on a bounded sample).

    Init is deterministic: the k lowest-id vectors. Each iteration is
    one mapInPandas pass that (a) assigns every vector to its nearest
    centroid with a single numpy GEMM per Arrow batch against the
    BROADCAST (k x dim) centroid matrix, and (b) pre-reduces within the
    batch, emitting (cell, dim-position, partial sum) rows — so the
    shuffle carries k*dim*n_batches scalars, never the corpus. Final
    pass reports per-cluster size and inertia the same way.
    """
    import pandas as pd

    spark = df.sparkSession
    src = df.select(F.col(id_col).alias("id"),
                    F.col(vec_col).cast("array<double>").alias("v"))
    init = src.orderBy("id").limit(k).collect()
    C = np.asarray([r["v"] for r in init], dtype=np.float64)
    dim = C.shape[1]

    def round_pass(Cb, with_sse):
        c2 = (Cb ** 2).sum(axis=1)

        def part(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.asarray(pdf["v"].tolist(), dtype=np.float64)
                d2 = c2[None, :] - 2.0 * (X @ Cb.T)
                a = d2.argmin(axis=1)
                out = {"cell": [], "pos": [], "s": []}
                for j in np.unique(a):
                    m = X[a == j]
                    out["cell"] += [int(j)] * (dim + 1)
                    out["pos"] += [-1] + list(range(dim))
                    sse = 0.0
                    if with_sse:
                        sse = float((d2[a == j, j] + (X[a == j] ** 2)
                                     .sum(axis=1)).sum())
                    out["s"] += [sse if with_sse else float(len(m))]
                    out["s"] += list(m.sum(axis=0))
                    if with_sse:
                        out["cell"] += [int(j)]
                        out["pos"] += [-2]
                        out["s"] += [float(len(m))]
                yield pd.DataFrame(out).astype(
                    {"cell": "int32", "pos": "int32", "s": "float64"})

        return (src.mapInPandas(part, "cell int, pos int, s double")
                   .groupBy("cell", "pos").agg(F.sum("s").alias("s"))
                   .collect())

    for _ in range(n_iter):
        parts = round_pass(C, with_sse=False)
        sums = np.zeros((k, dim))
        counts = np.zeros(k)
        for r in parts:
            if r["pos"] == -1:
                counts[r["cell"]] = r["s"]
            else:
                sums[r["cell"], r["pos"]] = r["s"]
        nz = counts > 0
        C[nz] = sums[nz] / counts[nz][:, None]

    final = round_pass(C, with_sse=True)
    sse = np.zeros(k)
    counts = np.zeros(k)
    for r in final:
        if r["pos"] == -1:
            sse[r["cell"]] = r["s"]
        elif r["pos"] == -2:
            counts[r["cell"]] = r["s"]
    rows = [(int(c), int(n), round(float(s), round_to))
            for c, n, s in zip(range(k), counts, sse)]
    return local_df(spark, rows,
                    "cluster int, n_points long, inertia double")


def kfold_cv_simple_linreg(df: DataFrame, x: str, y: str,
                           fold_expr, k: int = 5,
                           round_to: int = 4) -> DataFrame:
    """k-fold cross-validation of simple OLS — the reference's
    ``caret::trainControl(method="repeatedcv", number=5)`` loop
    (20210803_이승하.R:1085) done as set algebra, not k re-fits.

    Leave-fold-out training needs NO per-fold pass: one groupBy
    collects each fold's sufficient statistics (n, Σx, Σy, Σxx, Σxy),
    totals come from summing the k-row frame, and fold f's TRAINING
    stats are totals − fold_f — so the slope/intercept of all k models
    fall out of a single scan. A second scan joins the broadcast k-row
    coefficient frame back and aggregates held-out RMSE/MAPE/R² per
    fold. 100 TB cost: two scans, one tiny shuffle, regardless of k.

    ``fold_expr`` is any deterministic int Column in [0, k) — e.g.
    ``pmod(key, k)`` gives grouped folds that keep an order's lines
    together (no leakage across the fold boundary).
    """
    d = (df.where(F.col(x).isNotNull() & F.col(y).isNotNull())
           .withColumn("__fold", fold_expr.cast("int"))
           .select("__fold", F.col(x).alias("__x"), F.col(y).alias("__y")))
    per = d.groupBy("__fold").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("__x").alias("sx"), F.sum("__y").alias("sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("sxx"),
        F.sum(F.col("__x") * F.col("__y")).alias("sxy"))
    tot = per.agg(F.sum("n").alias("tn"), F.sum("sx").alias("tsx"),
                  F.sum("sy").alias("tsy"), F.sum("sxx").alias("tsxx"),
                  F.sum("sxy").alias("tsxy"))
    tr_n = F.col("tn") - F.col("n")
    tr_sx = F.col("tsx") - F.col("sx")
    tr_sy = F.col("tsy") - F.col("sy")
    tr_sxx = F.col("tsxx") - F.col("sxx")
    tr_sxy = F.col("tsxy") - F.col("sxy")
    # nullif: a single-fold corpus zeroes the training size and a
    # constant x zeroes the training Sxx — the fold fit is undefined
    # => NULL coefficients, never an ANSI job abort
    trn = F.nullif(tr_n, F.lit(0.0))
    slope = ((tr_sxy - tr_sx * tr_sy / trn)
             / F.nullif(tr_sxx - tr_sx * tr_sx / trn, F.lit(0.0)))
    coefs = (per.crossJoin(F.broadcast(tot))
                .select("__fold", slope.alias("__b"),
                        ((tr_sy - slope * tr_sx) / trn).alias("__a")))
    err = F.col("__y") - (F.col("__a") + F.col("__b") * F.col("__x"))
    out = (d.join(F.broadcast(coefs), "__fold")
            .groupBy("__fold")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.first("__b").alias("slope_raw"),
                 F.first("__a").alias("intercept_raw"),
                 F.avg(err * err).alias("mse"),
                 # nullif: a zero response would ANSI-throw; standard
                 # MAPE practice excludes zero-actual rows
                 F.avg(F.abs(err / F.nullif(F.col("__y"), F.lit(0.0))))
                  .alias("mape_raw"),
                 F.sum(err * err).alias("sse"),
                 F.sum(F.col("__y") * F.col("__y")).alias("syy"),
                 F.sum("__y").alias("sy")))
    # noise_floor (r06 ADVICE #2): near-constant per-fold response —
    # see eval_metrics; scale = per-fold Σy²
    sst = noise_floor(F.col("syy") - F.col("sy") * F.col("sy")
                      / F.col("n"), F.col("syy"))
    return (out.select(
        F.col("__fold").alias("fold"), "n",
        F.round("slope_raw", round_to).alias("slope"),
        F.round("intercept_raw", round_to).alias("intercept"),
        F.round(F.sqrt("mse"), round_to).alias("rmse"),
        F.round("mape_raw", round_to).alias("mape"),
        # + 0.0 canonicalizes IEEE -0.0 (a hair-negative R² rounds to
        # negative zero, which value-hash compares unequal to 0.0)
        (F.round(F.lit(1.0) - F.col("sse") / sst, round_to)
         + F.lit(0.0)).alias("r2"))
        .orderBy("fold"))


def gbt_importance(df: DataFrame, xs: list[str], y: str,
                   n_trees: int = 15, max_depth: int = 4,
                   seed: int = 42, round_to: int = 4) -> DataFrame:
    """Gradient-boosted-tree feature importances via MLlib GBTRegressor
    (the reference loads xgboost at R:57; MLlib GBT is the Spark-native
    boosted-tree implementation — distributed histogram splits, same
    scale story as `random_forest_importance`)."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import GBTRegressor
    spark = df.sparkSession
    data = df.select(*xs, y).dropna()
    vec = VectorAssembler(inputCols=xs, outputCol="features")
    model = GBTRegressor(
        featuresCol="features", labelCol=y, maxIter=n_trees,
        maxDepth=max_depth, seed=seed, stepSize=0.1,
    ).fit(vec.transform(data))
    imps = model.featureImportances.toArray()
    return local_df(
        spark,
        [(c, round(float(v), round_to)) for c, v in zip(xs, imps)],
        "feature string, importance double")


def _irls_line(df: DataFrame, x: str, y: str, make_weight,
               n_iter: int, round_to: int) -> DataFrame:
    """Shared IRLS engine for the robust line fits (Huber, LAD): each
    iteration is ONE fused 5-sum weighted-least-squares aggregate (no
    shuffle; 100 TB cost = (n_iter+1) scans). ``make_weight(b0, b1)``
    returns the weight Column for the current coefficients (None on
    the OLS warm start). Coefficients round to 6 dp between iterations
    so the unrolled SQL oracles score with identical decimal
    constants."""
    spark = df.sparkSession
    d = df.where(F.col(x).isNotNull() & F.col(y).isNotNull()).persist()
    if d.limit(2).count() < 2:  # a line needs two points
        d.unpersist()
        return local_df(
            spark,
            [("intercept", None), (f"coef_{x}", None)],
            "term string, estimate double")
    b0 = b1 = None
    for it in range(n_iter + 1):
        w = F.lit(1.0) if it == 0 else make_weight(b0, b1)
        row = d.agg(F.sum(w).alias("sw"),
                    F.sum(w * F.col(x)).alias("swx"),
                    F.sum(w * F.col(y)).alias("swy"),
                    F.sum(w * F.col(x) * F.col(x)).alias("swxx"),
                    F.sum(w * F.col(x) * F.col(y)).alias("swxy")
                    ).collect()[0]
        denom = row.sw * row.swxx - row.swx * row.swx
        if denom == 0.0:  # constant-x input: match the oracle's NULL
            d.unpersist()  # propagation instead of ZeroDivisionError
            return local_df(
                spark,
                [("intercept", None), (f"coef_{x}", None)],
                "term string, estimate double")
        slope = (row.sw * row.swxy - row.swx * row.swy) / denom
        b1 = round(slope, 6)
        b0 = round((row.swy - b1 * row.swx) / row.sw, 6)
    d.unpersist()
    return local_df(
        spark,
        [("intercept", round(b0, round_to)),
         (f"coef_{x}", round(b1, round_to))],
        "term string, estimate double")


def huber_fit_df(df: DataFrame, x: str, y: str, delta: float = 1000.0,
                 n_iter: int = 2, round_to: int = 4) -> DataFrame:
    """Huber M-estimator line via IRLS (Huber 1964, public; the robust
    companion to `simple_linreg` — the reference's lm family, R:1194,
    made outlier-resistant). The Huber weight min(1, δ/|r|) is
    CONTINUOUS in r, so engine last-ulp residual differences cannot
    flip a weight discontinuously. Determinism contract and scale
    shape in `_irls_line`; oracle = oracles.huber_sql.
    """
    def weight(b0, b1):
        r = F.abs(F.col(y) - (F.lit(b0) + F.lit(b1) * F.col(x)))
        return F.when(r <= delta, F.lit(1.0)).otherwise(delta / r)
    return _irls_line(df, x, y, weight, n_iter, round_to)


def lad_fit_df(df: DataFrame, x: str, y: str, eps: float = 1.0,
               n_iter: int = 2, round_to: int = 4) -> DataFrame:
    """LAD (median) regression via IRLS (Koenker-Bassett 1978, public):
    weight 1/max(|r|, eps) re-targets the squared-error solve at
    absolute error. The max() branch compares |r| built from identical
    6-dp decimal coefficients on both engines, so the branch decision
    is engine-stable. Same per-iteration cost and oracle contract as
    `huber_fit_df` (oracle = oracles.lad_sql).
    """
    def weight(b0, b1):
        r = F.abs(F.col(y) - (F.lit(b0) + F.lit(b1) * F.col(x)))
        return F.lit(1.0) / F.greatest(r, F.lit(eps))
    return _irls_line(df, x, y, weight, n_iter, round_to)


def poisson_glm_df(df: DataFrame, xs: list[str], y: str, n_iter: int = 3,
                   round_to: int = 4) -> DataFrame:
    """Poisson regression (log link) via IRLS — the count-data GLM
    (Nelder-Wedderburn 1972, public), completing the family next to
    `ols_fit` and `logreg_irls`.

    Each iteration is ONE fused aggregate: with the current β folded
    into codegen, μ = exp(Xβ) and the weighted Gram XᵀWX (W = diag μ)
    plus the working response XᵀWz = Σx(μη + y − μ) are
    (k+1)(k+4)/2 scalars per scan. Determinism contract with the
    unrolled SQL oracle (oracles.poisson_glm_sql): β is rounded to
    6 dp between iterations and μ to 6 dp inside each scan, so both
    engines aggregate identical per-row values; the driver's numpy
    solve and the oracle's Cramer solve then agree within the 6-dp
    round. Init: intercept = round(ln ȳ, 6), slopes 0.
    """
    cols = ["__one"] + xs
    d = df
    for c in xs + [y]:
        d = d.where(F.col(c).isNotNull())
    d = d.withColumn("__one", F.lit(1.0))
    k = len(cols)
    spark = df.sparkSession
    ybar = d.agg(F.avg(y).alias("m")).collect()[0]["m"]
    if ybar is None or ybar <= 0:  # empty input or degenerate counts
        rows = [("intercept", None)] + [(f"coef_{c}", None) for c in xs]
        return local_df(spark, rows, "term string, estimate double")
    beta = [round(float(np.log(ybar)), 6)] + [0.0] * (k - 1)
    for _ in range(n_iter):
        eta = F.lit(beta[0])
        for c, b in zip(cols[1:], beta[1:]):
            eta = eta + F.lit(b) * F.col(c)
        mu = F.round(F.exp(eta), 6)
        aggs = []
        for i in range(k):
            for j in range(i, k):
                aggs.append(F.sum(mu * F.col(cols[i]) * F.col(cols[j]))
                            .alias(f"h_{i}_{j}"))
            aggs.append(F.sum(F.col(cols[i])
                              * (mu * eta + F.col(y) - mu))
                        .alias(f"r_{i}"))
        row = d.agg(*aggs).collect()[0].asDict()
        H = np.zeros((k, k))
        for i in range(k):
            for j in range(i, k):
                H[i, j] = H[j, i] = row[f"h_{i}_{j}"]
        rhs = np.array([row[f"r_{i}"] for i in range(k)])
        try:
            beta = [round(float(b), 6) for b in np.linalg.solve(H, rhs)]
        except np.linalg.LinAlgError:
            # singular Gram (collinear xs): the oracle's Cramer solve
            # divides by a zero determinant and yields NULL — mirror it
            rows = ([("intercept", None)]
                    + [(f"coef_{c}", None) for c in xs])
            return local_df(
                spark, rows, "term string, estimate double")
    rows = [("intercept", round(beta[0], round_to))]
    rows += [(f"coef_{c}", round(b, round_to))
             for c, b in zip(xs, beta[1:])]
    return local_df(spark, rows, "term string, estimate double")


def lsa_singular_values(df: DataFrame, text_col: str = "text",
                        vocab_size: int = 50, top_k: int = 10,
                        round_to: int = 4) -> DataFrame:
    """Count-based LSA: singular values of the PPMI co-occurrence
    matrix (Deerwester 1990 / Levy-Goldberg 2014, public) — the
    classic pre-neural embedding trainer, reported via its
    sign-ambiguity-free spectrum.

    Distributed work = ONE tokenize pass feeding adjacent-bigram and
    unigram counts (vocabulary-width shuffle, the bigram_pmi shape).
    The matrix is capped at the top ``vocab_size`` tokens by frequency
    (integer-deterministic tie-break on the token), so the driver-side
    PPMI assembly and SVD are vocab²-bounded regardless of corpus
    size — the PCA/IVF contract. PPMI entries are rounded to 6 dp
    before the SVD so the matrix (hence the spectrum) is identical
    across execution geometries; symmetrized with fixed (+) order.
    """
    spark = df.sparkSession
    toks_arr = F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]",
                                " ")), r"\s+")
    base = df.select(toks_arr.alias("__toks")).persist()
    uni = (base.select(F.explode("__toks").alias("tok"))
               .groupBy("tok").agg(F.count(F.lit(1)).alias("n")))
    top = (uni.orderBy(F.col("n").desc(), F.col("tok").asc())
              .limit(vocab_size).collect())
    vocab = {r["tok"]: i for i, r in enumerate(
        sorted(top, key=lambda r: r["tok"]))}
    bigrams = F.expr(
        "CASE WHEN size(__toks) >= 2 THEN "
        "transform(sequence(1, size(__toks) - 1), "
        "i -> struct(element_at(__toks, i) AS w1, "
        "element_at(__toks, i + 1) AS w2)) "
        "ELSE CAST(array() AS array<struct<w1:string,w2:string>>) END")
    vocab_keys = list(vocab)
    bg = (base.select(F.explode_outer(bigrams).alias("p"))
              .where(F.col("p.w1").isin(vocab_keys)
                     & F.col("p.w2").isin(vocab_keys))
              .groupBy("p.w1", "p.w2")
              .agg(F.count(F.lit(1)).alias("n"))
              .collect())
    base.unpersist()
    V = len(vocab)
    C = np.zeros((V, V))
    for r in bg:  # symmetrize in one fixed order: C += M + M.T entry-wise
        C[vocab[r["w1"]], vocab[r["w2"]]] += r["n"]
    C = C + C.T
    N = C.sum()
    M = np.zeros((V, V))
    if N > 0:
        totals = C.sum(axis=1)
        for i in range(V):
            for j in range(V):
                if C[i, j] > 0 and totals[i] > 0 and totals[j] > 0:
                    pmi = np.log(C[i, j] * N / (totals[i] * totals[j]))
                    M[i, j] = round(max(0.0, float(pmi)), 6)
    sv = np.linalg.svd(M, compute_uv=False)
    tot = float(sv.sum()) or 1.0
    rows = [(i + 1, round(float(s), round_to),
             round(float(s) / tot, round_to))
            for i, s in enumerate(sv[:top_k])]
    return local_df(
        spark, rows, "rank int, singular_value double, explained_ratio double")


def gmm_em_1d(df: DataFrame, x: str, n_iter: int = 3,
              round_to: int = 4) -> DataFrame:
    """Two-component 1-D Gaussian mixture via EM (Dempster 1977,
    public) — the unsupervised-density companion to k-means. Each EM
    step is ONE fused aggregate: with the current 6-dp parameters
    folded into codegen, the responsibility r(x) and the six weighted
    moments (Σr, Σrx, Σrx², and the complements) are plain column
    arithmetic — no per-row Python, 100 TB cost = n_iter scans.

    Determinism contract (oracles.gmm_em_sql): init = moment split
    (μ ∓ σ), every parameter rounds to 6 dp between iterations, and σ
    is computed from the ROUNDED mean, so both engines fold identical
    decimal constants into each scan.
    """
    import math
    spark = df.sparkSession
    d = df.where(F.col(x).isNotNull()).persist()
    base = d.agg(F.count(F.lit(1)).alias("n"), F.avg(x).alias("m"),
                 F.stddev_samp(x).alias("s")).collect()[0]
    if not base.n or base.s is None or base.s == 0:
        d.unpersist()
        rows = [(k, None, None, None) for k in (1, 2)]
        return local_df(
            spark,
            rows, "component int, weight double, mean double, std double")
    p1 = 0.5
    mu1, mu2 = round(base.m - base.s, 6), round(base.m + base.s, 6)
    s1 = s2 = round(base.s, 6)
    for _ in range(n_iter):
        xx = F.col(x)
        d1 = (F.lit(p1) / F.lit(s1)) * F.exp(
            -((xx - mu1) * (xx - mu1)) / F.lit(2.0 * s1 * s1))
        d2 = (F.lit(1.0 - p1) / F.lit(s2)) * F.exp(
            -((xx - mu2) * (xx - mu2)) / F.lit(2.0 * s2 * s2))
        # per-row 9-dp rounding makes the responsibilities decimal-
        # identical across engines (exp() last-ulp differences would
        # otherwise accumulate through the Σr sums and occasionally
        # flip a 6-dp parameter round — observed once at sf0.001)
        r = F.round(d1 / (d1 + d2), 9)
        row = d.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(r).alias("sr"),
            F.sum(r * xx).alias("srx"),
            F.sum(r * xx * xx).alias("srx2"),
            F.sum((1 - r) * xx).alias("scx"),
            F.sum((1 - r) * xx * xx).alias("scx2")).collect()[0]
        sc = row.n - row.sr
        if row.sr == 0.0 or sc == 0.0:
            # a component's responsibility mass collapsed — the oracle
            # CTE would propagate NULL; mirror it instead of raising
            d.unpersist()
            rows = [(k, None, None, None) for k in (1, 2)]
            return local_df(
                spark,
                rows,
                "component int, weight double, mean double, std double")
        p1 = round(row.sr / row.n, 6)
        mu1 = round(row.srx / row.sr, 6)
        mu2 = round(row.scx / sc, 6)
        # math.sqrt, not ** 0.5: pow(x, 0.5) is not guaranteed the
        # correctly-rounded sqrt the oracle's sqrt() computes
        s1 = round(math.sqrt(max(row.srx2 / row.sr - mu1 * mu1, 1e-12)), 6)
        s2 = round(math.sqrt(max(row.scx2 / sc - mu2 * mu2, 1e-12)), 6)
    d.unpersist()
    rows = [(1, round(p1, round_to), round(mu1, round_to),
             round(s1, round_to)),
            (2, round(1.0 - p1, round_to), round(mu2, round_to),
             round(s2, round_to))]
    return local_df(
        spark, rows, "component int, weight double, mean double, std double")


def lda_two_class_df(df: DataFrame, xs: list[str], label: str,
                     class_a, class_b, round_to: int = 6) -> DataFrame:
    """Fisher two-class linear discriminant (Fisher 1936, public):
    w ∝ Sw⁻¹(μ_a − μ_b) from ONE fused per-class sufficient-statistics
    aggregate (n, Σx, Σxᵢxⱼ per class — the `_gram_aggregate`
    discipline), tiny k×k solve on the driver. The direction is
    normalized to unit length; its sign is canonical because
    w·(μ_a − μ_b) = dᵀSw⁻¹d > 0 for any PD Sw — no convention needed.
    Also returns the Mahalanobis separation sqrt(dᵀSw⁻¹d).
    100 TB cost = one map-side-combined scan; nothing on the driver
    scales with rows. Oracle: unrolled Cramer via oracles.sql_det.
    """
    spark = df.sparkSession
    k = len(xs)
    d = df.where(F.col(label).isin([class_a, class_b]))
    isa = (F.col(label) == class_a).cast("double")
    isb = 1.0 - isa
    aggs = [F.sum(isa).alias("na"), F.sum(isb).alias("nb")]
    for i, a in enumerate(xs):
        aggs.append(F.sum(isa * F.col(a)).alias(f"sa_{i}"))
        aggs.append(F.sum(isb * F.col(a)).alias(f"sb_{i}"))
        for j, b in enumerate(xs[i:], start=i):
            aggs.append(F.sum(isa * F.col(a) * F.col(b))
                        .alias(f"pa_{i}_{j}"))
            aggs.append(F.sum(isb * F.col(a) * F.col(b))
                        .alias(f"pb_{i}_{j}"))
    row = d.agg(*aggs).collect()[0].asDict()
    na, nb = row["na"], row["nb"]
    schema = ", ".join(f"{n} double"
                       for n in ["n_a", "n_b",
                                 *[f"w_{c}" for c in xs],
                                 "mahalanobis_sep"])
    # degenerate input (an absent class, or n_a+n_b <= 2 leaving Sw
    # undefined) mirrors the oracle's NULL propagation — same contract
    # as _irls_line / poisson_glm_df / gmm_em_1d
    if not na or not nb or (na + nb) <= 2:
        return local_df(
            spark,
            [(float(na or 0), float(nb or 0), *([None] * (k + 1)))], schema)
    import numpy as np
    Sw = np.zeros((k, k))
    dvec = np.zeros(k)
    for i in range(k):
        dvec[i] = row[f"sa_{i}"] / na - row[f"sb_{i}"] / nb
        for j in range(i, k):
            Sw[i, j] = Sw[j, i] = (
                (row[f"pa_{i}_{j}"] - row[f"sa_{i}"] * row[f"sa_{j}"] / na)
                + (row[f"pb_{i}_{j}"] - row[f"sb_{i}"] * row[f"sb_{j}"] / nb)
            ) / (na + nb - 2)
    try:
        w = np.linalg.solve(Sw, dvec)
    except np.linalg.LinAlgError:
        # singular within-class scatter (constant/collinear features):
        # NULL-valued direction, counts still reported
        return local_df(
            spark, [(float(na), float(nb), *([None] * (k + 1)))], schema)
    sep = float(np.sqrt(w @ dvec))
    wn = w / np.linalg.norm(w)
    return local_df(
        spark,
        [(float(na), float(nb),
          *[round(float(v), round_to) for v in wn],
          round(sep, 4))], schema)


def quantile_fit_df(df: DataFrame, x: str, y: str, tau: float = 0.9,
                    eps: float = 1.0, n_iter: int = 2,
                    round_to: int = 4) -> DataFrame:
    """Quantile regression at level τ via IRLS (Koenker-Bassett 1978's
    check-loss, public): weight |τ − 1(r<0)| / max(|r|, ε) re-targets
    the squared-error solve at the τ-th conditional quantile —
    `lad_fit_df` is the τ=0.5 special case. Both the sign branch and
    the max() branch compare r built from identical 6-dp decimal
    coefficients, so branch decisions are engine-stable. Same cost and
    oracle contract as `lad_fit_df`.
    """
    def weight(b0, b1):
        r = F.col(y) - (F.lit(b0) + F.lit(b1) * F.col(x))
        a = F.when(r >= 0, F.lit(tau)).otherwise(F.lit(1.0 - tau))
        return a / F.greatest(F.abs(r), F.lit(eps))
    return _irls_line(df, x, y, weight, n_iter, round_to)
