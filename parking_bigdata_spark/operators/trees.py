"""Deterministic distributed tree ensembles (random forest / bagged
trees / gradient boosting) — the Spark-first re-expression of the
reference's tree models (``randomForest`` at R:1260, ``xgboost`` at
R:57, ``ipred::bagging`` at R:59 in 20210803_이승하.R).

Why not MLlib here: MLlib's tree induction seeds its bootstrap from
the PARTITION index, so importances move when the file layout does —
they can never pass the expected-parquet determinism audit
(scripts/check_expected.py re-runs every oracle query under a
different core/shuffle geometry). This engine is partition-independent
BY CONSTRUCTION, in the sufficient-statistics style the repo uses
everywhere:

- **Integer statistics.** Features and target are scaled to integer
  fixed-point (2-decimal money/ratio columns → exact ×100 longs).
  Every distributed aggregate is then a sum of integers — associative,
  so bit-identical under ANY partitioning (the float-sum ulp drift
  that makes near-tie splits geometry-dependent cannot occur). Sums
  of squares ride in DECIMAL(38,0) (exact, no int64 overflow at
  100 TB row counts).
- **Hash-based bootstrap.** Each (row, tree) draws a Poisson(1)
  weight from ``xxhash64(id, tree_seed)`` through an integer inverse-
  CDF — a function of the DATA, not the partition (MLlib's
  per-partition Poisson streams are exactly what broke determinism).
- **Deterministic feature subsetting** per (tree, node) via md5 on
  the driver (mtry = ⌈k/3⌉ for RF; all k = bagged trees).
- **Histogram cube.** ONE distributed aggregation collapses the
  corpus to the bin-tuple cube: groupBy(__b0..__bk) with per-tree
  (Σw_t, Σw_t·y) sums — map-side combine into ≤ n_bins^k groups, so
  the shuffle and the driver collect are bounded by the BIN GEOMETRY,
  never the row count. Every split statistic any tree at any depth
  will ever need is a sum over cube groups (node membership is a
  function of the bin columns alone), so the whole level-synchronous
  induction then runs driver-side on the tiny cube with exact Python
  integers and Fraction split compares (cross-multiplied rational
  scores — no float argmax ties at all). The first cut re-scanned the
  fact table once per depth level with a trees×features explode; the
  cube replaces depth × O(rows·trees·mtry) explode volume with one
  O(rows·trees) aggregation — the bagged-trees fit dropped 168 s →
  ~6 s on the 20× stress set with bit-identical output.
- **Codegen scoring.** A fitted forest renders to nested CASE
  expressions (bin lookup + per-tree leaf CASE), so prediction is
  whole-stage-codegen'd JVM arithmetic — no UDF, no model broadcast.

At 100 TB: the plan is scan → project(bins + hash weights) → partial
agg (≤ n_bins^k keys) → one tiny shuffle → driver induction on the
cube. One pass over the data per forest; boosting reuses the SAME
cube for every round (residual sums update per-group on the driver,
since each tree's contribution is constant within a bin group).
"""

from __future__ import annotations

import hashlib
from fractions import Fraction

from pyspark.sql import Column, DataFrame, functions as F

from parking_bigdata_spark.io import local_df

# Poisson(1) inverse CDF on a 1e6 integer grid: P(X<=k)·1e6, exact
# thresholds so every engine run derives identical weights.
_POISSON_CDF_1E6 = [367879, 735759, 919699, 981012, 996340, 999406,
                    999917, 999990, 999999]


def _poisson_weight(key: Column, seed: int) -> Column:
    """Deterministic Poisson(1) bootstrap weight for (row ``key``,
    tree ``seed``): uniform int in [0, 1e6) from xxhash64, then
    inverse CDF. Partition-independent by construction."""
    u = F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(1_000_000))
    w: Column = F.lit(len(_POISSON_CDF_1E6))
    for k in range(len(_POISSON_CDF_1E6) - 1, -1, -1):
        w = F.when(u < _POISSON_CDF_1E6[k], F.lit(k)).otherwise(w)
    return w


def _mtry(tree: int, level: int, feats: list[int], m: int,
          seed: int) -> list[int]:
    """Deterministic feature subset for one (tree, level): the m
    features with the smallest md5(seed:tree:level:feat) digest.
    hashlib, not hash() — stable across interpreter runs. Level-wise
    (every node of a tree-level shares the subset) so each level's
    histogram pass emits only the subset's facts — a k/m cut in
    explode volume; the cross-tree subsets still decorrelate trees,
    which is what the Breiman subsampling is for."""
    ranked = sorted(
        feats,
        key=lambda f: hashlib.md5(
            f"{seed}:{tree}:{level}:{f}".encode()).hexdigest())
    return sorted(ranked[:m])


class _Node:
    __slots__ = ("feature", "bin_thr", "value_int", "gain")

    def __init__(self):
        self.feature: int | None = None   # split feature index
        self.bin_thr: int | None = None   # go left iff bin <= bin_thr
        self.value_int: int | None = None # leaf value, fixed-point int
        self.gain: int = 0                # scaled variance reduction


def _ensure_parallel(df: DataFrame) -> DataFrame:
    """The cube projection (one hash-weight CASE chain per tree per
    row) is the fit's hot loop; a single-row-group input file would
    run it on ONE task (profiled: 4.5 of 5.8 s at sf0.1 in one
    scan task). Repartition ONLY when the scan's task count is far
    below the session's parallelism — at production scale inputs
    shard by row-group and this is a no-op (no added shuffle).
    Safe for determinism: weights hash row CONTENT, and the cube sums
    are associative, so outputs are partition-independent
    (geometry-audited by scripts/check_expected.py)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() * 4 < target:
        return df.repartition(target)
    return df


def _collect_cube(binned: DataFrame, n_trees: int, n_feats: int,
                  y_col: str = "__y"):
    """ONE distributed aggregation: collapse the binned frame to the
    bin-tuple cube carrying exact per-tree (Σw_t, Σw_t·y) sums.
    Map-side combine bounds the shuffle AND the driver collect by
    n_bins^k groups — independent of row count. wy sums ride in
    DECIMAL(38,0) so they cannot overflow int64 at 100 TB row counts;
    they land driver-side as exact Python ints."""
    aggs = []
    for t in range(n_trees):
        aggs.append(F.sum(F.col(f"__w{t}")).alias(f"w{t}"))
        aggs.append(F.sum((F.col(f"__w{t}") * F.col(y_col))
                          .cast("decimal(38,0)")).alias(f"wy{t}"))
    rows = (binned.groupBy(*[f"__b{i}" for i in range(n_feats)])
                  .agg(*aggs).collect())
    bins = [tuple(int(r[f"__b{i}"]) for i in range(n_feats))
            for r in rows]
    w = [[int(r[f"w{t}"]) for t in range(n_trees)] for r in rows]
    wy = [[int(r[f"wy{t}"]) for t in range(n_trees)] for r in rows]
    return bins, w, wy


def _fit_forest_cube(bins: list[tuple], w: list[list[int]],
                     wy: list[list[int]], n_feats: int, n_bins: int, *,
                     n_trees: int, max_depth: int, seed: int, mtry: int,
                     min_leaf: int = 2) -> list[dict[int, _Node]]:
    """Grow ``n_trees`` histogram trees level-synchronously over the
    collected cube (driver-side, exact integer arithmetic).

    Returns one {node_id: _Node} dict per tree (root = 0, children of
    ``i`` are ``2i+1`` / ``2i+2``). Node membership per cube group is
    a pure function of the group's bin tuple, so the per-tree
    ``assign`` array descends one level after each split round;
    ``-1`` marks groups parked in finalized leaves (skipped). All
    split decisions are exact integer/rational arithmetic on summed
    cube entries — bit-identical to the distributed-histogram first
    cut, under ANY input partitioning."""
    trees: list[dict[int, _Node]] = [dict() for _ in range(n_trees)]
    n_groups = len(bins)
    assign = [[0] * n_groups for _ in range(n_trees)]
    for depth in range(max_depth):
        last = depth == max_depth - 1
        level_mtry = {t: _mtry(t, depth, list(range(n_feats)), mtry,
                               seed) for t in range(n_trees)}
        # hist[(t, nid)][f][b] = [n, s1]; on the last level no split
        # will be scored, so a single leaf-stat cell suffices
        hist: dict[tuple[int, int], list] = {}
        for i in range(n_groups):
            bi, wi, wyi = bins[i], w[i], wy[i]
            for t in range(n_trees):
                nid = assign[t][i]
                if nid < 0:
                    continue
                wt = wi[t]
                if wt == 0:
                    continue
                h = hist.get((t, nid))
                if h is None:
                    if last:
                        h = [[[0, 0]]]
                    else:
                        h = [[[0, 0] for _ in range(n_bins)]
                             for _ in range(n_feats)]
                    hist[(t, nid)] = h
                if last:
                    cell = h[0][0]
                    cell[0] += wt
                    cell[1] += wyi[t]
                else:
                    for f_idx in level_mtry[t]:
                        cell = h[f_idx][bi[f_idx]]
                        cell[0] += wt
                        cell[1] += wyi[t]

        any_split = False
        new_splits: dict[int, dict[int, _Node]] = {}
        for (t, nid), feat_hists in sorted(hist.items()):
            node = _Node()
            h0 = feat_hists[0 if last else level_mtry[t][0]]
            n_tot = sum(c[0] for c in h0)
            s1_tot = sum(c[1] for c in h0)
            node.value_int = _round_div(s1_tot, n_tot)
            best = None  # (score Fraction, feat, bin_thr)
            if n_tot >= 2 * min_leaf and not last:
                base = Fraction(s1_tot * s1_tot, n_tot)
                for f_idx in level_mtry[t]:
                    nl = s1l = 0
                    hf = feat_hists[f_idx]
                    for b in range(n_bins - 1):
                        nl += hf[b][0]
                        s1l += hf[b][1]
                        nr, s1r = n_tot - nl, s1_tot - s1l
                        if nl < min_leaf or nr < min_leaf:
                            continue
                        score = (Fraction(s1l * s1l, nl)
                                 + Fraction(s1r * s1r, nr))
                        if score <= base:
                            continue  # no variance reduction
                        # deterministic tie-break: higher score, then
                        # smaller feature index, then smaller bin
                        if best is None or score > best[0]:
                            best = (score, f_idx, b)
            if best is not None:
                node.feature, node.bin_thr = best[1], best[2]
                # gain = SSE drop numerator, kept exact via Fraction
                node.gain = best[0] - Fraction(s1_tot * s1_tot, n_tot)
                any_split = True
                new_splits.setdefault(t, {})[nid] = node
            trees[t][nid] = node
        # descend one level: split groups follow their bin compare,
        # groups in nodes that became leaves park at -1
        for t in range(n_trees):
            splits = new_splits.get(t, {})
            at = assign[t]
            for i in range(n_groups):
                nid = at[i]
                if nid < 0:
                    continue
                node = splits.get(nid)
                if node is None:
                    at[i] = -1
                elif bins[i][node.feature] <= node.bin_thr:
                    at[i] = 2 * nid + 1
                else:
                    at[i] = 2 * nid + 2
        if not any_split:
            break
    return trees


def _leaf_int(tree: dict[int, _Node], bins_i: tuple) -> int:
    """Driver-side twin of ``_leaf_case``: walk one tree for one bin
    tuple and return the leaf value (fixed-point int), inheriting the
    nearest ancestor value for unreachable empty nodes — EXACTLY the
    codegen CASE's semantics, so GBT residual updates computed on the
    cube match what the rendered scoring expression would produce."""
    nid = 0
    while True:
        node = tree.get(nid)
        if node is None or node.feature is None:
            anc = nid
            src = tree.get(anc)
            # bounded at the root: an EMPTY tree (possible when a
            # degenerate corpus collapses the hash-bootstrap draws to
            # one shared weight that lands 0) must raise, not spin
            # forever at anc = -1 (observed nontermination)
            while (src is None or src.value_int is None) and anc > 0:
                anc = (anc - 1) // 2
                src = tree.get(anc)
            if src is None or src.value_int is None:
                raise ValueError("empty tree has no leaf value — "
                                 "callers must skip unfitted trees")
            return src.value_int
        nid = (2 * nid + 1 if bins_i[node.feature] <= node.bin_thr
               else 2 * nid + 2)


def _round_div(a: int, b: int) -> int:
    """Exact round-half-away-from-zero integer division (leaf means
    in fixed-point units) — no float involved."""
    if b == 0:
        return 0
    q, r = divmod(abs(a), b)
    q += 1 if 2 * r >= b else 0
    return q if a >= 0 else -q


def _leaf_case(tree: dict[int, _Node], leaf_val) -> Column:
    """Render one fitted tree as a nested bin-compare CASE returning
    ``leaf_val(node)`` (a Column per leaf) — pure codegen scoring."""
    def walk(nid: int, depth: int) -> Column:
        node = tree.get(nid)
        if node is None or node.feature is None:
            src = tree.get(nid)
            # unreachable empty node: inherit nearest ancestor value.
            # Bounded at the root — an EMPTY tree would otherwise spin
            # forever at anc = -1 (observed nontermination on a
            # degenerate corpus whose collapsed hash-bootstrap left
            # some trees with zero total weight)
            anc = nid
            while (src is None or src.value_int is None) and anc > 0:
                anc = (anc - 1) // 2
                src = tree.get(anc)
            if src is None or src.value_int is None:
                raise ValueError("empty tree has no leaf value — "
                                 "callers must skip unfitted trees")
            return leaf_val(src)
        return F.when(F.col(f"__b{node.feature}") <= F.lit(node.bin_thr),
                      walk(2 * nid + 1, depth + 1)) \
                .otherwise(walk(2 * nid + 2, depth + 1))
    return walk(0, 0)


def _bin_cols(df: DataFrame, xs: list[str], edges: list[tuple[int, int]],
              n_bins: int, scale: int) -> DataFrame:
    """Add integer bin columns ``__b{i}``: pure-integer equi-width
    binning over fixed-point values — exact, so bin membership cannot
    drift between train and score passes."""
    for i, (c, (lo, hi)) in enumerate(zip(xs, edges)):
        v = F.round(F.col(c) * scale).cast("long")
        rng = max(hi - lo + 1, 1)
        num = (v - F.lit(lo)) * F.lit(n_bins)
        # EXACT integer division (num - num%rng is divisible, so the
        # double divide is exact) — a true float divide could round a
        # hair above an integer boundary and shift a bin
        b = ((num - F.pmod(num, F.lit(rng))) / F.lit(rng)).cast("int")
        df = df.withColumn(
            f"__b{i}",
            F.least(F.greatest(b, F.lit(0)), F.lit(n_bins - 1)))
    return df


def _feature_edges(df: DataFrame, xs: list[str],
                   scale: int) -> list[tuple[int, int]]:
    aggs = []
    for c in xs:
        v = F.round(F.col(c) * scale).cast("long")
        aggs += [F.min(v).alias(f"lo_{c}"), F.max(v).alias(f"hi_{c}")]
    r = df.agg(*aggs).collect()[0]
    return [(r[f"lo_{c}"], r[f"hi_{c}"]) for c in xs]


class ForestModel:
    """Fitted deterministic forest: driver-side tree dicts plus the
    binning metadata needed to score new rows with codegen CASEs."""

    def __init__(self, trees, xs, edges, n_bins, scale, kind,
                 base_int: int = 0):
        self.trees, self.xs, self.edges = trees, xs, edges
        self.n_bins, self.scale, self.kind = n_bins, scale, kind
        self.base_int = base_int  # gbt F0 (global mean, fixed-point)

    def predict_col(self) -> Column:
        """Prediction as a pure Column over the ``__b*`` bin columns
        (call `_bin_cols` first): mean of leaf values for rf/bagged
        (fixed-point → currency), base + sum of shrunken contributions
        for gbt."""
        # unfitted (empty) trees — possible only on degenerate corpora
        # whose collapsed hash-bootstrap zeroes a tree's total weight —
        # carry no information and are excluded from the ensemble
        live = [t for t in self.trees if t]
        if self.kind == "gbt":
            total = F.lit(self.base_int).cast("long")
            for tree in live:
                total = total + _leaf_case(
                    tree, lambda nd: F.lit(nd.value_int).cast("long"))
            return total.cast("double") / F.lit(float(self.scale))
        if not live:
            return F.lit(None).cast("double")
        total = F.lit(0).cast("long")
        for tree in live:
            total = total + _leaf_case(
                tree, lambda nd: F.lit(nd.value_int).cast("long"))
        return total.cast("double") / F.lit(float(len(live)
                                                  * self.scale))

    def importances(self, round_to: int = 4) -> list[tuple[str, float]]:
        """Gain-based importances, normalized to sum 1. Gains are
        exact Fractions summed exactly; only the final normalized
        ratio touches floats (deterministic: one float op per
        feature on identical rationals)."""
        gains = [Fraction(0)] * len(self.xs)
        for tree in self.trees:
            for node in tree.values():
                if node.feature is not None:
                    gains[node.feature] += node.gain
        total = sum(gains)
        if total == 0:
            return [(c, 0.0) for c in self.xs]
        return [(c, round(float(g / total), round_to))
                for c, g in zip(self.xs, gains)]


def fit_random_forest(df: DataFrame, xs: list[str], y: str, *,
                      n_trees: int = 10, max_depth: int = 4,
                      n_bins: int = 32, seed: int = 42,
                      scale: int = 100,
                      feature_subset: str = "onethird") -> ForestModel:
    """Deterministic RF / bagged trees (``feature_subset="all"``).
    ``scale`` is the fixed-point multiplier — 100 makes 2-decimal
    money/ratio columns exact integers. One edge-scan + one cube
    aggregation total; induction is driver-side on the cube."""
    assert n_bins ** len(xs) <= 2_000_000, \
        "bin cube too large to collect — lower n_bins or feature count"
    data = df.select(*xs, y).dropna()
    edges = _feature_edges(data, xs, scale)
    binned = _bin_cols(data, xs, edges, n_bins, scale).withColumn(
        "__y", F.round(F.col(y) * scale).cast("long"))
    # row identity for the bootstrap hash: the full feature+target
    # tuple (works for any frame; duplicate rows draw identical
    # weights, which is fine — weights need only be deterministic).
    # Hashed ONCE to a long, then each tree re-hashes the long.
    binned = binned.withColumn(
        "__k", F.xxhash64(F.concat_ws(
            "\x1f", *[F.col(c).cast("string") for c in [*xs, y]])))
    # exchange BEFORE the weight projection so the heavy CASE chains
    # run at full parallelism even on a single-row-group input
    binned = _ensure_parallel(binned)
    for t in range(n_trees):
        binned = binned.withColumn(
            f"__w{t}", _poisson_weight(F.col("__k"), seed + t))
    k = len(xs)
    bins, w, wy = _collect_cube(binned, n_trees, k)
    mtry = k if feature_subset == "all" else max(1, (k + 2) // 3)
    trees = _fit_forest_cube(bins, w, wy, k, n_bins, n_trees=n_trees,
                             max_depth=max_depth, seed=seed, mtry=mtry)
    return ForestModel(trees, xs, edges, n_bins, scale, "rf")


def fit_gbt(df: DataFrame, xs: list[str], y: str, *, n_trees: int = 5,
            max_depth: int = 3, n_bins: int = 32, seed: int = 42,
            scale: int = 100, shrinkage: Fraction = Fraction(1, 10),
            ) -> ForestModel:
    """Deterministic gradient boosting (squared loss): F0 is the
    exact-integer global mean, then each round fits one full-data tree
    (weight 1 — boosting's variance control is the shrinkage, not a
    bootstrap) to the current INTEGER residuals and subtracts the
    shrunken leaf contribution exactly.

    Every round reuses the SAME cube: a tree's contribution is a
    function of the bin tuple, so the per-group residual sum updates
    exactly on the driver (Σw·r ← Σw·r − leaf(bins)·Σw) — the data is
    scanned ONCE for the whole boosting run. Residuals stay fixed-
    point ints throughout, so determinism survives every round
    (contributions are rationally rounded driver-side to integers).
    """
    assert n_bins ** len(xs) <= 2_000_000, \
        "bin cube too large to collect — lower n_bins or feature count"
    data = df.select(*xs, y).dropna()
    edges = _feature_edges(data, xs, scale)
    binned = _bin_cols(data, xs, edges, n_bins, scale).withColumn(
        "__y", F.round(F.col(y) * scale).cast("long")) \
        .withColumn("__w0", F.lit(1))
    binned = _ensure_parallel(binned)
    k = len(xs)
    bins, w, wy = _collect_cube(binned, 1, k)
    n_total = sum(wi[0] for wi in w)
    s1_total = sum(wyi[0] for wyi in wy)
    base_int = _round_div(s1_total, n_total) if n_total else 0
    # per-group residual sums: Σw·r = Σw·y − base·Σw, then minus each
    # fitted tree's (constant-within-group) shrunken contribution
    wr = [[wy[i][0] - base_int * w[i][0]] for i in range(len(bins))]
    all_trees: list[dict[int, _Node]] = []
    for t in range(n_trees):
        trees = _fit_forest_cube(bins, w, wr, k, n_bins, n_trees=1,
                                 max_depth=max_depth, seed=seed + t,
                                 mtry=k)
        tree = trees[0]
        # shrink leaf values exactly: v <- round(shrinkage * v)
        for node in tree.values():
            if node.value_int is not None:
                node.value_int = _round_div(
                    node.value_int * shrinkage.numerator,
                    shrinkage.denominator)
        all_trees.append(tree)
        if not tree:
            continue  # unfitted round: zero contribution, no residual
        for i in range(len(bins)):
            wr[i][0] -= _leaf_int(tree, bins[i]) * w[i][0]
    return ForestModel(all_trees, xs, edges, n_bins, scale, "gbt",
                       base_int=base_int)


def importance_df(model: ForestModel, spark) -> DataFrame:
    return local_df(
        spark, model.importances(), "feature string, importance double")


def score_df(model: ForestModel, df: DataFrame, key_cols: list[str],
             y: str, round_to: int = 4) -> DataFrame:
    """Score ``df`` with a fitted model: per-row prediction/residual
    frame (the reference's submission output, R:1280-1373) — binning
    uses the TRAIN edges, scoring is one codegen projection."""
    d = df
    for c in [*model.xs, y]:
        d = d.where(F.col(c).isNotNull())
    d = _bin_cols(d, model.xs, model.edges, model.n_bins, model.scale)
    pred = model.predict_col()
    return d.select(
        *key_cols, F.col(y).alias("actual"),
        F.round(pred, round_to).alias("predicted"),
        F.round(F.col(y) - pred, round_to).alias("residual"))
