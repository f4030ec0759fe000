"""Query registry — a_stats2 module (split from a_stats.py to keep
modules under the 3k-line bar; A97+ sections). The ``QUERIES`` dict
at the end pairs every builder here with its DuckDB oracle."""


from __future__ import annotations

import os

import pandas as pd  # noqa: F401

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import oracles
from ..io import clean_sentinel_numeric, load_table, local_df
from ..operators import clean, features, ml, profile, stats, temporal
from ..operators import dedup as dedup_ops
from ..operators import trees as trees_ops
from ..operators import similarity as sim_ops
from ..operators import text as text_ops

from .a_core import _DESCRIBE_COLS  # noqa: E501


# --------------------------------------------------------------------------
# A97. Cochran-Armitage trend test (public, 1954/55): is the fraction
# of finished orders monotonically associated with the ordered
# priority level? Scores = the priority's leading digit (1-URGENT …
# 5-LOW). One contingency aggregate; every input to the z statistic is
# an integer count, so the result is engine-exact.
# --------------------------------------------------------------------------

def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = F.substring("o_orderpriority", 1, 1).cast("long")
    fin = (F.col("o_orderstatus") == "F").cast("long")
    agg = o.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(fin).alias("__r"),
        F.sum(w).alias("__swn"),
        F.sum(w * w).alias("__swwn"),
        F.sum(w * fin).alias("__t"))
    n, r = F.col("__n"), F.col("__r")
    pbar = r / n
    t, swn, swwn = F.col("__t"), F.col("__swn"), F.col("__swwn")
    # 1.0 * promotes BEFORE the square: swn² overflows BIGINT at
    # ~1e9 orders while the double is exact to 2^53 (code-review r02)
    # nullif: a single-class / single-priority corpus zeroes the
    # trend variance — z undefined => NULL, never an ANSI abort
    var = pbar * (1 - pbar) * (swwn - (1.0 * swn) * swn / n)
    return agg.select(
        n.alias("n_orders"), r.alias("n_finished"),
        F.round(pbar, 4).alias("p_finished"),
        F.round((t - pbar * swn) / F.nullif(F.sqrt(var), F.lit(0.0)), 4)
         .alias("z_trend"))

COCHRAN_ARMITAGE_SQL = """
WITH f AS (
  SELECT count(*) AS n,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS r,
         CAST(sum(CAST(substr(o_orderpriority, 1, 1) AS BIGINT))
              AS BIGINT) AS swn,
         CAST(sum(CAST(substr(o_orderpriority, 1, 1) AS BIGINT)
                  * CAST(substr(o_orderpriority, 1, 1) AS BIGINT))
              AS BIGINT) AS swwn,
         CAST(sum(CASE WHEN o_orderstatus = 'F'
                       THEN CAST(substr(o_orderpriority, 1, 1) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS t
  FROM orders
)
SELECT n AS n_orders, r AS n_finished,
       round(CAST(r AS DOUBLE) / n, 4) AS p_finished,
       round((t - (CAST(r AS DOUBLE) / n) * swn)
             / nullif(sqrt((CAST(r AS DOUBLE) / n)
                    * (1 - CAST(r AS DOUBLE) / n)
                    * (swwn - CAST(swn AS DOUBLE) * swn / n)), 0), 4)
         AS z_trend
FROM f
"""


# --------------------------------------------------------------------------
# A98. Skyline / Pareto frontier per brand (Börzsönyi et al. 2001,
# public): parts not dominated on (lower price, larger size) within
# their brand. After a distinct on (brand, price, size), the frontier
# test is ONE partitioned window — sort (price asc, size desc), keep
# rows whose size strictly exceeds the running max over PRECEDING rows
# — linear, no all-pairs dominance join, partitioned by brand so no
# global sort at any scale. Exact integer/decimal comparisons.
# --------------------------------------------------------------------------

def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (load_table(spark, sf_dir, "part")
         .select("p_brand", "p_retailprice", "p_size")
         .distinct())
    w = (Window.partitionBy("p_brand")
               .orderBy(F.col("p_retailprice").asc(), F.col("p_size").desc())
               .rowsBetween(Window.unboundedPreceding, -1))
    return (p.withColumn("__mx", F.max("p_size").over(w))
             .where(F.col("__mx").isNull()
                    | (F.col("p_size") > F.col("__mx")))
             .select("p_brand", "p_retailprice", "p_size"))

PARETO_SQL = """
WITH d AS (
  SELECT DISTINCT p_brand, p_retailprice, p_size FROM part
), m AS (
  SELECT p_brand, p_retailprice, p_size,
         max(p_size) OVER (PARTITION BY p_brand
                           ORDER BY p_retailprice ASC, p_size DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS mx
  FROM d
)
SELECT p_brand, p_retailprice, p_size
FROM m WHERE mx IS NULL OR p_size > mx
"""


# --------------------------------------------------------------------------
# A99. Incremental aggregate maintenance: the monthly revenue rollup
# kept fresh by MERGING a delta partition's partial aggregate into the
# base partial aggregate — never rescanning the base fact (the
# materialized-view maintenance pattern; complements A75's row-level
# MERGE upsert). Money sums are exact DECIMAL, so partial + partial
# == full recompute BIT-EXACTLY — which is precisely what the direct
# single-pass oracle asserts. At 100 TB the base branch reads only the
# stored agg (here recomputed from the < cutoff partition to stay
# self-contained); the delta branch scans only the new partition.
# --------------------------------------------------------------------------

def incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import money
    # NULL dates are excluded on BOTH sides (the </>= split would
    # silently drop them while an unfiltered oracle groups them into a
    # NULL month — ADVICE r02 latent-drift fix)
    o = (load_table(spark, sf_dir, "orders")
         .where(F.col("o_orderdate").isNotNull()))
    month = F.date_format("o_orderdate", "yyyy-MM")
    cutoff = F.lit("1997-07-01").cast("date")
    partial = lambda d: (d.groupBy(month.alias("month"))
                          .agg(F.count(F.lit(1)).alias("n_orders"),
                               F.sum(money("o_totalprice")).alias("__rev")))
    base = partial(o.where(F.col("o_orderdate") < cutoff))
    delta = partial(o.where(F.col("o_orderdate") >= cutoff))
    return (base.unionAll(delta)
                .groupBy("month")
                .agg(F.sum("n_orders").alias("n_orders"),
                     F.round(F.sum("__rev").cast("double"), 2)
                      .alias("revenue")))

INCREMENTAL_AGG_SQL = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS revenue
FROM orders
WHERE o_orderdate IS NOT NULL
GROUP BY 1
"""


# --------------------------------------------------------------------------
# A100. Isotonic (monotone) regression of mean price on quantity via
# the MINIMAX characterization fit_k = max_{i≤k} min_{j≥k} wavg(i..j)
# (Barlow et al. 1972, public) — NOT iterative PAVA, so it has a real
# ANSI-SQL oracle. Scale design: the fact collapses to one row per
# integer quantity FIRST (one shuffle, ≤50 groups); the O(n³) minimax
# runs on that calendar-of-quantities-bounded series with broadcast
# self-joins — never on raw rows. Group means are rounded to 6 dp so
# both engines pool identical decimal inputs.
# --------------------------------------------------------------------------

def isotonic_price_by_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    g = (li.where(F.col("l_quantity").isNotNull()
                  & F.col("l_extendedprice").isNotNull())
           .groupBy(F.col("l_quantity").cast("int").alias("q"))
           .agg(F.round(F.avg("l_extendedprice"), 6).alias("ybar"),
                F.count(F.lit(1)).alias("w")))
    a, b, m = g.alias("a"), g.alias("b"), g.alias("m")
    ranges = (a.join(F.broadcast(b), F.col("b.q") >= F.col("a.q"))
               .select(F.col("a.q").alias("i"), F.col("b.q").alias("j"))
               .join(F.broadcast(m), (F.col("m.q") >= F.col("i"))
                                     & (F.col("m.q") <= F.col("j")))
               .groupBy("i", "j")
               .agg((F.sum(F.col("m.w") * F.col("m.ybar"))
                     / F.sum(F.col("m.w"))).alias("wavg")))
    k = g.select(F.col("q").alias("k"))
    inner = (ranges.join(F.broadcast(k), (F.col("i") <= F.col("k"))
                                         & (F.col("k") <= F.col("j")))
                   .groupBy("k", "i")
                   .agg(F.min("wavg").alias("__mn")))
    return (inner.groupBy("k")
                 .agg(F.round(F.max("__mn"), 4).alias("isotonic_fit"))
                 .select(F.col("k").alias("q"), "isotonic_fit"))

ISOTONIC_SQL = """
WITH g AS (
  SELECT CAST(l_quantity AS INT) AS q,
         round(avg(l_extendedprice), 6) AS ybar,
         count(*) AS w
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
  GROUP BY 1
), ranges AS (
  SELECT a.q AS i, b.q AS j,
         sum(m.w * m.ybar) / sum(m.w) AS wavg
  FROM g a JOIN g b ON b.q >= a.q
  JOIN g m ON m.q >= a.q AND m.q <= b.q
  GROUP BY 1, 2
), inner_min AS (
  SELECT k.q AS k, r.i, min(r.wavg) AS mn
  FROM ranges r JOIN g k ON r.i <= k.q AND k.q <= r.j
  GROUP BY 1, 2
)
SELECT k AS q, round(max(mn), 4) AS isotonic_fit
FROM inner_min GROUP BY 1
"""


# --------------------------------------------------------------------------
# A101. LAD (median / quantile) regression via IRLS — minimizing
# absolute error instead of squared error (Koenker-Bassett 1978,
# public), completing the robust family next to A95's Huber. Same
# one-fused-aggregate-per-iteration shape and the same 6-dp
# inter-iteration coefficient rounding contract with the unrolled SQL
# oracle; the weight 1/max(|r|, eps) branches on |r| computed from
# identical decimal coefficients, so both engines take the same branch.
# --------------------------------------------------------------------------

def lad_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return ml.lad_fit_df(li, "l_quantity", "l_extendedprice",
                         eps=1.0, n_iter=2)

LAD_SQL = oracles.lad_sql("l_quantity", "l_extendedprice",
                          eps=1.0, n_iter=2)


# --------------------------------------------------------------------------
# A102. ROC-AUC (+ Gini) of order value as a classifier score for
# finished orders — the rank formulation AUC = (R⁺ − n⁺(n⁺+1)/2) /
# (n⁺·n⁻) (Hanley-McNeil 1982, public; the Mann-Whitney identity).
# Same scale machinery as A18f: tie-averaged ranks on the DISTINCT
# value table via range-partitioned cumulative windows — never a
# per-row global sort.
# --------------------------------------------------------------------------

def roc_auc_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (load_table(spark, sf_dir, "orders")
         .select((F.col("o_orderstatus") == "F").cast("int").alias("pos"),
                 "o_totalprice"))
    vals = (o.groupBy("o_totalprice").agg(F.count(F.lit(1)).alias("t"))
             .localCheckpoint(eager=True))
    ranked = stats.tie_avg_ranks(vals, "o_totalprice", "t")
    per = (o.groupBy("pos", "o_totalprice")
            .agg(F.count(F.lit(1)).alias("n_vg")))
    grp = (per.join(ranked.select("o_totalprice", "avg_rank"),
                    "o_totalprice")
              .groupBy("pos")
              .agg(F.sum(F.col("avg_rank") * F.col("n_vg")).alias("rg"),
                   F.sum("n_vg").alias("ng")))
    gp = grp.where(F.col("pos") == 1).select(F.col("rg").alias("rp"),
                                             F.col("ng").alias("np"))
    gn = grp.where(F.col("pos") == 0).select(F.col("ng").alias("nn"))
    # promote before the products: np² / np·nn overflow BIGINT at
    # ~3e9 rows while doubles stay exact to 2^53 (code-review r02)
    np_d = F.col("np").cast("double")
    auc = ((F.col("rp") - np_d * (np_d + 1) / F.lit(2.0))
           / (np_d * F.col("nn")))
    return (gp.crossJoin(gn)
              .select(F.col("np").cast("long").alias("n_pos"),
                      F.col("nn").cast("long").alias("n_neg"),
                      F.round(auc, 4).alias("auc"),
                      F.round(2 * auc - 1, 4).alias("gini")))

ROC_AUC_SQL = """
WITH o AS (
  SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos,
         o_totalprice
  FROM orders
), vals AS (
  SELECT o_totalprice, count(*) AS t FROM o GROUP BY 1
), ranked AS (
  SELECT o_totalprice, t,
         sum(t) OVER (ORDER BY o_totalprice
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM vals
), r2 AS (
  SELECT o_totalprice, cum - t + (t + 1) / 2.0 AS avg_rank FROM ranked
), per AS (
  SELECT pos, o_totalprice, count(*) AS n_vg FROM o GROUP BY 1, 2
), grp AS (
  SELECT pos, sum(avg_rank * n_vg) AS rg,
         CAST(sum(n_vg) AS BIGINT) AS ng
  FROM per JOIN r2 USING (o_totalprice) GROUP BY 1
), gp AS (SELECT rg AS rp, ng AS np FROM grp WHERE pos = 1),
gn AS (SELECT ng AS nn FROM grp WHERE pos = 0)
SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
       round((rp - np * (np + 1) / 2.0) / CAST(np * nn AS DOUBLE), 4)
         AS auc,
       round(2 * ((rp - np * (np + 1) / 2.0) / CAST(np * nn AS DOUBLE))
             - 1, 4) AS gini
FROM gp, gn
"""


# --------------------------------------------------------------------------
# A103. Out-of-fold target encoding (leakage-safe categorical
# encoding; public — e.g. Micci-Barreca 2001 + the standard K-fold
# variant): each (segment, fold) cell is encoded with the target mean
# computed on the OTHER folds via set algebra — totals minus own-fold
# — from ONE distributed aggregate over (segment, fold). Money sums
# are exact DECIMAL so the subtraction is engine-exact.
# --------------------------------------------------------------------------

def target_encode_mktsegment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import money
    c = load_table(spark, sf_dir, "customer")
    fold = F.pmod(F.col("c_custkey"), F.lit(5))
    cell = (c.where(F.col("c_acctbal").isNotNull())
             .groupBy(F.col("c_mktsegment").alias("segment"),
                      fold.alias("fold"))
             .agg(F.sum(money("c_acctbal")).alias("__s"),
                  F.count(F.lit(1)).alias("__n")))
    tot = (cell.groupBy("segment")
               .agg(F.sum("__s").alias("__st"),
                    F.sum("__n").alias("__nt")))
    return (cell.join(tot, "segment")
                .select("segment", "fold",
                        F.round(((F.col("__st") - F.col("__s"))
                                 / (F.col("__nt") - F.col("__n")))
                                .cast("double"), 4)
                         .alias("oof_target_mean"),
                        F.col("__n").alias("n_rows"))
                .orderBy("segment", "fold"))

TARGET_ENCODE_SQL = """
WITH cell AS (
  SELECT c_mktsegment AS segment, c_custkey % 5 AS fold,
         sum(CAST(c_acctbal AS DECIMAL(18,2))) AS s,
         count(*) AS n
  FROM customer WHERE c_acctbal IS NOT NULL
  GROUP BY 1, 2
), tot AS (
  SELECT segment, sum(s) AS st, CAST(sum(n) AS BIGINT) AS nt
  FROM cell GROUP BY 1
)
SELECT cell.segment, cell.fold,
       round(CAST((tot.st - cell.s) AS DOUBLE) / (tot.nt - cell.n), 4)
         AS oof_target_mean,
       cell.n AS n_rows
FROM cell JOIN tot ON tot.segment = cell.segment
ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# A104. Catalog-wide data profile: one row per (table, column) with
# row/null/distinct counts across ALL ten tables — the data-catalog /
# discovery utility generalizing A7's single-table describe.
#
# Plan shape (optimization round 11, VERDICT r10 #1 — scan count is
# the 100 TB decision metric, not local[32] wall-clock): one Spark job
# per TABLE per batch of SPARK_GRAFT_CATALOG_FUSE columns (default 4),
# fusing each batch's distinct aggregates into one multi-distinct
# aggregate. Catalyst's RewriteDistinctAggregates plans k fused
# countDistincts as ONE scan + Expand(k+1) feeding a partial aggregate
# keyed by (gid, c1..ck): each column's values are deduplicated
# map-side exactly as the old per-column jobs were, so SHUFFLED BYTES
# ARE UNCHANGED (each column's per-partition distinct set crosses the
# wire once either way) while the table is scanned once per BATCH —
# 17 scans where the r02-judged pooled design paid 49 column-pruned
# scans (each re-listing footers and re-counting n_rows). The
# Expand's (k+1)x row replication is in-memory work BETWEEN scan and
# partial agg and never reaches the shuffle. Jobs are submitted
# concurrently from a thread pool. The oracle SQL is GENERATED from
# the same column dictionary, so the two sides cannot drift.
#
# Why a batch width instead of one all-columns job per table: the
# partial-agg hash map keys widen with the fuse width (every group
# row carries all k fused columns, k-1 of them null) and holds all k
# columns' distinct sets at once — measured at sf0.1 on lineitem
# (11 cols): width 11 = 3.24 s, 6 = 1.69 s, 4 = 0.96 s, per-column =
# 0.60 s; interleaved catalog-wide A/B best-of-3: per-column 0.86 s,
# width 4 = 1.04 s, width 6 = 1.75 s. Width 4 is the knee: scans
# 49 -> 17, actions 49 -> 17 (jobs 158 -> ~60: AQE materializes each
# fused action as 3 jobs and the 10 per-table schema reads are
# fixed), wall within 0.2 s of the per-column design, and per-task
# aggregation state bounded at any table width. Env-tunable for
# catalogs whose scan-vs-CPU tradeoff differs — at 100 TB, where a
# scan is hours of I/O and the Expand CPU is amortized across
# executors, RAISE it.
#
# At 100 TB: exact distincts stay viable under this shape (a handful
# of scans per table + value-bounded shuffles); `catalog_profile_approx`
# below is the HLL variant for catalogs where even that is too much
# I/O — its sketches run as ONE regular-aggregate job per table (one
# scan, no Expand; an HLL buffer must never ride a multi-distinct's
# per-group state — ~12 KB per DISTINCT VALUE at rsd 0.01, gigabytes
# on a key column; measured 53 s at sf0.1 in the old per-column
# audit jobs that fused countDistinct+HLL).
# --------------------------------------------------------------------------

_CATALOG_COLUMNS: dict[str, list[str]] = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size",
             "p_retailprice"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"],
    "events": ["event_id", "ts", "user_id", "event_type", "value"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "label"],
}


def _catalog_fuse_width() -> int:
    """Columns fused per per-table profile job (see the A104 plan-shape
    note); stats._parse_acc supplies the shared defensive env-int
    parse (a typo'd value degrades to the default, never crashes an
    import)."""
    return stats._parse_acc(os.environ.get("SPARK_GRAFT_CATALOG_FUSE"),
                            default=4, name="SPARK_GRAFT_CATALOG_FUSE")


def _profile_columns(df: DataFrame, table: str, cols: list[str],
                     distinct_agg) -> list[tuple]:
    """One per-table profile job: count(*) + per-column count + ONE
    distinct-style aggregate per column, all fused into a single
    aggregate (one scan; multi-distinct plans as Expand + partial agg,
    each column's shuffle still bounded by its distinct values).
    Returns one row per column."""
    aggs = [F.count(F.lit(1)).alias("__nr")]
    for c in cols:
        aggs += [F.count(c).alias(f"__c_{c}"),
                 distinct_agg(c).alias(f"__d_{c}")]
    r = df.agg(*aggs).collect()[0]
    return [(table, c, r["__nr"], r["__nr"] - r[f"__c_{c}"],
             r[f"__d_{c}"]) for c in cols]


_CATALOG_BASE_SCHEMA = ("table_name string, column_name string, "
                        "n_rows long, n_nulls long")


def _catalog_pool_rows(spark: SparkSession, sf_dir: str, batch_fn,
                       schema: str, width: int | None = None) -> DataFrame:
    """Shared scaffolding for every catalog-profile variant: one
    batch_fn(df, table, cols) job per table per ``width``-column batch
    (``None`` = all of the table's columns in one batch — the
    Expand-free variants have no reason to split), all submitted
    concurrently from a thread pool (Spark interleaves their
    independent stages across executor slots). Row order —
    (table, column) in dictionary order — is identical to the old
    per-column pool's."""
    from concurrent.futures import ThreadPoolExecutor
    dfs = {t: load_table(spark, sf_dir, t) for t in _CATALOG_COLUMNS}
    jobs = [(t, cols[i:i + w])
            for t, cols in _CATALOG_COLUMNS.items()
            for w in (width or len(cols),)
            for i in range(0, len(cols), w)]
    with ThreadPoolExecutor(max_workers=min(16, len(jobs))) as pool:
        per_batch = list(pool.map(
            lambda tb: batch_fn(dfs[tb[0]], tb[0], tb[1]), jobs))
    rows = [row for batch in per_batch for row in batch]
    return local_df(spark, rows, schema)


def _catalog_profile_rows(spark: SparkSession, sf_dir: str,
                          distinct_agg,
                          width: int | None = None) -> DataFrame:
    return _catalog_pool_rows(
        spark, sf_dir,
        lambda df, t, cols: _profile_columns(df, t, cols, distinct_agg),
        _CATALOG_BASE_SCHEMA + ", n_distinct long", width=width)


def catalog_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _catalog_profile_rows(spark, sf_dir, F.countDistinct,
                                 width=_catalog_fuse_width())


def catalog_profile_approx_detail(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """HLL variant (rsd 0.05): identical output shape with
    ``n_distinct`` replaced by the approx_count_distinct estimate.
    Engine-specific estimates (DuckDB's approx HLL differs), so this
    detail form is the 100 TB product shape while the registered
    ``catalog_profile_approx`` below carries the driver-checkable
    bound-as-oracle contract. At 100 TB this is the catalog default:
    ONE pass per table (HLLs are regular aggregates — no Expand, so
    no fuse-width batching), mergeable HLL state, no value-sized
    shuffle at all."""
    return (_catalog_profile_rows(spark, sf_dir, F.approx_count_distinct)
            .withColumnRenamed("n_distinct", "n_distinct_approx"))


def _catalog_hll_estimates(spark: SparkSession, sf_dir: str) -> dict:
    """(table, column) -> rsd-0.01 HLL estimate, ONE regular-aggregate
    job per table (one scan, all columns' sketches fused). The
    sketches must NEVER share a job with an exact multi-distinct: an
    HLL buffer rides EVERY group of the Expand's partial aggregate —
    ~12 KB per DISTINCT VALUE at rsd 0.01, gigabytes of aggregation
    state on a key column (measured 53 s at sf0.1 for the old
    per-column jobs that fused countDistinct+HLL, vs ~2 s split)."""
    from concurrent.futures import ThreadPoolExecutor
    dfs = {t: load_table(spark, sf_dir, t) for t in _CATALOG_COLUMNS}

    def one_table(tc):
        t, cols = tc
        r = dfs[t].agg(*[F.approx_count_distinct(c, 0.01).alias(f"__a_{c}")
                         for c in cols]).collect()[0]
        return {(t, c): r[f"__a_{c}"] for c in cols}

    out: dict = {}
    items = list(_CATALOG_COLUMNS.items())
    with ThreadPoolExecutor(max_workers=min(16, len(items))) as pool:
        for d in pool.map(one_table, items):
            out.update(d)
    return out


def catalog_profile_approx(spark: SparkSession, sf_dir: str, *,
                           audit: bool = True) -> DataFrame:
    """A104b bound-as-oracle form (VERDICT r07 #1, the B31
    sketch_hll_union pattern): raw HLL estimates are engine-specific
    (DuckDB's approx_count_distinct is a different implementation), so
    the registered query no longer emits them — it emits the EXACT
    distinct count as an audit column plus the in-band boolean
    |est − exact| ≤ 5%·exact. At rsd 0.01 the band is 5σ, so an
    in-spec sketch can essentially never fail it while a broken one
    always does; DuckDB recomputes the exact side and asserts the
    boolean as TRUE. At 100 TB the exact audit is dropped and
    ``audit=False`` (== ``catalog_profile_approx_detail``) is the
    product — both paths share the `_catalog_pool_rows` scaffolding
    and `_CATALOG_COLUMNS` dictionary, so the column inventory cannot
    drift between tiers.

    Job shape (optimization round 11): the HLL estimates run FIRST as
    one regular-aggregate job per table (`_catalog_hll_estimates` —
    see its buffer-blowup note), then the exact side rides the same
    fused multi-distinct batches as `catalog_profile`; the in-band
    boolean joins the two driver-side. Each HLL estimate and exact
    count is bit-identical to its old solo job's (fusing regular
    aggregates never changes per-aggregate inputs).

    SNAPSHOT SEMANTICS: the sketch and exact sides of each boolean now
    run in SEPARATE jobs at construction time — on a table mutated
    between the two passes the band compares different data versions
    (the old fused job was per-column snapshot-consistent; note that
    even it read different snapshots across columns). Profile static
    data, or a snapshot-isolated table format, when the band must be
    audit-grade."""
    if not audit:
        return catalog_profile_approx_detail(spark, sf_dir)
    hll = _catalog_hll_estimates(spark, sf_dir)

    def batch(df, t, cols):
        rows = _profile_columns(df, t, cols, F.countDistinct)
        return [(t2, c, nr, nulls, d,
                 bool(abs(hll[(t2, c)] - d) <= 0.05 * d) or d == 0)
                for (t2, c, nr, nulls, d) in rows]

    return _catalog_pool_rows(
        spark, sf_dir, batch,
        _CATALOG_BASE_SCHEMA
        + ", n_distinct_exact long, hll_within_5pct boolean",
        width=_catalog_fuse_width())

def _catalog_sql(distinct_alias: str, extra: str = "") -> str:
    """Both catalog oracles are GENERATED from the same column
    dictionary (so the Spark and DuckDB sides cannot drift), differing
    only in the distinct column's alias and the bound-as-oracle twin's
    TRUE in-band literal."""
    selects = []
    for t, cols in _CATALOG_COLUMNS.items():
        for c in cols:
            selects.append(
                f"SELECT '{t}' AS table_name, '{c}' AS column_name,\n"
                f"       (SELECT count(*) FROM {t}) AS n_rows,\n"
                f"       (SELECT count(*) - count({c}) FROM {t})"
                f" AS n_nulls,\n"
                f"       (SELECT count(DISTINCT {c}) FROM {t})"
                f" AS {distinct_alias}" + extra)
    return "\nUNION ALL\n".join(selects)


CATALOG_PROFILE_SQL = _catalog_sql("n_distinct")
CATALOG_PROFILE_APPROX_SQL = _catalog_sql(
    "n_distinct_exact", ",\n       TRUE AS hll_within_5pct")


# --------------------------------------------------------------------------
# A107. k-anonymity audit (Sweeney 2002, public): how identifiable are
# customers under the quasi-identifier (nation, segment, balance
# band)? Reports group-size distribution and the share of customers
# in groups smaller than k ∈ {2, 5, 10}. Two aggregates (QI groups →
# size histogram); integer-exact.
# --------------------------------------------------------------------------

def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000)
    g = (c.groupBy(F.col("c_nationkey").alias("qi_nation"),
                   F.col("c_mktsegment").alias("qi_segment"),
                   band.alias("qi_band"))
          .agg(F.count(F.lit(1)).alias("sz")))
    tot = F.sum("sz")
    below = lambda k: F.sum(F.when(F.col("sz") < k, F.col("sz"))
                            .otherwise(F.lit(0)))
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        tot.alias("n_customers"),
        F.min("sz").alias("min_group_size"),
        F.round(below(2) / tot, 4).alias("share_below_k2"),
        F.round(below(5) / tot, 4).alias("share_below_k5"),
        F.round(below(10) / tot, 4).alias("share_below_k10"))

K_ANON_SQL = """
WITH g AS (
  SELECT c_nationkey, c_mktsegment, floor(c_acctbal / 1000) AS band,
         count(*) AS sz
  FROM customer GROUP BY 1, 2, 3
)
SELECT count(*) AS n_groups,
       CAST(sum(sz) AS BIGINT) AS n_customers,
       CAST(min(sz) AS BIGINT) AS min_group_size,
       round(CAST(sum(CASE WHEN sz < 2 THEN sz ELSE 0 END) AS DOUBLE)
             / sum(sz), 4) AS share_below_k2,
       round(CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS DOUBLE)
             / sum(sz), 4) AS share_below_k5,
       round(CAST(sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS DOUBLE)
             / sum(sz), 4) AS share_below_k10
FROM g
"""


# --------------------------------------------------------------------------
# A108. Difference-in-differences (public; e.g. Card-Krueger 1994):
# URGENT vs LOW order value, pre/post a fixed cutoff — the four cell
# means in ONE conditional aggregate, DiD = (T,post−T,pre) −
# (C,post−C,pre), with the large-sample SE from per-cell variances.
# Money means are exact DECIMAL sums over integer counts.
# --------------------------------------------------------------------------

def diff_in_diff_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import money
    o = (load_table(spark, sf_dir, "orders")
         .where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
                & F.col("o_orderdate").isNotNull()))
    t = (F.col("o_orderpriority") == "1-URGENT")
    post = F.col("o_orderdate") >= F.lit("1996-01-01").cast("date")
    cells = []
    for tag, cond in (("t_post", t & post), ("t_pre", t & ~post),
                      ("c_post", ~t & post), ("c_pre", ~t & ~post)):
        cells += [
            F.sum(F.when(cond, money("o_totalprice"))).alias(f"s_{tag}"),
            F.sum(cond.cast("long")).alias(f"n_{tag}"),
            F.var_samp(F.when(cond, F.col("o_totalprice")))
             .alias(f"v_{tag}")]
    agg = o.agg(*cells)
    m = {tag: (F.col(f"s_{tag}").cast("double") / F.col(f"n_{tag}"))
         for tag in ("t_post", "t_pre", "c_post", "c_pre")}
    did = (m["t_post"] - m["t_pre"]) - (m["c_post"] - m["c_pre"])
    se = F.sqrt(sum(F.col(f"v_{tag}") / F.col(f"n_{tag}")
                    for tag in ("t_post", "t_pre", "c_post", "c_pre")))
    return agg.select(
        *[F.round(m[tag], 4).alias(f"mean_{tag}")
          for tag in ("t_post", "t_pre", "c_post", "c_pre")],
        F.round(did, 4).alias("did_estimate"),
        F.round(did / se, 4).alias("z_stat"))

DID_SQL = """
WITH f AS (
  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS t,
         CASE WHEN o_orderdate >= DATE '1996-01-01' THEN 1 ELSE 0 END
           AS post,
         CAST(o_totalprice AS DECIMAL(18,2)) AS val,
         o_totalprice AS raw
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    AND o_orderdate IS NOT NULL
), a AS (
  SELECT
    CAST(sum(CASE WHEN t = 1 AND post = 1 THEN val END) AS DOUBLE)
      / sum(CASE WHEN t = 1 AND post = 1 THEN 1 END) AS m_t_post,
    CAST(sum(CASE WHEN t = 1 AND post = 0 THEN val END) AS DOUBLE)
      / sum(CASE WHEN t = 1 AND post = 0 THEN 1 END) AS m_t_pre,
    CAST(sum(CASE WHEN t = 0 AND post = 1 THEN val END) AS DOUBLE)
      / sum(CASE WHEN t = 0 AND post = 1 THEN 1 END) AS m_c_post,
    CAST(sum(CASE WHEN t = 0 AND post = 0 THEN val END) AS DOUBLE)
      / sum(CASE WHEN t = 0 AND post = 0 THEN 1 END) AS m_c_pre,
    var_samp(CASE WHEN t = 1 AND post = 1 THEN raw END)
      / sum(CASE WHEN t = 1 AND post = 1 THEN 1 END) AS vv1,
    var_samp(CASE WHEN t = 1 AND post = 0 THEN raw END)
      / sum(CASE WHEN t = 1 AND post = 0 THEN 1 END) AS vv2,
    var_samp(CASE WHEN t = 0 AND post = 1 THEN raw END)
      / sum(CASE WHEN t = 0 AND post = 1 THEN 1 END) AS vv3,
    var_samp(CASE WHEN t = 0 AND post = 0 THEN raw END)
      / sum(CASE WHEN t = 0 AND post = 0 THEN 1 END) AS vv4
  FROM f
)
SELECT round(m_t_post, 4) AS mean_t_post,
       round(m_t_pre, 4) AS mean_t_pre,
       round(m_c_post, 4) AS mean_c_post,
       round(m_c_pre, 4) AS mean_c_pre,
       round((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 4)
         AS did_estimate,
       round(((m_t_post - m_t_pre) - (m_c_post - m_c_pre))
             / sqrt(vv1 + vv2 + vv3 + vv4), 4) AS z_stat
FROM a
"""


# --------------------------------------------------------------------------
# A109. Weight-of-Evidence + Information Value (classic credit-scoring
# feature screening; public — e.g. Siddiqi 2006): per segment, WoE =
# ln(pos-share / neg-share) against "customer placed an urgent
# order", and the IV contribution. Semi-join tags the outcome; one
# contingency aggregate; 6-dp-rounded ln keeps the IV sum stable.
# --------------------------------------------------------------------------

def woe_iv_mktsegment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = (load_table(spark, sf_dir, "orders")
         .where(F.col("o_orderpriority") == "1-URGENT")
         .select("o_custkey").distinct())
    tagged = (c.join(o, c["c_custkey"] == o["o_custkey"], "left")
               .select("c_mktsegment",
                       o["o_custkey"].isNotNull().cast("int").alias("y")))
    bins = (tagged.groupBy(F.col("c_mktsegment").alias("segment"))
                  .agg(F.sum("y").alias("n_pos"),
                       F.sum(1 - F.col("y")).alias("n_neg")))
    tot = bins.agg(F.sum("n_pos").alias("tp"), F.sum("n_neg").alias("tn"))
    # mirror the oracle's empty-cell semantics: a bin with zero
    # positives or negatives has undefined WoE => NULL (and the total
    # guards keep a single-class corpus from ANSI-aborting)
    ps = F.col("n_pos") / F.nullif(F.col("tp").cast("double"),
                                   F.lit(0.0))
    ns = F.col("n_neg") / F.nullif(F.col("tn").cast("double"),
                                   F.lit(0.0))
    degen = (F.col("n_pos") == 0) | (F.col("n_neg") == 0)
    woe = F.when(degen, F.lit(None).cast("double")) \
           .otherwise(F.round(F.log(ps / ns), 6))
    return (bins.crossJoin(F.broadcast(tot))
                .select("segment", "n_pos", "n_neg",
                        woe.alias("woe"),
                        F.when(degen, F.lit(None).cast("double"))
                         .otherwise(F.round((ps - ns) * woe, 6))
                         .alias("iv_contrib")))

WOE_IV_SQL = """
WITH o AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderpriority = '1-URGENT'
), tagged AS (
  SELECT c.c_mktsegment,
         CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS y
  FROM customer c LEFT JOIN o ON o.o_custkey = c.c_custkey
), bins AS (
  SELECT c_mktsegment AS segment,
         CAST(sum(y) AS BIGINT) AS n_pos,
         CAST(sum(1 - y) AS BIGINT) AS n_neg
  FROM tagged GROUP BY 1
), tot AS (SELECT sum(n_pos) AS tp, sum(n_neg) AS tn FROM bins)
SELECT segment, n_pos, n_neg,
       CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
            ELSE round(ln((CAST(n_pos AS DOUBLE) / tp)
                          / (CAST(n_neg AS DOUBLE) / tn)), 6) END AS woe,
       CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
            ELSE round((CAST(n_pos AS DOUBLE) / tp
                        - CAST(n_neg AS DOUBLE) / tn)
                       * round(ln((CAST(n_pos AS DOUBLE) / tp)
                                  / (CAST(n_neg AS DOUBLE) / tn)), 6), 6)
       END AS iv_contrib
FROM bins CROSS JOIN tot
"""


# --------------------------------------------------------------------------
# A110. Calibration curve + Brier score for a FROZEN scoring model
# (reliability diagram; public — e.g. DeGroot-Fienberg 1983). The
# pinned sigmoid score (a deployment-time artifact, rounded to 6 dp
# per row) is binned by exact-decimal value bands; per bin: mean
# predicted vs empirical rate; global Brier = mean squared error.
# One conditional-agg scan.
# --------------------------------------------------------------------------

def calibration_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    z = F.lit(-2.0) + F.col("o_totalprice") * F.lit(1e-5)
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    y = (F.col("o_orderstatus") == "F").cast("int")
    binned = o.select(
        F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(9))
         .cast("int").alias("bin"),
        score.alias("p"), y.alias("y"))
    # ONE scan: the global Brier is derivable from per-bin squared-
    # error sums, so it rides the same groupBy and the fact is never
    # re-read (code-review r02)
    bins = (binned.groupBy("bin")
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.round(F.avg("p"), 4).alias("mean_predicted"),
                       F.round(F.avg(F.col("y").cast("double")), 4)
                        .alias("empirical_rate"),
                       F.sum((F.col("p") - F.col("y"))
                             * (F.col("p") - F.col("y"))).alias("__ss")))
    brier = bins.agg(
        F.round(F.sum("__ss") / F.sum("n"), 4).alias("b"))
    return (bins.crossJoin(F.broadcast(brier))
                .select("bin", "n", "mean_predicted", "empirical_rate",
                        F.col("b").alias("brier_score")))

CALIBRATION_SQL = """
WITH s AS (
  SELECT CAST(least(floor(o_totalprice / 50000), 9) AS INT) AS bin,
         round(1.0 / (1.0 + exp(-(-2.0 + o_totalprice * 1e-5))), 6) AS p,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
), bins AS (
  SELECT bin, count(*) AS n,
         round(avg(p), 4) AS mean_predicted,
         round(avg(CAST(y AS DOUBLE)), 4) AS empirical_rate,
         sum((p - y) * (p - y)) AS ss
  FROM s GROUP BY 1
), brier AS (SELECT round(sum(ss) / sum(n), 4) AS b FROM bins)
SELECT bin, n, mean_predicted, empirical_rate, brier.b AS brier_score
FROM bins CROSS JOIN brier
"""


# --------------------------------------------------------------------------
# A111. Split-conformal prediction interval (Vovk et al., public;
# Lei et al. 2018): fit the simple price~quantity line on the train
# folds, take the 0.9 quantile of |residual| on the calibration fold
# (bracket-refine, exact interpolation), and report the finite-sample
# coverage on the held-out test fold — which the conformal guarantee
# says must be ≈ 0.9. Coefficients round to 6 dp so both engines
# score with identical decimal constants (the score_holdout recipe).
# --------------------------------------------------------------------------

def conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_quantity", "l_extendedprice")
          .where(F.col("l_quantity").isNotNull()
                 & F.col("l_extendedprice").isNotNull())
          .persist())  # four fold passes share one materialization
    fold = F.pmod(F.col("l_orderkey"), F.lit(5))
    train = li.where(~fold.isin(0, 4))
    r = train.agg(F.count(F.lit(1)).alias("n"),
                  F.sum("l_quantity").alias("sx"),
                  F.sum("l_extendedprice").alias("sy"),
                  F.sum(F.col("l_quantity") * F.col("l_quantity"))
                   .alias("sxx"),
                  F.sum(F.col("l_quantity") * F.col("l_extendedprice"))
                   .alias("sxy")).collect()[0]
    # a constant x (or empty train fold) makes the fit undefined —
    # NULL coefficients propagate to NULL intervals/coverage (exactly
    # the oracle's NULL arithmetic), never a ZeroDivisionError
    den = (r.n * r.sxx - r.sx * r.sx) if r.n else 0
    if den:
        b1 = round((r.n * r.sxy - r.sx * r.sy) / den, 6)
        b0 = round((r.sy - b1 * r.sx) / r.n, 6)
    else:
        b1 = b0 = None
    lit_b0 = F.lit(b0).cast("double")
    lit_b1 = F.lit(b1).cast("double")
    resid = F.abs(F.col("l_extendedprice")
                  - (lit_b0 + lit_b1 * F.col("l_quantity")))
    cal = (li.where(fold == 4)
             .select(F.lit("all").alias("g"), resid.alias("ar")))
    q = stats.grouped_quantiles(cal, "g", "ar", [0.9], ["q90"])
    test = li.where(fold == 0).select(resid.alias("ar"))
    cov = (test.crossJoin(F.broadcast(q.select("q90")))
               .agg(F.count(F.lit(1)).alias("n_test"),
                    F.sum((F.col("ar") <= F.col("q90")).cast("long"))
                     .alias("n_covered"),
                    F.round(F.max("q90"), 4).alias("q90")))
    out = cov.select("n_test", "n_covered", "q90",
                     F.round(F.col("n_covered")
                             / F.nullif(F.col("n_test").cast("double"),
                                        F.lit(0.0)), 4)
                      .alias("coverage")).localCheckpoint(eager=True)
    li.unpersist()
    return out

CONFORMAL_SQL = """
WITH li AS (
  SELECT l_orderkey, l_quantity AS x, l_extendedprice AS y
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
), tr AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM li WHERE l_orderkey % 5 NOT IN (0, 4)
), c AS (
  SELECT round((n * sxy - sx * sy)
               / nullif(n * sxx - sx * sx, 0), 6) AS b1,
         round((sy - round((n * sxy - sx * sy)
                           / nullif(n * sxx - sx * sx, 0), 6) * sx)
               / nullif(n, 0), 6) AS b0
  FROM tr
), cal AS (
  SELECT abs(y - (c.b0 + c.b1 * x)) AS ar
  FROM li, c WHERE l_orderkey % 5 = 4
), q AS (SELECT quantile_cont(ar, 0.9) AS q90 FROM cal),
test AS (
  SELECT abs(y - (c.b0 + c.b1 * x)) AS ar
  FROM li, c WHERE l_orderkey % 5 = 0
)
SELECT CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN ar <= q.q90 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_covered,
       round(max(q.q90), 4) AS q90,
       round(CAST(sum(CASE WHEN ar <= q.q90 THEN 1 ELSE 0 END) AS DOUBLE)
             / nullif(count(*), 0), 4) AS coverage
FROM test CROSS JOIN q
"""


# --------------------------------------------------------------------------
# A112. Two-component Gaussian mixture via EM on scaled order value —
# the density-model companion to k-means (see ml.gmm_em_1d for the
# per-iteration fused-aggregate shape and the 6-dp determinism
# contract shared with the unrolled-CTE oracle). The 1e-5 scaling
# keeps exp() arguments O(1) on both engines.
# --------------------------------------------------------------------------

def gmm_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (load_table(spark, sf_dir, "orders")
         .select((F.col("o_totalprice") * F.lit(1e-5)).alias("xs")))
    # round_to=6 == the stored parameter precision: re-rounding the
    # 6-dp params to 4 dp hits exact half-way ties (observed: a std of
    # 0.937750 split 0.9377/0.9378 across engines)
    return ml.gmm_em_1d(o, "xs", n_iter=3, round_to=6)

GMM_SQL = oracles.gmm_em_sql(
    "xs", table="(SELECT o_totalprice * 1e-5 AS xs FROM orders) __t",
    n_iter=3, round_to=6)


# --------------------------------------------------------------------------
# A113. Lorenz curve of customer spend (Lorenz 1905, public) — the
# curve behind A79's Gini: cumulative spend share by spend decile.
# Deciles come from the A39 range-partitioned NTILE assembly (no
# single-task global window); spend sums are exact DECIMAL; the
# cumulative runs by joining the 10-row decile table to itself
# (b ≤ a) — no window at all on the grid.
# --------------------------------------------------------------------------

def lorenz_curve_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import money
    o = load_table(spark, sf_dir, "orders")
    spend = (o.groupBy("o_custkey")
              .agg(F.sum(money("o_totalprice")).alias("sp")))
    d = (spend.repartitionByRange(F.col("sp"), F.col("o_custkey"))
              .withColumn("__pid", F.spark_partition_id()))
    wl = Window.partitionBy("__pid").orderBy("sp", "o_custkey")
    local = d.withColumn("__rn", F.row_number().over(wl)) \
             .localCheckpoint(eager=True)  # pin ONE evaluation (__pid
    # offset-join class fix, round 5 — see stats.tie_avg_ranks)
    wo = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    off = (local.groupBy("__pid").agg(F.max("__rn").alias("__t"))
           .withColumn("__off", F.coalesce(F.sum("__t").over(wo), F.lit(0))))
    tot = off.agg(F.sum("__t").alias("__n"))
    r = F.col("__off") + F.col("__rn")
    q = F.floor(F.col("__n") / 10)
    rem = F.col("__n") % 10
    cutoff = rem * (q + 1)
    decile = (F.when(F.col("__n") < 10, r)
               .when(r <= cutoff, F.floor((r + q) / (q + 1)))
               .otherwise(rem + F.floor((r - cutoff + q - 1) / q)))
    per_dec = (local.join(F.broadcast(off.select("__pid", "__off")), "__pid")
               .crossJoin(F.broadcast(tot))
               .withColumn("decile", decile.cast("int"))
               .groupBy("decile")
               .agg(F.count(F.lit(1)).alias("n_customers"),
                    F.sum("sp").alias("__s")))
    total = per_dec.agg(F.sum("__s").alias("__tot"))
    a, b = per_dec.alias("a"), per_dec.alias("b")
    cum = (a.join(F.broadcast(b), F.col("b.decile") <= F.col("a.decile"))
            .groupBy(F.col("a.decile").alias("decile"),
                     F.col("a.n_customers").alias("n_customers"),
                     F.col("a.__s").alias("__s"))
            .agg(F.sum(F.col("b.__s")).alias("__cum")))
    return (cum.crossJoin(F.broadcast(total))
               .select("decile", "n_customers",
                       F.round((F.col("__s") / F.col("__tot"))
                               .cast("double"), 4).alias("spend_share"),
                       F.round((F.col("__cum") / F.col("__tot"))
                               .cast("double"), 4)
                        .alias("cum_spend_share")))

LORENZ_SQL = """
WITH spend AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sp
  FROM orders GROUP BY 1
), dd AS (
  SELECT sp, ntile(10) OVER (ORDER BY sp, o_custkey) AS decile
  FROM spend
), per_dec AS (
  SELECT decile, count(*) AS n_customers, sum(sp) AS s
  FROM dd GROUP BY 1
), tot AS (SELECT sum(s) AS t FROM per_dec)
SELECT a.decile, a.n_customers,
       round(CAST(a.s AS DOUBLE) / max(tot.t), 4) AS spend_share,
       round(CAST(sum(b.s) AS DOUBLE) / max(tot.t), 4)
         AS cum_spend_share
FROM per_dec a JOIN per_dec b ON b.decile <= a.decile CROSS JOIN tot
GROUP BY a.decile, a.n_customers, a.s
"""


# --------------------------------------------------------------------------
# A118. Fisher's exact test on a 2x2 contingency table (Fisher 1935;
# R's fisher.test is the standard companion to chisq.test for sparse
# tables — the reference runs chi-square association checks at
# R:775+). Cells: customers with negative account balance x BUILDING
# market segment. The distributed part is ONE fused aggregate scan to
# the four cell counts; the hypergeometric enumeration (two-sided:
# sum of all table probabilities <= the observed one) runs on the
# driver with exact lgamma arithmetic over min(margin) terms — the
# operator's contract is small-margin tables, which is exactly where
# Fisher's exactness matters (use chisq_status_priority when every
# expected cell is large).
# --------------------------------------------------------------------------

def fisher_exact_2x2(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math
    c = load_table(spark, sf_dir, "customer")
    row = F.col("c_acctbal") < 0
    col = F.col("c_mktsegment") == "BUILDING"
    cnt = c.agg(
        F.sum((row & col).cast("long")).alias("a"),
        F.sum((row & ~col).cast("long")).alias("b"),
        F.sum((~row & col).cast("long")).alias("c"),
        F.sum((~row & ~col).cast("long")).alias("d")).collect()[0]
    a, b, cc, d = int(cnt["a"]), int(cnt["b"]), int(cnt["c"]), int(cnt["d"])
    n, r1, c1 = a + b + cc + d, a + b, a + cc

    def logp(k: int) -> float:
        lg = math.lgamma
        return (lg(r1 + 1) + lg(n - r1 + 1) + lg(c1 + 1) + lg(n - c1 + 1)
                - lg(n + 1) - lg(k + 1) - lg(r1 - k + 1) - lg(c1 - k + 1)
                - lg(n - r1 - c1 + k + 1))

    lp_obs = logp(a)
    # two-sided: standard 1e-7 relative tolerance against float drift
    # in the "as or more extreme" comparison (R's fisher.test does the
    # same) — the SQL oracle replicates the identical rule
    p = sum(math.exp(lp) for k in range(max(0, r1 + c1 - n),
                                        min(r1, c1) + 1)
            if (lp := logp(k)) <= lp_obs + 1e-7)
    odds = (a * d) / (b * cc) if b * cc else float("inf")
    return local_df(
        spark,
        [(a, b, cc, d, round(odds, 4), round(min(p, 1.0), 6))],
        "n_11 long, n_12 long, n_21 long, n_22 long, "
        "odds_ratio double, p_two_sided double")

FISHER_SQL = """
WITH cells AS (
  SELECT
    CAST(sum(CASE WHEN c_acctbal < 0 AND c_mktsegment = 'BUILDING'
             THEN 1 ELSE 0 END) AS BIGINT) AS a,
    CAST(sum(CASE WHEN c_acctbal < 0 AND c_mktsegment <> 'BUILDING'
             THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(sum(CASE WHEN c_acctbal >= 0 AND c_mktsegment = 'BUILDING'
             THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(sum(CASE WHEN c_acctbal >= 0 AND c_mktsegment <> 'BUILDING'
             THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM customer
), m AS (
  SELECT a, b, c, d, a + b + c + d AS n, a + b AS r1, a + c AS c1
  FROM cells
), ks AS (
  SELECT m.*, unnest(range(greatest(0, r1 + c1 - n),
                           least(r1, c1) + 1)) AS k
  FROM m
), lp AS (
  SELECT *,
         lgamma(r1 + 1) + lgamma(n - r1 + 1) + lgamma(c1 + 1)
           + lgamma(n - c1 + 1) - lgamma(n + 1) - lgamma(k + 1)
           - lgamma(r1 - k + 1) - lgamma(c1 - k + 1)
           - lgamma(n - r1 - c1 + k + 1) AS logp,
         lgamma(r1 + 1) + lgamma(n - r1 + 1) + lgamma(c1 + 1)
           + lgamma(n - c1 + 1) - lgamma(n + 1) - lgamma(a + 1)
           - lgamma(r1 - a + 1) - lgamma(c1 - a + 1)
           - lgamma(n - r1 - c1 + a + 1) AS logp_obs
  FROM ks
)
SELECT a AS n_11, b AS n_12, c AS n_21, d AS n_22,
       round(CAST(a * d AS DOUBLE) / (b * c), 4) AS odds_ratio,
       round(least(sum(CASE WHEN logp <= logp_obs + 1e-7
                            THEN exp(logp) ELSE 0 END), 1.0), 6)
         AS p_two_sided
FROM lp GROUP BY a, b, c, d
"""


# --------------------------------------------------------------------------
# A119. Kendall's tau-b rank correlation (Kendall 1938) between
# l_quantity and l_discount — EXACT at any row count without the
# O(n^2) pair scan: both columns are low-cardinality, so concordant /
# discordant pair totals are sums over the JOINT CONTINGENCY CUBE
# (one groupBy -> ~550 cells), paired by a cells-x-cells self-join
# that is bounded by value-pair cardinality, never rows. Tie terms
# come from the margins. For continuous columns, bin first — the
# operator contract mirrors tau-b's own tie semantics.
# --------------------------------------------------------------------------

def kendall_tau_qty_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cells = (li.groupBy(F.col("l_quantity").alias("x"),
                        F.col("l_discount").alias("y"))
               .agg(F.count(F.lit(1)).alias("c"))
               .localCheckpoint(eager=True))
    a, b2 = cells.alias("a"), cells.alias("b")
    conc = (F.col("b.x") > F.col("a.x")) & (F.col("b.y") > F.col("a.y"))
    disc = (F.col("b.x") > F.col("a.x")) & (F.col("b.y") < F.col("a.y"))
    pairs = a.crossJoin(b2).agg(
        F.sum(F.when(conc, F.col("a.c") * F.col("b.c"))
               .otherwise(F.lit(0))).alias("C"),
        F.sum(F.when(disc, F.col("a.c") * F.col("b.c"))
               .otherwise(F.lit(0))).alias("D"))
    margins = cells.agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.col("c")).alias("sc2"))
    rx = (cells.groupBy("x").agg(F.sum("c").alias("r"))
               .agg(F.sum(F.col("r") * F.col("r")).alias("sr2")))
    cy = (cells.groupBy("y").agg(F.sum("c").alias("s"))
               .agg(F.sum(F.col("s") * F.col("s")).alias("ss2")))
    j = pairs.crossJoin(margins).crossJoin(rx).crossJoin(cy)
    # doubles for the n^2-scale products: exact to 2^53 and the final
    # statistic is a ratio rounded to 6 (BIGINT would overflow first)
    n = F.col("n").cast("double")
    n0 = (n * n - n) / 2
    n1 = (F.col("sr2").cast("double") - n) / 2
    n2 = (F.col("ss2").cast("double") - n) / 2
    # nullif: a CONSTANT axis makes n1 (or n2) = n0 — tau-b undefined
    # => NULL, never an ANSI DIVIDE_BY_ZERO job abort
    tau = ((F.col("C") - F.col("D")).cast("double")
           / F.nullif(F.sqrt((n0 - n1) * (n0 - n2)), F.lit(0.0)))
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.col("C").cast("long").alias("concordant"),
        F.col("D").cast("long").alias("discordant"),
        F.round(tau, 6).alias("tau_b"))

KENDALL_SQL = """
WITH cells AS (
  SELECT l_quantity AS x, l_discount AS y, count(*) AS c
  FROM lineitem GROUP BY 1, 2
), pairs AS (
  SELECT
    sum(CASE WHEN b.x > a.x AND b.y > a.y THEN a.c * b.c ELSE 0 END) AS C,
    sum(CASE WHEN b.x > a.x AND b.y < a.y THEN a.c * b.c ELSE 0 END) AS D
  FROM cells a CROSS JOIN cells b
), margins AS (
  SELECT sum(c) AS n, sum(c * c) AS sc2 FROM cells
), rx AS (
  SELECT sum(r * r) AS sr2
  FROM (SELECT sum(c) AS r FROM cells GROUP BY x)
), cy AS (
  SELECT sum(s * s) AS ss2
  FROM (SELECT sum(c) AS s FROM cells GROUP BY y)
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(C AS BIGINT) AS concordant,
       CAST(D AS BIGINT) AS discordant,
       round(CAST(C - D AS DOUBLE)
             / nullif(sqrt(((CAST(n AS DOUBLE) * n - n) / 2
                     - (CAST(sr2 AS DOUBLE) - n) / 2)
                    * ((CAST(n AS DOUBLE) * n - n) / 2
                       - (CAST(ss2 AS DOUBLE) - n) / 2)), 0), 6) AS tau_b
FROM pairs CROSS JOIN margins CROSS JOIN rx CROSS JOIN cy
"""


# --------------------------------------------------------------------------
# A120. Tukey HSD pairwise contrasts after one-way ANOVA (Tukey 1949;
# R's TukeyHSD(aov(...)) — the standard post-hoc to the reference's
# anova at R:765-772): for every segment pair, the mean difference
# and the studentized-range q statistic against the pooled MSE. One
# groupBy to per-group moments (k rows), then a k x k self-join —
# nothing scales with rows but the single moment scan.
# --------------------------------------------------------------------------

def tukey_hsd_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    g = (c.groupBy("c_mktsegment")
          .agg(F.count("c_acctbal").alias("n"),
               F.avg("c_acctbal").alias("m"),
               F.sum(F.col("c_acctbal") * F.col("c_acctbal")).alias("s2")))
    tot = g.agg(
        F.sum("n").alias("tot_n"), F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.col("s2") - F.col("n") * F.col("m") * F.col("m"))
         .alias("ssw"))
    # nullif: n=k zeroes the error df — MSE (and q) undefined => NULL
    mse = F.col("ssw") / F.nullif(
        (F.col("tot_n") - F.col("n_groups")).cast("double"), F.lit(0.0))
    a, b2 = g.alias("a"), g.alias("b")
    pair = (a.crossJoin(b2)
             .where(F.col("a.c_mktsegment") < F.col("b.c_mktsegment"))
             .crossJoin(F.broadcast(tot)))
    diff = F.col("a.m") - F.col("b.m")
    se = F.sqrt(mse / 2 * (1 / F.col("a.n") + 1 / F.col("b.n")))
    return pair.select(
        F.col("a.c_mktsegment").alias("segment_a"),
        F.col("b.c_mktsegment").alias("segment_b"),
        F.round(diff, 4).alias("mean_diff"),
        F.round(se, 4).alias("se"),
        # nullif: constant groups zero the pooled SE — q undefined
        # => NULL, never an ANSI DIVIDE_BY_ZERO job abort
        F.round(diff / F.nullif(se, F.lit(0.0)), 4).alias("q_stat"))

TUKEY_SQL = """
WITH g AS (
  SELECT c_mktsegment, count(c_acctbal) AS n, avg(c_acctbal) AS m,
         sum(c_acctbal * c_acctbal) AS s2
  FROM customer GROUP BY 1
), tot AS (
  SELECT sum(n) AS tot_n, count(*) AS n_groups,
         sum(s2 - n * m * m) AS ssw
  FROM g
)
SELECT a.c_mktsegment AS segment_a, b.c_mktsegment AS segment_b,
       round(a.m - b.m, 4) AS mean_diff,
       round(sqrt(ssw / nullif(tot_n - n_groups, 0) / 2
                  * (1.0 / a.n + 1.0 / b.n)), 4) AS se,
       round((a.m - b.m)
             / nullif(sqrt(ssw / nullif(tot_n - n_groups, 0) / 2
                    * (1.0 / a.n + 1.0 / b.n)), 0), 4) AS q_stat
FROM g a CROSS JOIN g b CROSS JOIN tot
WHERE a.c_mktsegment < b.c_mktsegment
"""


# --------------------------------------------------------------------------
# A121. Cook's distance influence diagnostics (Cook 1977; R's
# plot(lm) panel 4 — the reference inspects lm diagnostics at
# R:593-614): for the simple OLS of extendedprice on quantity, each
# row's leverage h_i = 1/n + (x_i-mx)^2/Sxx and D_i =
# e_i^2 h_i / (p s^2 (1-h_i)^2), p = 2. One moment scan fits the
# line (closed form), one projection scores every row — top 20 most
# influential rows, deterministic tie-break on the row key.
# --------------------------------------------------------------------------

def cooks_distance_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select("l_orderkey", "l_linenumber",
                  F.col("l_quantity").cast("double").alias("x"),
                  F.col("l_extendedprice").cast("double").alias("y"))
    fit = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("x").alias("mx"), F.avg("y").alias("my"),
        (F.var_pop("x") * F.count(F.lit(1))).alias("sxx"),
        (F.covar_pop("x", "y") * F.count(F.lit(1))).alias("sxy"),
        (F.var_pop("y") * F.count(F.lit(1))).alias("syy"))
    j = d.crossJoin(F.broadcast(fit))
    # nullif: a constant x (sxx = 0), n = 2, zero residual variance,
    # or a leverage-1 point all zero a denominator — the diagnostics
    # are undefined => NULL, never an ANSI job abort
    slope = F.col("sxy") / F.nullif(F.col("sxx"), F.lit(0.0))
    e = F.col("y") - (F.col("my") + slope * (F.col("x") - F.col("mx")))
    s2 = ((F.col("syy") - slope * F.col("sxy"))
          / F.nullif((F.col("n") - 2).cast("double"), F.lit(0.0)))
    h = (1 / F.col("n") + ((F.col("x") - F.col("mx")) ** 2)
         / F.nullif(F.col("sxx"), F.lit(0.0)))
    dist = (e * e * h
            / F.nullif(2 * s2 * (1 - h) * (1 - h), F.lit(0.0)))
    return (j.select("l_orderkey", "l_linenumber",
                     F.round(e, 4).alias("residual"),
                     F.round(h, 8).alias("leverage"),
                     F.round(dist, 8).alias("cooks_d"))
             .orderBy(F.col("cooks_d").desc(), "l_orderkey",
                      "l_linenumber")
             .limit(20))

COOKS_SQL = """
WITH d AS (
  SELECT l_orderkey, l_linenumber,
         CAST(l_quantity AS DOUBLE) AS x,
         CAST(l_extendedprice AS DOUBLE) AS y
  FROM lineitem
), fit AS (
  SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my,
         var_pop(x) * count(*) AS sxx,
         covar_pop(x, y) * count(*) AS sxy,
         var_pop(y) * count(*) AS syy
  FROM d
), s AS (
  SELECT d.*, n, mx, my, sxy / nullif(sxx, 0) AS slope,
         (syy - (sxy / nullif(sxx, 0)) * sxy) / nullif(n - 2, 0) AS s2,
         1.0 / n + (x - mx) * (x - mx) / nullif(sxx, 0) AS h
  FROM d CROSS JOIN fit
)
SELECT l_orderkey, l_linenumber,
       round(y - (my + slope * (x - mx)), 4) AS residual,
       round(h, 8) AS leverage,
       round((y - (my + slope * (x - mx))) * (y - (my + slope * (x - mx)))
             * h / nullif(2 * s2 * (1 - h) * (1 - h), 0), 8)
         AS cooks_d
FROM s
ORDER BY cooks_d DESC, l_orderkey, l_linenumber
LIMIT 20
"""


# --------------------------------------------------------------------------
# A122. Box-Cox transform selection (Box & Cox 1964; R's
# MASS::boxcox profile — the reference log-transforms skewed
# responses, R:537+): profile log-likelihood over the standard lambda
# grid, LL(l) = -n/2 ln(var_pop(y_l)) + (l-1) SUM(ln y), computed for
# every lambda in ONE fused aggregate scan (each grid point is just
# another pair of aggregate expressions). Flags the grid argmax.
# --------------------------------------------------------------------------

_BOXCOX_GRID = [-1.0, -0.5, 0.0, 0.5, 1.0]

def boxcox_lambda_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    y = F.col("o_totalprice").cast("double")
    aggs = [F.count(F.lit(1)).alias("n"),
            F.sum(F.log(y)).alias("slog")]
    for i, lam in enumerate(_BOXCOX_GRID):
        t = F.log(y) if lam == 0.0 else (F.pow(y, lam) - 1) / lam
        aggs.append(F.var_pop(t).alias(f"v{i}"))
    wide = o.where(y > 0).agg(*aggs)
    rows = wide.selectExpr(
        "n", "slog",
        "stack({k}, {args}) as (lam, v)".format(
            k=len(_BOXCOX_GRID),
            args=", ".join(f"CAST({lam} AS DOUBLE), v{i}"
                           for i, lam in enumerate(_BOXCOX_GRID))))
    ll = (-F.col("n") / 2 * F.log("v")
          + (F.col("lam") - 1) * F.col("slog"))
    w = Window.partitionBy()
    out = rows.select("lam", F.round(ll, 4).alias("log_lik"))
    return out.withColumn(
        "is_best", (F.col("log_lik") == F.max("log_lik").over(w))
                    .cast("int")).orderBy("lam")

BOXCOX_SQL = """
WITH base AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS y FROM orders
  WHERE o_totalprice > 0
), agg AS (
  SELECT count(*) AS n, sum(ln(y)) AS slog,
         var_pop((pow(y, -1.0) - 1) / -1.0) AS v0,
         var_pop((pow(y, -0.5) - 1) / -0.5) AS v1,
         var_pop(ln(y)) AS v2,
         var_pop((pow(y, 0.5) - 1) / 0.5) AS v3,
         var_pop((pow(y, 1.0) - 1) / 1.0) AS v4
  FROM base
), rows_ AS (
  SELECT n, slog, lam, v
  FROM agg, (VALUES (-1.0, 'v0'), (-0.5, 'v1'), (0.0, 'v2'),
                    (0.5, 'v3'), (1.0, 'v4')) t(lam, tag),
       LATERAL (SELECT CASE tag WHEN 'v0' THEN v0 WHEN 'v1' THEN v1
                       WHEN 'v2' THEN v2 WHEN 'v3' THEN v3
                       ELSE v4 END AS v)
), ll AS (
  SELECT lam, round(-n / 2.0 * ln(v) + (lam - 1) * slog, 4) AS log_lik
  FROM rows_
)
SELECT lam, log_lik,
       CAST(log_lik = max(log_lik) OVER () AS INT) AS is_best
FROM ll ORDER BY lam
"""


# --------------------------------------------------------------------------
# A123. Precision-recall AUC / average precision (Davis & Goadrich
# 2006) — companion to roc_auc_order_status for the imbalanced case:
# AP = SUM over descending score blocks of (block TP / P) * precision
# at the block cut, ties handled as blocks (one groupBy per distinct
# score, cumulative windows over the score-block table — never a
# row-level sort).
# --------------------------------------------------------------------------

def pr_auc_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (load_table(spark, sf_dir, "orders")
         .select((F.col("o_orderstatus") == "P").cast("long").alias("pos"),
                 "o_totalprice"))
    # the score-block table is rows-sized for near-unique scores, so
    # the descending cumulative runs through range_cumsum (range-
    # partitioned parallel windows + broadcast offset stitch) on the
    # NEGATED score — never a single-task global sort
    blocks = (o.groupBy("o_totalprice")
               .agg(F.sum("pos").alias("tp_b"),
                    F.count(F.lit(1)).alias("n_b"))
               .withColumn("neg_score", -F.col("o_totalprice")))
    cum = (stats.range_cumsum(blocks, "neg_score", ["tp_b", "n_b"])
           .select("tp_b", F.col("cum_tp_b").alias("ctp"),
                   F.col("cum_n_b").alias("cn")))
    tot = o.agg(F.sum("pos").alias("P"),
                F.count(F.lit(1)).alias("N"))
    # nullif: a single-class corpus (no positives) zeroes P — AP is
    # undefined => NULL, never an ANSI job abort (the A123b twin's
    # guard, extended to the exact form)
    ap = (cum.crossJoin(F.broadcast(tot))
             .agg(F.round(F.sum(F.col("tp_b")
                                / F.nullif(F.col("P").cast("double"),
                                           F.lit(0.0))
                                * (F.col("ctp") / F.col("cn"))), 6)
                   .alias("average_precision"),
                  F.max("P").alias("n_pos"),
                  F.max(F.col("N") - F.col("P")).alias("n_neg")))
    return ap.select("n_pos", "n_neg", "average_precision")

PR_AUC_SQL = """
WITH o AS (
  SELECT CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END AS pos,
         o_totalprice
  FROM orders
), blocks AS (
  SELECT o_totalprice, sum(pos) AS tp_b, count(*) AS n_b
  FROM o GROUP BY 1
), cum AS (
  SELECT tp_b,
         sum(tp_b) OVER (ORDER BY o_totalprice DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS ctp,
         sum(n_b) OVER (ORDER BY o_totalprice DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cn
  FROM blocks
), tot AS (
  SELECT sum(pos) AS P, count(*) AS N FROM o
)
SELECT CAST(max(P) AS BIGINT) AS n_pos,
       CAST(max(N - P) AS BIGINT) AS n_neg,
       round(sum(CAST(tp_b AS DOUBLE) / nullif(P, 0)
                 * (CAST(ctp AS DOUBLE) / cn)),
             6) AS average_precision
FROM cum CROSS JOIN tot
"""


# --------------------------------------------------------------------------
# A124. Partial correlation matrix (ppcor's pcor in R; companion to
# A16's marginal correlations): for each pair, the correlation with
# ALL other profiled columns held constant — computed from cofactors
# of the 4x4 correlation matrix (rho_ij = -C_ij / sqrt(C_ii C_jj);
# the determinant cancels, so no division by a near-singular det).
# One fused corr scan; the Leibniz cofactor expansion is evaluated in
# EXACTLY the same operation order driver-side and in the SQL oracle
# (both generated from the same permutation enumeration — see
# oracles.sql_det), on identically pre-rounded corr inputs, so the
# two sides agree bit-for-bit.
# --------------------------------------------------------------------------

def _leibniz_det_f(M: list[list[float]]) -> float:
    """Numeric twin of oracles.sql_det: identical permutation order,
    identical left-fold multiply/add order — IEEE-identical to the SQL
    expression DuckDB evaluates."""
    from itertools import permutations as _perms
    tot = 0.0
    n = len(M)
    for p in _perms(range(n)):
        s = 1
        for i in range(n):
            for j in range(i + 1, n):
                if p[i] > p[j]:
                    s = -s
        term = 1.0
        for i in range(n):
            term = term * M[i][p[i]]
        tot = tot + term if s > 0 else tot - term
    return tot


def _cof_f(M: list[list[float]], i: int, j: int) -> float:
    k = len(M)
    minor = [[M[r][c] for c in range(k) if c != j]
             for r in range(k) if r != i]
    d = _leibniz_det_f(minor)
    return d if (i + j) % 2 == 0 else -d


def partial_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = _DESCRIBE_COLS
    k = len(cols)
    li = load_table(spark, sf_dir, "lineitem")
    # safe_corr: a zero-variance column must yield NULL partial
    # correlations, not an ANSI DIVIDE_BY_ZERO job abort (same rounded
    # values as F.corr on real data — gate-verified at three SFs)
    aggs = [F.round(stats.safe_corr(cols[a], cols[b]), 6)
             .alias(f"c_{a}_{b}")
            for a in range(k) for b in range(a + 1, k)]
    row = li.agg(*aggs).collect()[0]
    degenerate = any(row[f"c_{a}_{b}"] is None
                     for a in range(k) for b in range(a + 1, k))
    R = [[1.0] * k for _ in range(k)]
    if not degenerate:
        for a in range(k):
            for b in range(a + 1, k):
                R[a][b] = R[b][a] = float(row[f"c_{a}_{b}"])
    import math
    out = []
    for i in range(k):
        for j in range(i + 1, k):
            if degenerate:
                # every partial corr conditions on ALL columns, so one
                # degenerate column voids the whole matrix
                out.append((cols[i], cols[j], None))
                continue
            den2 = _cof_f(R, i, i) * _cof_f(R, j, j)
            pc = (-_cof_f(R, i, j) / math.sqrt(den2)
                  if den2 > 0 else None)
            out.append((cols[i], cols[j], pc))
    # final rounding via Spark's HALF_UP round (Python round is
    # banker's — would drift from the oracle on exact halves)
    return (local_df(
        spark, out, "col_x string, col_y string, pc double")
        .select("col_x", "col_y",
                F.round("pc", 4).alias("partial_corr")))


def _partial_corr_sql(cols: list[str], table: str = "lineitem") -> str:
    k = len(cols)
    sym = [["1.0" if i == j else f"c_{min(i, j)}_{max(i, j)}"
            for j in range(k)] for i in range(k)]

    def cof(i: int, j: int) -> str:
        minor = [[sym[r][c] for c in range(k) if c != j]
                 for r in range(k) if r != i]
        d = oracles.sql_det(minor)
        return f"(-{d})" if (i + j) % 2 else d

    corr_exprs = ", ".join(
        f"round(covar_samp({cols[a]}, {cols[b]})"
        f" / nullif(stddev_samp({cols[a]}) * stddev_samp({cols[b]}), 0),"
        f" 6) AS c_{a}_{b}"
        for a in range(k) for b in range(a + 1, k))
    selects = []
    for i in range(k):
        for j in range(i + 1, k):
            selects.append(
                f"SELECT '{cols[i]}' AS col_x, '{cols[j]}' AS col_y,\n"
                f"  round(-({cof(i, j)})\n"
                f"    / nullif(sqrt(({cof(i, i)}) * ({cof(j, j)})), 0), 4)"
                f" AS partial_corr FROM r")
    return (f"WITH r AS (SELECT {corr_exprs} FROM {table})\n"
            + "\nUNION ALL\n".join(selects))

PARTIAL_CORR_SQL = _partial_corr_sql(_DESCRIBE_COLS)


# --------------------------------------------------------------------------
# A125. Cronbach's alpha internal-consistency reliability (Cronbach
# 1951; psych::alpha in R's EDA toolkit, reference loads psych at
# R:59): alpha = k/(k-1) * (1 - SUM var(item) / var(total score)).
# Everything from ONE fused aggregate (per-item variances + the
# variance of the row-sum expression).
# --------------------------------------------------------------------------

def cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = _DESCRIBE_COLS
    k = len(cols)
    li = load_table(spark, sf_dir, "lineitem")
    total = sum((F.col(c) for c in cols[1:]), F.col(cols[0]))
    agg = li.agg(
        *[F.var_samp(c).alias(f"v{i}") for i, c in enumerate(cols)],
        F.var_samp(total).alias("vt"),
        F.count(F.lit(1)).alias("n"))
    item_sum = sum((F.col(f"v{i}") for i in range(1, k)), F.col("v0"))
    # nullif: an all-constant item set zeroes var(total) — alpha
    # undefined => NULL, never an ANSI DIVIDE_BY_ZERO job abort
    alpha = ((F.lit(float(k)) / (k - 1))
             * (1 - item_sum / F.nullif(F.col("vt"), F.lit(0.0))))
    return agg.select(
        F.col("n").alias("n_rows"), F.lit(k).alias("n_items"),
        F.round(alpha, 6).alias("cronbach_alpha"))

CRONBACH_SQL = f"""
WITH a AS (
  SELECT {", ".join(f"var_samp({c}) AS v{i}"
                    for i, c in enumerate(_DESCRIBE_COLS))},
         var_samp({" + ".join(_DESCRIBE_COLS)}) AS vt,
         count(*) AS n
  FROM lineitem
)
SELECT n AS n_rows, {len(_DESCRIBE_COLS)} AS n_items,
       round({float(len(_DESCRIBE_COLS))} / {len(_DESCRIBE_COLS) - 1}
             * (1 - ({" + ".join(f"v{i}"
                                 for i in range(len(_DESCRIBE_COLS)))})
                / nullif(vt, 0)), 6) AS cronbach_alpha
FROM a
"""


# --------------------------------------------------------------------------
# A126. Cohen's kappa inter-rater agreement (Cohen 1960): agreement
# between two derived binary "raters" on orders — urgent priority vs
# high order value — beyond chance. All four cells from ONE fused
# conditional-aggregate scan; kappa = (po - pe) / (1 - pe).
# --------------------------------------------------------------------------

def cohen_kappa_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    r1 = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    r2 = F.col("o_totalprice") > 150000
    agg = o.agg(
        F.sum((r1 & r2).cast("long")).alias("a"),
        F.sum((r1 & ~r2).cast("long")).alias("b"),
        F.sum((~r1 & r2).cast("long")).alias("c"),
        F.sum((~r1 & ~r2).cast("long")).alias("d"))
    n = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    po = (F.col("a") + F.col("d")) / n
    pe = ((F.col("a") + F.col("b")) * (F.col("a") + F.col("c"))
          + (F.col("c") + F.col("d")) * (F.col("b") + F.col("d"))) / (n * n)
    return agg.select(
        n.cast("long").alias("n"),
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        # nullif: a degenerate table with pe = 1 (all mass in one
        # margin pair) makes kappa undefined => NULL, not an abort
        F.round((po - pe) / F.nullif(1 - pe, F.lit(0.0)), 6)
         .alias("kappa"))

KAPPA_SQL = """
WITH cells AS (
  SELECT
    CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                   AND o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS a,
    CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                   AND o_totalprice <= 150000 THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                   AND o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                   AND o_totalprice <= 150000 THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM orders
), m AS (
  SELECT a, b, c, d, CAST(a + b + c + d AS DOUBLE) AS n FROM cells
)
SELECT CAST(n AS BIGINT) AS n,
       round((a + d) / n, 6) AS p_observed,
       round(((a + b) * (a + c) + (c + d) * (b + d)) / (n * n), 6)
         AS p_expected,
       round(((a + d) / n - ((a + b) * (a + c) + (c + d) * (b + d))
              / (n * n))
             / nullif(1 - ((a + b) * (a + c) + (c + d) * (b + d))
                      / (n * n), 0),
             6) AS kappa
FROM m
"""


# --------------------------------------------------------------------------
# A127. Theil inequality index per segment (Theil 1967; the
# entropy-based companion to A79's Gini): T = (SUM x ln x)/(n mu)
# - ln mu over positive balances — the algebraic one-pass form, so
# each group needs only (n, SUM x, SUM x ln x) from ONE fused scan
# (no mean-join second pass).
# --------------------------------------------------------------------------

def theil_index_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (load_table(spark, sf_dir, "customer")
         .where(F.col("c_acctbal") > 0))
    x = F.col("c_acctbal").cast("double")
    g = (c.groupBy("c_mktsegment")
          .agg(F.count(F.lit(1)).alias("n"),
               F.sum(x).alias("sx"),
               F.sum(x * F.log(x)).alias("sxlx")))
    mu = F.col("sx") / F.col("n")
    theil = F.col("sxlx") / F.col("sx") - F.log(mu)
    return g.select("c_mktsegment", "n",
                    F.round(mu, 4).alias("mean_bal"),
                    F.round(theil, 6).alias("theil_index"))

THEIL_SQL = """
WITH g AS (
  SELECT c_mktsegment, count(*) AS n,
         sum(CAST(c_acctbal AS DOUBLE)) AS sx,
         sum(CAST(c_acctbal AS DOUBLE) * ln(CAST(c_acctbal AS DOUBLE)))
           AS sxlx
  FROM customer WHERE c_acctbal > 0 GROUP BY 1
)
SELECT c_mktsegment, n,
       round(sx / n, 4) AS mean_bal,
       round(sxlx / sx - ln(sx / n), 6) AS theil_index
FROM g
"""


# --------------------------------------------------------------------------
# A128. McNemar's paired test (McNemar 1947; the PAIRED companion to
# A126's kappa — same two derived raters, but testing whether their
# disagreements are symmetric): chi2 = (|b - c| - 1)^2 / (b + c) with
# the Edwards continuity correction, from the SAME single fused
# conditional-aggregate scan.
# --------------------------------------------------------------------------

def mcnemar_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    r1 = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    r2 = F.col("o_totalprice") > 150000
    agg = o.agg(
        F.sum((r1 & ~r2).cast("long")).alias("b"),
        F.sum((~r1 & r2).cast("long")).alias("c"))
    b, c = F.col("b").cast("double"), F.col("c").cast("double")
    # nullif: no discordant pairs (b = c = 0) => chi2 undefined
    chi2 = ((F.abs(b - c) - 1) * (F.abs(b - c) - 1)
            / F.nullif(b + c, F.lit(0.0)))
    return agg.select("b", "c", F.round(chi2, 4).alias("chi2_corrected"))

MCNEMAR_SQL = """
WITH cells AS (
  SELECT
    CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                   AND o_totalprice <= 150000 THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                   AND o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS c
  FROM orders
)
SELECT b, c,
       round((abs(CAST(b AS DOUBLE) - c) - 1)
             * (abs(CAST(b AS DOUBLE) - c) - 1)
             / nullif(CAST(b AS DOUBLE) + c, 0), 4) AS chi2_corrected
FROM cells
"""


# --------------------------------------------------------------------------
# A129. Bartlett's test of variance homogeneity (Bartlett 1937;
# bartlett.test — the parametric companion to A18e's Levene): the
# statistic is a closed form of the per-group (n_i, s_i^2), so ONE
# moment scan feeds scalar arithmetic. chi2 with k-1 df emitted as a
# statistic (no p — no chi-square CDF in either engine).
# --------------------------------------------------------------------------

def bartlett_acctbal_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    g = (c.groupBy("c_mktsegment")
          .agg(F.count("c_acctbal").alias("n"),
               F.var_samp("c_acctbal").alias("s2")))
    agg = g.agg(
        F.sum("n").alias("N"), F.count(F.lit(1)).alias("k"),
        F.sum((F.col("n") - 1) * F.col("s2")).alias("num"),
        F.sum((F.col("n") - 1) * F.log("s2")).alias("sumlog"),
        F.sum(1.0 / (F.col("n") - 1)).alias("suminv"))
    sp2 = F.col("num") / (F.col("N") - F.col("k"))
    stat = ((F.col("N") - F.col("k")) * F.log(sp2) - F.col("sumlog"))
    corr_ = (1 + (F.col("suminv") - 1 / (F.col("N") - F.col("k")))
             / (3 * (F.col("k") - 1)))
    return agg.select(
        F.col("N").alias("n_total"), F.col("k").alias("n_groups"),
        F.round(sp2, 4).alias("pooled_var"),
        F.round(stat / corr_, 4).alias("bartlett_chi2"),
        (F.col("k") - 1).alias("dof"))

BARTLETT_B_SQL = """
WITH g AS (
  SELECT c_mktsegment, count(c_acctbal) AS n, var_samp(c_acctbal) AS s2
  FROM customer GROUP BY 1
), a AS (
  SELECT sum(n) AS N, count(*) AS k,
         sum((n - 1) * s2) AS num,
         sum((n - 1) * ln(s2)) AS sumlog,
         sum(1.0 / (n - 1)) AS suminv
  FROM g
)
SELECT CAST(N AS BIGINT) AS n_total, CAST(k AS BIGINT) AS n_groups,
       round(num / (N - k), 4) AS pooled_var,
       round(((N - k) * ln(num / (N - k)) - sumlog)
             / (1 + (suminv - 1.0 / (N - k)) / (3 * (k - 1))), 4)
         AS bartlett_chi2,
       CAST(k - 1 AS BIGINT) AS dof
FROM a
"""


# --------------------------------------------------------------------------
# A130. Higher moments per group — skewness and excess kurtosis from
# EXPLICIT raw-moment algebra (m3/m2^1.5, m4/m2^2 - 3) rather than the
# built-in aggregates: Spark's skewness() and DuckDB's skewness() use
# DIFFERENT estimators (population g1 vs bias-corrected G1), so the
# only cross-engine-checkable form is the shared formula over shared
# moment sums. One fused scan.
# --------------------------------------------------------------------------

def higher_moments_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice").cast("double")
    g = (li.groupBy("l_returnflag")
           .agg(F.count(F.lit(1)).alias("n"),
                F.avg(x).alias("m1"),
                F.avg(x * x).alias("r2"),
                F.avg(x * x * x).alias("r3"),
                F.avg(x * x * x * x).alias("r4")))
    m1 = F.col("m1")
    # noise_floor (r06 ADVICE #2): m2 = r2 − m1² is a cancellation —
    # a NEAR-constant group leaves it at sum-order noise, not exactly
    # zero, so nullif(·, 0) alone passed garbage ratios; relative
    # guard at 1e-12 of the raw second moment, mirrored in the oracle
    m2 = stats.noise_floor(F.col("r2") - m1 * m1, F.col("r2"))
    m3 = F.col("r3") - 3 * m1 * F.col("r2") + 2 * m1 * m1 * m1
    m4 = (F.col("r4") - 4 * m1 * F.col("r3")
          + 6 * m1 * m1 * F.col("r2") - 3 * m1 * m1 * m1 * m1)
    return g.select(
        "l_returnflag", "n",
        F.round(m3 / F.nullif(F.pow(m2, 1.5), F.lit(0.0)), 4)
         .alias("skewness_g1"),
        F.round(m4 / F.nullif(m2 * m2, F.lit(0.0)) - 3, 4)
         .alias("excess_kurtosis_g2"))

HIGHER_MOMENTS_SQL = """
WITH g AS (
  SELECT l_returnflag, count(*) AS n,
         avg(CAST(l_extendedprice AS DOUBLE)) AS m1,
         avg(CAST(l_extendedprice AS DOUBLE)
             * CAST(l_extendedprice AS DOUBLE)) AS r2,
         avg(CAST(l_extendedprice AS DOUBLE)
             * CAST(l_extendedprice AS DOUBLE)
             * CAST(l_extendedprice AS DOUBLE)) AS r3,
         avg(CAST(l_extendedprice AS DOUBLE)
             * CAST(l_extendedprice AS DOUBLE)
             * CAST(l_extendedprice AS DOUBLE)
             * CAST(l_extendedprice AS DOUBLE)) AS r4
  FROM lineitem GROUP BY 1
)
, mg AS (
  -- relative noise floor mirrors stats.noise_floor (cancellation m2)
  SELECT l_returnflag, n, m1, r2, r3, r4,
         CASE WHEN r2 - m1 * m1 > 1e-12 * r2
              THEN r2 - m1 * m1 END AS m2
  FROM g
)
SELECT l_returnflag, n,
       round((r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1)
             / nullif(pow(m2, 1.5), 0), 4) AS skewness_g1,
       round((r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2
              - 3 * m1 * m1 * m1 * m1)
             / nullif(m2 * m2, 0) - 3, 4)
         AS excess_kurtosis_g2
FROM mg
"""


# --------------------------------------------------------------------------
# A131. Mahalanobis multivariate outliers (Mahalanobis 1936; the
# multivariate generalization of A44's univariate fences): d^2 =
# (x-mu)' S^-1 (x-mu) via the adjugate — d^2 = (v' adj(S) v)/det(S),
# where adj and det expand by the SAME Leibniz term order driver-side
# and in the generated SQL oracle over identically pre-rounded
# covariances (the partial_corr_matrix parity technique). One moment
# scan + one scoring projection; top 20 rows, deterministic
# tie-break.
# --------------------------------------------------------------------------

_MAHAL_COLS = ["l_quantity", "l_extendedprice", "l_discount"]

def mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = _MAHAL_COLS
    k = len(cols)
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.round(F.avg(c), 6).alias(f"mu_{i}")
            for i, c in enumerate(cols)]
    aggs += [F.round(F.covar_pop(cols[a], cols[b]), 6).alias(f"s_{a}_{b}")
             for a in range(k) for b in range(a, k)]
    row = li.agg(*aggs).collect()[0]
    mu = [float(row[f"mu_{i}"]) for i in range(k)]
    S = [[float(row[f"s_{min(a, b)}_{max(a, b)}"]) for b in range(k)]
         for a in range(k)]
    det = _leibniz_det_f(S)
    # adjugate = transposed cofactors; S symmetric -> adj symmetric
    adj = [[_cof_f(S, a, b) for b in range(k)] for a in range(k)]
    v = [F.col(c).cast("double") - mu[i] for i, c in enumerate(cols)]
    quad = F.lit(0.0)
    for a in range(k):
        for b in range(k):
            quad = quad + F.lit(adj[a][b]) * v[a] * v[b]
    # a singular covariance (constant column) zeroes the determinant —
    # d2 is undefined => NULL, never an ANSI DIVIDE_BY_ZERO abort
    d2 = (quad / F.lit(det)) if det != 0 else F.lit(None).cast("double")
    return (li.select("l_orderkey", "l_linenumber",
                      F.round(d2, 6).alias("mahalanobis_d2"))
              .orderBy(F.col("mahalanobis_d2").desc(), "l_orderkey",
                       "l_linenumber")
              .limit(20))


def _mahalanobis_sql(cols: list[str], table: str = "lineitem") -> str:
    k = len(cols)
    sym = [[f"s_{min(a, b)}_{max(a, b)}" for b in range(k)]
           for a in range(k)]
    det = oracles.sql_det(sym)

    def cof(i: int, j: int) -> str:
        minor = [[sym[r][c] for c in range(k) if c != j]
                 for r in range(k) if r != i]
        d = oracles.sql_det(minor)
        return f"(-{d})" if (i + j) % 2 else d

    terms = []
    for a in range(k):
        for b in range(k):
            terms.append(f"({cof(a, b)}) * (t.{cols[a]} - m.mu_{a})"
                         f" * (t.{cols[b]} - m.mu_{b})")
    quad = "0.0 + " + "\n       + ".join(terms)
    mu_sel = ", ".join(f"round(avg({c}), 6) AS mu_{i}"
                       for i, c in enumerate(cols))
    cov_sel = ", ".join(
        f"round(covar_pop({cols[a]}, {cols[b]}), 6) AS s_{a}_{b}"
        for a in range(k) for b in range(a, k))
    return f"""
WITH m AS (
  SELECT {mu_sel}, {cov_sel} FROM {table}
)
SELECT t.l_orderkey, t.l_linenumber,
       round(({quad}) / nullif(({det}), 0), 6) AS mahalanobis_d2
FROM {table} t CROSS JOIN m
ORDER BY mahalanobis_d2 DESC, t.l_orderkey, t.l_linenumber
LIMIT 20
"""

MAHALANOBIS_SQL = _mahalanobis_sql(_MAHAL_COLS)


# --------------------------------------------------------------------------
# A132. Q-Q decile comparison between two groups (the tabular form of
# R's qqplot, reference EDA at R:429+): exact order-statistic deciles
# of order value for urgent vs low priority side by side, with their
# ratio. Both sides go through grouped_quantiles' bracket-refine
# machinery (tie-proof RLE, range-parallel) — one bracketed pass per
# group set, never a per-group sort.
# --------------------------------------------------------------------------

def qq_deciles_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (load_table(spark, sf_dir, "orders")
         .where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
         .select("o_orderpriority", "o_totalprice"))
    fr = [i / 10.0 for i in range(1, 10)]
    al = [f"d{i}" for i in range(1, 10)]
    # materialize the 2-row quantile frame ONCE (each reference to the
    # lazy frame would replay the whole bracket-refine lineage)
    q = {r["o_orderpriority"]: r
         for r in stats.grouped_quantiles(
             o, "o_orderpriority", "o_totalprice", fr, al).collect()}
    # an ABSENT arm (single-priority corpus) has no quantile row —
    # its deciles are NULL, matching the oracle's quantile over an
    # empty CASE branch (never a driver-side KeyError)
    hi, lo = q.get("1-URGENT"), q.get("5-LOW")
    rows = [(i,
             float(hi[f"d{i}"]) if hi is not None else None,
             float(lo[f"d{i}"]) if lo is not None else None)
            for i in range(1, 10)]
    return (local_df(spark, rows, "decile int, h double, l double")
            .select("decile",
                    F.round("h", 4).alias("urgent_value"),
                    F.round("l", 4).alias("low_value"),
                    F.round(F.col("h") / F.nullif(F.col("l"),
                                                  F.lit(0.0)), 6)
                     .alias("qq_ratio")))

QQ_DECILES_SQL = "\nUNION ALL\n".join(
    f"""SELECT {i} AS decile,
       round(quantile_cont(CASE WHEN o_orderpriority = '1-URGENT'
                           THEN o_totalprice END, {i / 10.0}), 4)
         AS urgent_value,
       round(quantile_cont(CASE WHEN o_orderpriority = '5-LOW'
                           THEN o_totalprice END, {i / 10.0}), 4)
         AS low_value,
       round(quantile_cont(CASE WHEN o_orderpriority = '1-URGENT'
                           THEN o_totalprice END, {i / 10.0})
             / quantile_cont(CASE WHEN o_orderpriority = '5-LOW'
                             THEN o_totalprice END, {i / 10.0}), 6)
         AS qq_ratio
FROM orders""" for i in range(1, 10))


# --------------------------------------------------------------------------
# A133. Chow structural-break test (Chow 1960; strucchange in R): does
# the price~quantity regression differ across return-flag regimes?
# F = ((SSR_pooled - SUM SSR_g) / ((k-1)(p+1)))
#     / (SUM SSR_g / (n - k(p+1))), p = 1 slope. Every SSR is a
# closed form of per-group (n, Sxx, Sxy, Syy) — ONE fused moment scan
# for the groups plus one for the pooled fit; scalar F assembly.
# --------------------------------------------------------------------------

def chow_test_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("double")
    y = F.col("l_extendedprice").cast("double")
    aggs = [F.count(F.lit(1)).alias("n"),
            (F.var_pop(x) * F.count(F.lit(1))).alias("sxx"),
            (F.covar_pop(x, y) * F.count(F.lit(1))).alias("sxy"),
            (F.var_pop(y) * F.count(F.lit(1))).alias("syy")]
    g = li.groupBy("l_returnflag").agg(*aggs)
    # nullif: a constant x (sxx = 0) / zero residuals make every
    # ratio undefined => NULL, never an ANSI job abort
    ssr_g = (F.col("syy") - F.col("sxy") * F.col("sxy")
             / F.nullif(F.col("sxx"), F.lit(0.0)))
    parts = g.agg(F.sum("n").alias("n"),
                  F.count(F.lit(1)).alias("k"),
                  F.sum(ssr_g).alias("ssr_groups"))
    pooled = li.agg(*aggs).select(
        (F.col("syy") - F.col("sxy") * F.col("sxy")
         / F.nullif(F.col("sxx"), F.lit(0.0)))
        .alias("ssr_pooled"))
    jn = parts.crossJoin(pooled)
    num = (F.col("ssr_pooled") - F.col("ssr_groups")) \
        / F.nullif(((F.col("k") - 1) * 2).cast("double"), F.lit(0.0))
    den = F.nullif(F.col("ssr_groups")
                   / F.nullif((F.col("n") - F.col("k") * 2)
                              .cast("double"), F.lit(0.0)),
                   F.lit(0.0))
    # emit MEAN squared residuals, not raw SSRs: at corpus scale the
    # SSR magnitude (~1e13+) exceeds the double ulp at 2 decimals, so
    # a fixed-decimal round of the raw sum is not engine-stable
    return jn.select(
        F.col("n").alias("n_rows"), F.col("k").alias("n_regimes"),
        F.round(F.col("ssr_pooled") / F.col("n"), 4).alias("mse_pooled"),
        F.round(F.col("ssr_groups") / F.col("n"), 4).alias("mse_by_regime"),
        F.round(num / den, 4).alias("chow_f"),
        ((F.col("k") - 1) * 2).alias("df1"),
        (F.col("n") - F.col("k") * 2).alias("df2"))

CHOW_SQL = """
WITH g AS (
  SELECT l_returnflag, count(*) AS n,
         var_pop(CAST(l_quantity AS DOUBLE)) * count(*) AS sxx,
         covar_pop(CAST(l_quantity AS DOUBLE),
                   CAST(l_extendedprice AS DOUBLE)) * count(*) AS sxy,
         var_pop(CAST(l_extendedprice AS DOUBLE)) * count(*) AS syy
  FROM lineitem GROUP BY 1
), parts AS (
  SELECT sum(n) AS n, count(*) AS k,
         sum(syy - sxy * sxy / nullif(sxx, 0)) AS ssr_groups
  FROM g
), pooled AS (
  SELECT var_pop(CAST(l_extendedprice AS DOUBLE)) * count(*)
         - (covar_pop(CAST(l_quantity AS DOUBLE),
                      CAST(l_extendedprice AS DOUBLE)) * count(*))
           * (covar_pop(CAST(l_quantity AS DOUBLE),
                        CAST(l_extendedprice AS DOUBLE)) * count(*))
           / nullif(var_pop(CAST(l_quantity AS DOUBLE)) * count(*),
                    0)
           AS ssr_pooled
  FROM lineitem
)
SELECT CAST(n AS BIGINT) AS n_rows, CAST(k AS BIGINT) AS n_regimes,
       round(ssr_pooled / n, 4) AS mse_pooled,
       round(ssr_groups / n, 4) AS mse_by_regime,
       round(((ssr_pooled - ssr_groups) / nullif((k - 1) * 2, 0))
             / nullif(ssr_groups / nullif(n - k * 2, 0), 0), 4)
         AS chow_f,
       CAST((k - 1) * 2 AS BIGINT) AS df1,
       CAST(n - k * 2 AS BIGINT) AS df2
FROM parts CROSS JOIN pooled
"""


# --------------------------------------------------------------------------
# A134. Cohen's d effect sizes per segment pair (Cohen 1988; the
# magnitude companion to A120's Tukey q — significance is not size):
# d = (m_a - m_b) / s_pooled with the pooled SD from the same single
# moment scan; Hedges' g small-sample correction factor included.
# --------------------------------------------------------------------------

def effect_sizes_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    g = (c.groupBy("c_mktsegment")
          .agg(F.count("c_acctbal").alias("n"),
               F.avg("c_acctbal").alias("m"),
               F.var_samp("c_acctbal").alias("s2")))
    a, b2 = g.alias("a"), g.alias("b")
    pair = (a.crossJoin(b2)
             .where(F.col("a.c_mktsegment") < F.col("b.c_mktsegment")))
    dfree = F.col("a.n") + F.col("b.n") - 2
    # nullif: two constant groups zero the pooled sd (and n=1+n=1
    # zeroes the df) — d undefined => NULL, never an ANSI job abort
    sp = F.sqrt(((F.col("a.n") - 1) * F.col("a.s2")
                 + (F.col("b.n") - 1) * F.col("b.s2"))
                / F.nullif(dfree.cast("double"), F.lit(0.0)))
    d = (F.col("a.m") - F.col("b.m")) / F.nullif(sp, F.lit(0.0))
    j = 1 - 3 / (4 * dfree - 1)
    return pair.select(
        F.col("a.c_mktsegment").alias("segment_a"),
        F.col("b.c_mktsegment").alias("segment_b"),
        F.round(d, 6).alias("cohens_d"),
        F.round(d * j, 6).alias("hedges_g"))

EFFECT_SIZES_SQL = """
WITH g AS (
  SELECT c_mktsegment, count(c_acctbal) AS n, avg(c_acctbal) AS m,
         var_samp(c_acctbal) AS s2
  FROM customer GROUP BY 1
)
SELECT a.c_mktsegment AS segment_a, b.c_mktsegment AS segment_b,
       round((a.m - b.m)
             / nullif(sqrt(((a.n - 1) * a.s2 + (b.n - 1) * b.s2)
                    / nullif(a.n + b.n - 2, 0)), 0), 6) AS cohens_d,
       round((a.m - b.m)
             / nullif(sqrt(((a.n - 1) * a.s2 + (b.n - 1) * b.s2)
                    / nullif(a.n + b.n - 2, 0)), 0)
             * (1 - 3.0 / (4 * (a.n + b.n - 2) - 1)), 6) AS hedges_g
FROM g a CROSS JOIN g b
WHERE a.c_mktsegment < b.c_mktsegment
"""


# --------------------------------------------------------------------------
# A135. Gamma distribution fit by method of moments (the
# MASS::fitdistr shape for positively-skewed money data; reference
# fits distributions to transformed responses at R:537+): shape
# k = m^2/var, scale theta = var/m from ONE moment scan, plus the
# plug-in mean log-likelihood per observation (needs only SUM ln x
# from the same scan; lgamma(k) evaluated on the driver — neither
# engine has a distributed lgamma aggregate, and k is a scalar).
# --------------------------------------------------------------------------

def gamma_mom_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math
    o = load_table(spark, sf_dir, "orders")
    x = F.col("o_totalprice").cast("double")
    r = (o.where(x > 0)
          .agg(F.count(F.lit(1)).alias("n"), F.avg(x).alias("m"),
               F.var_pop(x).alias("v"),
               F.avg(F.log(x)).alias("mlog")).collect()[0])
    # a constant (or empty) column has zero variance — the MoM fit is
    # undefined => NULL columns, never a driver-side TypeError /
    # ZeroDivisionError (scale v/m stays defined: 0 for a constant)
    n = int(r["n"]) if r["n"] is not None else 0
    if n and float(r["v"]) > 0:
        m, v, mlog = float(r["m"]), float(r["v"]), float(r["mlog"])
        k = m * m / v
        theta = v / m
        # mean log-lik: (k-1) E[ln x] - E[x]/theta - k ln theta - ln G(k)
        mll = ((k - 1) * mlog - m / theta - k * math.log(theta)
               - math.lgamma(k))
    else:
        k = mll = None
        theta = (float(r["v"]) / float(r["m"])) if n else None
    return (local_df(
        spark,
        [(n, k, theta, mll)],
        "n long, shape_k double, scale_theta double, mean_loglik double")
        .select("n", F.round("shape_k", 6).alias("shape_k"),
                F.round("scale_theta", 4).alias("scale_theta"),
                F.round("mean_loglik", 6).alias("mean_loglik")))

GAMMA_MOM_SQL = """
WITH a AS (
  SELECT count(*) AS n, avg(CAST(o_totalprice AS DOUBLE)) AS m,
         var_pop(CAST(o_totalprice AS DOUBLE)) AS v,
         avg(ln(CAST(o_totalprice AS DOUBLE))) AS mlog
  FROM orders WHERE o_totalprice > 0
)
SELECT n,
       round(m * m / nullif(v, 0), 6) AS shape_k,
       round(v / m, 4) AS scale_theta,
       round((m * m / nullif(v, 0) - 1) * mlog
             - m / nullif(v / m, 0)
             - (m * m / nullif(v, 0)) * ln(nullif(v, 0) / m)
             - lgamma(m * m / nullif(v, 0)), 6)
         AS mean_loglik
FROM a
"""


# --------------------------------------------------------------------------
# A136. Wilcoxon signed-rank test (paired; Wilcoxon 1945 — the
# nonparametric sibling of the reference's paired comparisons at
# R:700+): does the peak realized unit price differ systematically
# from the catalog retail price, per part? The pair statistic is
# d = max(l_extendedprice/l_quantity) - p_retailprice — max of exact
# per-row divisions, NOT an accumulated average, so d is bit-identical
# across engines and summation orders (rank positions never flip on
# FP noise). |d| ranks ride stats.tie_avg_ranks (range-partitioned —
# no single-task global sort over the ~#parts distinct table), with
# the standard tie-corrected normal approximation.
# --------------------------------------------------------------------------

def wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (li.join(p, li.l_partkey == p.p_partkey)
               .groupBy("p_partkey", "p_retailprice")
               .agg(F.max(F.col("l_extendedprice") / F.col("l_quantity"))
                     .alias("peak"))
               .select((F.col("peak") - F.col("p_retailprice")).alias("d"))
               .where(F.col("d") != 0))
    runs = (pairs.groupBy(F.abs("d").alias("ad"))
                 .agg(F.count(F.lit(1)).alias("t"),
                      F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
                       .alias("tpos")))
    ranked = (stats.tie_avg_ranks(runs.select("ad", "t"), "ad", "t")
              .join(runs.select("ad", "tpos"), "ad"))
    agg = ranked.agg(
        F.sum("t").alias("n"),
        F.sum(F.col("tpos") * F.col("avg_rank")).alias("wplus"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
         .alias("tsum"))
    n = F.col("n").cast("double")
    var = (n * (n + 1) * (2 * n + 1) / 24.0
           - F.col("tsum").cast("double") / 48.0)
    return agg.select(
        F.col("n").cast("long").alias("n_pairs"),
        F.round("wplus", 2).alias("w_plus"),
        F.round((F.col("wplus") - n * (n + 1) / 4.0) / F.sqrt(var), 6)
         .alias("z_stat"))

WILCOXON_SQL = """
WITH pairs AS (
  SELECT max(l.l_extendedprice / l.l_quantity) - p.p_retailprice AS d
  FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
  GROUP BY p.p_partkey, p.p_retailprice
), nz AS (
  SELECT d, abs(d) AS ad FROM pairs WHERE d <> 0
), ranked AS (
  SELECT d,
         rank() OVER (ORDER BY ad)
           + (count(*) OVER (PARTITION BY ad) - 1) / 2.0 AS r
  FROM nz
), ties AS (
  SELECT coalesce(sum(t * t * t - t), 0) AS tsum
  FROM (SELECT count(*) AS t FROM nz GROUP BY ad)
), s AS (
  SELECT count(*) AS n,
         sum(CASE WHEN d > 0 THEN r ELSE 0 END) AS wplus
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_pairs,
       round(wplus, 2) AS w_plus,
       round((wplus - n * (n + 1) / 4.0)
             / sqrt(n * (n + 1) * (2.0 * n + 1) / 24.0 - tsum / 48.0), 6)
         AS z_stat
FROM s CROSS JOIN ties
"""


# --------------------------------------------------------------------------
# A137. Ordinal association suite: Goodman-Kruskal gamma (1954),
# Somers' D (1962, both directions), and Stuart's tau-c — the
# companions of A116's Kendall tau-b, all closed forms of the SAME
# concordant/discordant cube. The cube is bounded by the two value
# cardinalities (|qty| x |discount| cells), never by corpus rows, so
# the crossJoin is a constant-size compute regardless of scale.
# --------------------------------------------------------------------------

def ordinal_assoc_qty_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cells = (li.groupBy(F.col("l_quantity").alias("x"),
                        F.col("l_discount").alias("y"))
               .agg(F.count(F.lit(1)).alias("c"))
               .localCheckpoint(eager=True))
    a, b2 = cells.alias("a"), cells.alias("b")
    conc = (F.col("b.x") > F.col("a.x")) & (F.col("b.y") > F.col("a.y"))
    disc = (F.col("b.x") > F.col("a.x")) & (F.col("b.y") < F.col("a.y"))
    pairs = a.crossJoin(b2).agg(
        F.sum(F.when(conc, F.col("a.c") * F.col("b.c"))
               .otherwise(F.lit(0))).alias("C"),
        F.sum(F.when(disc, F.col("a.c") * F.col("b.c"))
               .otherwise(F.lit(0))).alias("D"))
    margins = cells.agg(F.sum("c").alias("n"),
                        F.countDistinct("x").alias("nx"),
                        F.countDistinct("y").alias("ny"))
    rx = (cells.groupBy("x").agg(F.sum("c").alias("r"))
               .agg(F.sum(F.col("r") * F.col("r")).alias("sr2")))
    cy = (cells.groupBy("y").agg(F.sum("c").alias("s"))
               .agg(F.sum(F.col("s") * F.col("s")).alias("ss2")))
    j = pairs.crossJoin(margins).crossJoin(rx).crossJoin(cy)
    n = F.col("n").cast("double")
    n0 = (n * n - n) / 2
    n1 = (F.col("sr2").cast("double") - n) / 2
    n2 = (F.col("ss2").cast("double") - n) / 2
    cd = (F.col("C") - F.col("D")).cast("double")
    m = F.least(F.col("nx"), F.col("ny")).cast("double")
    # nullif on every denominator: constant axes zero C+D / n0−n1 /
    # n0−n2 / (m−1) — each statistic degrades to NULL, never an ANSI
    # DIVIDE_BY_ZERO job abort
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.col("C").cast("long").alias("concordant"),
        F.col("D").cast("long").alias("discordant"),
        F.round(cd / F.nullif((F.col("C") + F.col("D")).cast("double"),
                              F.lit(0.0)), 6)
         .alias("gk_gamma"),
        F.round(cd / F.nullif(n0 - n1, F.lit(0.0)), 6).alias("somers_d_yx"),
        F.round(cd / F.nullif(n0 - n2, F.lit(0.0)), 6).alias("somers_d_xy"),
        F.round(cd * 2 * m / F.nullif(n * n * (m - 1), F.lit(0.0)), 6)
         .alias("stuart_tau_c"))

ORDINAL_ASSOC_SQL = """
WITH cells AS (
  SELECT l_quantity AS x, l_discount AS y, count(*) AS c
  FROM lineitem GROUP BY 1, 2
), pairs AS (
  SELECT
    sum(CASE WHEN b.x > a.x AND b.y > a.y THEN a.c * b.c ELSE 0 END) AS C,
    sum(CASE WHEN b.x > a.x AND b.y < a.y THEN a.c * b.c ELSE 0 END) AS D
  FROM cells a CROSS JOIN cells b
), margins AS (
  SELECT sum(c) AS n, count(DISTINCT x) AS nx, count(DISTINCT y) AS ny
  FROM cells
), rx AS (
  SELECT sum(r * r) AS sr2
  FROM (SELECT sum(c) AS r FROM cells GROUP BY x)
), cy AS (
  SELECT sum(s * s) AS ss2
  FROM (SELECT sum(c) AS s FROM cells GROUP BY y)
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(C AS BIGINT) AS concordant,
       CAST(D AS BIGINT) AS discordant,
       round(CAST(C - D AS DOUBLE) / nullif(C + D, 0), 6) AS gk_gamma,
       round(CAST(C - D AS DOUBLE)
             / nullif((CAST(n AS DOUBLE) * n - n) / 2 - (sr2 - n) / 2.0,
                      0), 6)
         AS somers_d_yx,
       round(CAST(C - D AS DOUBLE)
             / nullif((CAST(n AS DOUBLE) * n - n) / 2 - (ss2 - n) / 2.0,
                      0), 6)
         AS somers_d_xy,
       round(CAST(C - D AS DOUBLE) * 2 * least(nx, ny)
             / nullif(CAST(n AS DOUBLE) * n * (least(nx, ny) - 1), 0), 6)
         AS stuart_tau_c
FROM pairs CROSS JOIN margins CROSS JOIN rx CROSS JOIN cy
"""


# --------------------------------------------------------------------------
# Registry entries: key -> (builder, DuckDB oracle SQL). The package
# __init__ merges every module's QUERIES into REGISTRY; a new query is
# added here, next to its builder.
# --------------------------------------------------------------------------

QUERIES = {
    "fisher_exact_2x2": (fisher_exact_2x2, FISHER_SQL),
    "kendall_tau_qty_discount": (kendall_tau_qty_discount, KENDALL_SQL),
    "tukey_hsd_segments": (tukey_hsd_segments, TUKEY_SQL),
    "cooks_distance_outliers": (cooks_distance_outliers, COOKS_SQL),
    "boxcox_lambda_scan": (boxcox_lambda_scan, BOXCOX_SQL),
    "pr_auc_order_status": (pr_auc_order_status, PR_AUC_SQL),
    "partial_corr_matrix": (partial_corr_matrix, PARTIAL_CORR_SQL),
    "cronbach_alpha": (cronbach_alpha, CRONBACH_SQL),
    "cohen_kappa_orders": (cohen_kappa_orders, KAPPA_SQL),
    "theil_index_by_segment": (theil_index_by_segment, THEIL_SQL),
    "mcnemar_orders": (mcnemar_orders, MCNEMAR_SQL),
    "bartlett_acctbal_by_segment": (bartlett_acctbal_by_segment,
                                    BARTLETT_B_SQL),
    "higher_moments_by_flag": (higher_moments_by_flag,
                               HIGHER_MOMENTS_SQL),
    "mahalanobis_outliers": (mahalanobis_outliers, MAHALANOBIS_SQL),
    "qq_deciles_priority": (qq_deciles_priority, QQ_DECILES_SQL),
    "chow_test_by_flag": (chow_test_by_flag, CHOW_SQL),
    "effect_sizes_segments": (effect_sizes_segments, EFFECT_SIZES_SQL),
    "gamma_mom_fit": (gamma_mom_fit, GAMMA_MOM_SQL),
    "wilcoxon_signed_rank": (wilcoxon_signed_rank, WILCOXON_SQL),
    "ordinal_assoc_qty_discount": (ordinal_assoc_qty_discount,
                                   ORDINAL_ASSOC_SQL),
    "cochran_armitage_trend": (cochran_armitage_trend,
                               COCHRAN_ARMITAGE_SQL),
    "pareto_frontier_parts": (pareto_frontier_parts, PARETO_SQL),
    "incremental_agg_refresh": (incremental_agg_refresh,
                                INCREMENTAL_AGG_SQL),
    "isotonic_price_by_qty": (isotonic_price_by_qty, ISOTONIC_SQL),
    "lad_lineitem": (lad_lineitem, LAD_SQL),
    "roc_auc_order_status": (roc_auc_order_status, ROC_AUC_SQL),
    "target_encode_mktsegment": (target_encode_mktsegment,
                                 TARGET_ENCODE_SQL),
    "catalog_profile": (catalog_profile, CATALOG_PROFILE_SQL),
    # r08 bound-as-oracle upgrade (VERDICT r07 #1): exact distinct
    # audit + the 5%-band boolean, DuckDB-hash-checked
    "catalog_profile_approx": (catalog_profile_approx,
                               CATALOG_PROFILE_APPROX_SQL),
    "k_anonymity_audit": (k_anonymity_audit, K_ANON_SQL),
    "diff_in_diff_revenue": (diff_in_diff_revenue, DID_SQL),
    "woe_iv_mktsegment": (woe_iv_mktsegment, WOE_IV_SQL),
    "calibration_order_status": (calibration_order_status,
                                 CALIBRATION_SQL),
    "conformal_interval_coverage": (conformal_interval_coverage,
                                    CONFORMAL_SQL),
    "gmm_order_value": (gmm_order_value, GMM_SQL),
    "lorenz_curve_spend": (lorenz_curve_spend, LORENZ_SQL),
}
