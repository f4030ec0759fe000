"""Query registry — a_stats module: robust statistics, rank tests,
regression and tree models, and TPC-H-style business queries. The
``QUERIES`` dict at the end pairs every builder here with its DuckDB
oracle."""


from __future__ import annotations

from collections.abc import Callable

import pandas as pd  # noqa: F401 — resolves pandas-UDF type hints under
                     # postponed annotation evaluation

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import oracles
from ..io import clean_sentinel_numeric, load_table, local_df
from ..operators import clean, features, ml, profile, stats, temporal
from ..operators import dedup as dedup_ops
from ..operators import trees as trees_ops
from ..operators import similarity as sim_ops
from ..operators import text as text_ops

from itertools import combinations as _combos
from .a_core import (  # noqa: E501
    _DESCRIBE_COLS,
    _basket_pair_counts,
    _expected_sql,
    _order_brands,
)


# --------------------------------------------------------------------------
# A63. Median absolute deviation (robust dispersion) per group: the
# outlier-resistant companion to stddev for quality gating. Per-group
# medians are a TINY aggregate broadcast back to the fact (which never
# shuffles for the join); at 100 TB both medians switch to the
# sketch-only stats.grouped_median_approx (same output shape — swap
# per tier). Exact `median` matches DuckDB on doubles.
# --------------------------------------------------------------------------

def mad_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both medians go through stats.grouped_median — position-based
    selection on range-partitioned counts — because F.median sorts each
    group inside one aggregation buffer: with 3 giant groups that is 3
    single-task sorts of the whole fact."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice")
    # materialize the 3-row median table: without it every scan of the
    # deviation pass replays the whole first-median lineage
    med = stats.grouped_median(li, "l_returnflag", "l_extendedprice") \
               .localCheckpoint(eager=True)
    dev = (li.join(F.broadcast(med), "l_returnflag")
             .select("l_returnflag",
                     F.abs(F.col("l_extendedprice") - F.col("med"))
                      .alias("adev"),
                     "med"))
    mad = stats.grouped_median(dev, "l_returnflag", "adev", alias="mad")
    return (med.join(F.broadcast(mad), "l_returnflag")
               .select("l_returnflag",
                       F.round("med", 4).alias("median_price"),
                       F.round("mad", 4).alias("mad")))

MAD_SQL = """
WITH med AS (
  SELECT l_returnflag, median(l_extendedprice) AS med
  FROM lineitem GROUP BY 1
)
SELECT l.l_returnflag,
       round(max(med), 4) AS median_price,
       round(median(abs(l.l_extendedprice - med)), 4) AS mad
FROM lineitem l JOIN med USING (l_returnflag)
GROUP BY l.l_returnflag
"""


# --------------------------------------------------------------------------
# A60. Ridge regression (closed form): one fused Gram-matrix aggregate,
# driver-side (XᵀX + λI) solve. Iterative-free L2 companion to LASSO.
# --------------------------------------------------------------------------

def ridge_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return ml.ridge_fit_df(li, ["l_quantity", "l_discount", "l_tax"],
                           "l_extendedprice", lam=10.0)


# --------------------------------------------------------------------------
# A64. Trimmed mean per group (drop lowest/highest floor(10%) by rank).
# Registered form: exact bracket-refine rank-trim
# (stats.grouped_trimmed_mean) — two order statistics + one conditional
# agg, no per-group buffers. The GROUPED_AGG pandas-UDF showcase
# (trimmed_mean_price_pandas) materializes each group's entire value
# array in one executor — fine as an API parity fixture
# (tests/test_operators_unit.py), an OOM at billion-row groups, so it
# is no longer the registered query (VERDICT r01 "what's wrong" #2).
# --------------------------------------------------------------------------

def trimmed_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    out = stats.grouped_trimmed_mean(li, "l_returnflag", "l_extendedprice",
                                     trim=0.1, alias="__tm")
    return out.select("l_returnflag",
                      F.round(F.col("__tm"), 4).alias("trimmed_mean_price"),
                      "n")


def trimmed_mean_price_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas-UDF twin of ``trimmed_mean_price`` — kept as
    the Arrow aggregate API surface and as a cross-check fixture; not
    registered (whole-group materialization does not scale)."""
    @F.pandas_udf("double")
    def tmean(v: pd.Series) -> float:
        import numpy as np
        a = np.sort(v.to_numpy())
        k = int(len(a) * 0.1)
        return float(a[k: len(a) - k].mean())

    @F.pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return len(v)

    li = load_table(spark, sf_dir, "lineitem")
    # grouped-agg pandas UDFs cannot mix with JVM aggregates in one agg
    return (li.groupBy("l_returnflag")
              .agg(F.round(tmean("l_extendedprice"), 4)
                    .alias("trimmed_mean_price"),
                   n_rows("l_extendedprice").alias("n")))

TRIMMED_MEAN_SQL = """
WITH r AS (
  SELECT l_returnflag, l_extendedprice,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
)
SELECT l_returnflag,
       round(avg(l_extendedprice), 4) AS trimmed_mean_price,
       max(n) AS n
FROM r
WHERE rn > CAST(floor(n * 0.1) AS BIGINT)
  AND rn <= n - CAST(floor(n * 0.1) AS BIGINT)
GROUP BY 1
"""


# --------------------------------------------------------------------------
# A66. Forecast revenue change (TPC-H Q6 shape): pure scan-filter-agg —
# every predicate (shipdate year, discount band, quantity cap) reaches
# the parquet scan as a pushed filter; zero joins, one partial-agg
# reduce to a single row. The canonical "is pushdown working" probe:
# at 100 TB this reads only row groups whose min/max overlap the band.
# --------------------------------------------------------------------------

def forecast_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (li.where((F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
                     & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
                     & (F.col("l_discount") >= 0.04)
                     & (F.col("l_discount") <= 0.06)
                     & (F.col("l_quantity") < 24))
              .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")),
                           4).alias("revenue_delta"),
                   F.count(F.lit(1)).alias("n_rows")))

FORECAST_DELTA_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue_delta,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01'
  AND l_shipdate <  TIMESTAMP '1999-01-01'
  AND l_discount BETWEEN 0.04 AND 0.06
  AND l_quantity < 24
"""


# --------------------------------------------------------------------------
# A67. Bilateral trade volume (TPC-H Q7 shape): revenue shipped between
# two specific nations, by supplier-nation x customer-nation x year.
# Both nation dims broadcast (two aliased copies); the only shuffle is
# lineitem<->orders on orderkey. The nation-pair filter applies right
# after the broadcast joins, before the wide shuffle.
# --------------------------------------------------------------------------

def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation"))
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pair = (((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")))
    return (li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
              .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
              .join(orders, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
                    orders.o_custkey == F.col("c_custkey"))
              .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
              .where(pair)
              .groupBy("supp_nation", "cust_nation",
                       F.year("l_shipdate").alias("ship_year"))
              .agg(F.round(F.sum(rev), 4).alias("volume"),
                   F.count(F.lit(1)).alias("n_lineitems")))

NATION_TRADE_SQL = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS ship_year,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS volume,
       count(*) AS n_lineitems
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# A68. Product-line profit (TPC-H Q9 shape): profit per supplier nation
# per year over a name-filtered part subset. The slim schema has no
# partsupp, so supply cost is modeled as 60% of retail price — the join
# topology (part+supplier broadcast into lineitem, one orders shuffle)
# is the Q9 plan. The part filter prunes the broadcast list BEFORE the
# fact join, so non-matching lineitem rows die at the join, not after.
# --------------------------------------------------------------------------

def profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = (load_table(spark, sf_dir, "part")
            .where(F.col("p_name").like("%red%"))
            .select("p_partkey", "p_retailprice"))
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity"))
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
              .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
              .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
              .join(orders, li.l_orderkey == orders.o_orderkey)
              .groupBy(F.col("n_name").alias("nation"),
                       F.year("o_orderdate").alias("order_year"))
              .agg(F.round(F.sum(profit), 4).alias("profit"),
                   F.count(F.lit(1)).alias("n_lineitems")))

PROFIT_SQL = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS order_year,
       round(sum(l_extendedprice * (1 - l_discount)
                 - 0.6 * p_retailprice * l_quantity), 4) AS profit,
       count(*) AS n_lineitems
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# A69. Returned-item reporting (TPC-H Q10 shape): revenue lost to
# returns per customer in one quarter. The orderdate filter is pushed
# to the orders scan and the returnflag filter to the lineitem scan —
# both facts shrink before their orderkey shuffle; customer+nation
# broadcast into the aggregated result.
# --------------------------------------------------------------------------

def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    q = (orders.where((F.col("o_orderdate") >= F.lit("1999-10-01").cast("timestamp"))
                      & (F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp"))))
    return (li.where(F.col("l_returnflag") == "R")
              .join(q, li.l_orderkey == q.o_orderkey)
              .groupBy("o_custkey")
              .agg(F.round(F.sum(rev), 4).alias("lost_revenue"),
                   F.count(F.lit(1)).alias("n_returned"))
              .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
              .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
              .select(F.col("c_custkey"), F.col("c_mktsegment"),
                      F.col("n_name").alias("nation"),
                      F.round("c_acctbal", 4).alias("c_acctbal"),
                      "lost_revenue", "n_returned"))

RETURNED_ITEMS_SQL = """
SELECT c_custkey, c_mktsegment, n_name AS nation,
       round(c_acctbal, 4) AS c_acctbal,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS lost_revenue,
       count(*) AS n_returned
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1999-10-01'
  AND o_orderdate <  TIMESTAMP '2000-01-01'
GROUP BY 1, 2, 3, 4
"""


# --------------------------------------------------------------------------
# A70. Important-stock share (TPC-H Q11 shape): nations whose suppliers
# carry an above-threshold share of total shipped value. The global
# total (the scalar subquery) is a 1-row aggregate broadcast back via
# cross join — the fact is scanned twice but never self-joined; both
# money sums are exact decimals so the share threshold is
# engine-portable.
# --------------------------------------------------------------------------

def nation_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    val = F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
    per_nation = (li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
                    .join(F.broadcast(nation),
                          F.col("s_nationkey") == nation.n_nationkey)
                    .groupBy("n_name")
                    .agg(val.alias("value_dec")))
    total = li.agg(val.alias("total_dec"))
    return (per_nation.crossJoin(F.broadcast(total))
            .where(F.col("value_dec") > F.lit(0.02) * F.col("total_dec"))
            .select(F.col("n_name").alias("nation"),
                    F.round(F.col("value_dec").cast("double"), 2).alias("value"),
                    F.round((F.col("value_dec") / F.col("total_dec"))
                             .cast("double"), 6).alias("share")))

NATION_VALUE_SHARE_SQL = """
WITH per_nation AS (
  SELECT n_name, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS value_dec
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  GROUP BY n_name
), total AS (
  SELECT sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS total_dec FROM lineitem
)
SELECT n_name AS nation,
       round(CAST(value_dec AS DOUBLE), 2) AS value,
       round(CAST(value_dec / total_dec AS DOUBLE), 6) AS share
FROM per_nation CROSS JOIN total
WHERE value_dec > 0.02 * total_dec
"""


# --------------------------------------------------------------------------
# A71. Promotion revenue share (TPC-H Q14 shape): CASE-sum ratio over a
# month of shipments joined to the part dim. Part broadcast; the month
# filter is pushed to the lineitem scan; single partial-agg reduce to
# one row.
# --------------------------------------------------------------------------

def promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (li.where((F.col("l_shipdate") >= F.lit("1999-09-01").cast("timestamp"))
                     & (F.col("l_shipdate") < F.lit("1999-10-01").cast("timestamp")))
              .join(F.broadcast(part), li.l_partkey == part.p_partkey)
              .agg(F.round(F.lit(100.0) * F.sum(promo) / F.sum(rev), 6)
                    .alias("promo_pct"),
                   F.round(F.sum(rev), 4).alias("total_revenue")))

PROMO_PCT_SQL = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_pct,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1999-09-01'
  AND l_shipdate <  TIMESTAMP '1999-10-01'
"""


# --------------------------------------------------------------------------
# A72. Small-quantity-order revenue (TPC-H Q17 shape): revenue from
# orders below half the part's average quantity. The correlated
# per-part average is decorrelated into a tiny aggregate over the
# brand-filtered fact subset, broadcast back — no self-join of the full
# fact. Quantities are integers stored as doubles, so the decimal
# average makes the 0.5x threshold exact in both engines.
# --------------------------------------------------------------------------

def small_qty_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = (load_table(spark, sf_dir, "part")
            .where(F.col("p_brand") == "Brand#1").select("p_partkey"))
    brand_li = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    avg_qty = (brand_li.groupBy(F.col("l_partkey").alias("ap_partkey"))
               .agg((F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                      / F.count(F.lit(1))).alias("avg_qty_dec")))
    return (brand_li.join(F.broadcast(avg_qty),
                          F.col("l_partkey") == F.col("ap_partkey"))
            .where(F.col("l_quantity").cast("decimal(18,2)")
                   < F.lit(0.5) * F.col("avg_qty_dec"))
            .agg(F.round(F.sum("l_extendedprice") / 7.0, 4)
                  .alias("avg_yearly_loss"),
                 F.count(F.lit(1)).alias("n_small_orders")))

SMALL_QTY_SQL = """
WITH brand_li AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#1'
), avg_qty AS (
  SELECT l_partkey AS ap_partkey,
         sum(CAST(l_quantity AS DECIMAL(18,2))) / count(*) AS avg_qty_dec
  FROM brand_li GROUP BY 1
)
SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly_loss,
       count(*) AS n_small_orders
FROM brand_li JOIN avg_qty ON l_partkey = ap_partkey
WHERE CAST(l_quantity AS DECIMAL(18,2)) < 0.5 * avg_qty_dec
"""


# --------------------------------------------------------------------------
# A73. Disjunctive predicate revenue (TPC-H Q19 shape): three OR'd
# (brand x size-band x quantity-band) bundles evaluated in one pass
# after a broadcast part join. Catalyst extracts the common
# l_quantity <= 40 conjunct as a pushed scan filter; the rest of the
# disjunction runs in codegen above the join.
# --------------------------------------------------------------------------

def discounted_revenue_bundles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    b1 = ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
          & F.col("l_quantity").between(1, 11))
    b2 = ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25)
          & F.col("l_quantity").between(10, 20))
    b3 = ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35)
          & F.col("l_quantity").between(20, 40))
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
              .where(b1 | b2 | b3)
              .agg(F.round(F.sum(rev), 4).alias("revenue"),
                   F.count(F.lit(1)).alias("n_rows")))

DISCOUNTED_BUNDLES_SQL = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 40)
"""


# --------------------------------------------------------------------------
# A74. Excess-shipment suppliers (TPC-H Q20 shape): suppliers who moved
# more than a threshold quantity of PROMO parts in one year, restricted
# to one region's nations. The nested IN chain decorrelates to: tiny
# part list broadcast into the year-filtered fact -> per-supplier
# quantity agg (100 groups) -> HAVING -> semi-join target via broadcast.
# The fact shuffles once, on suppkey, already pre-aggregated map-side.
# --------------------------------------------------------------------------

def excess_shipment_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    promo = (load_table(spark, sf_dir, "part")
             .where(F.col("p_type") == "PROMO").select("p_partkey"))
    shipped = (li.where((F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
                        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp")))
                 .join(F.broadcast(promo), li.l_partkey == promo.p_partkey)
                 .groupBy("l_suppkey")
                 .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                       .alias("qty_dec"))
                 .where(F.col("qty_dec") > 400))
    target = (nation.join(F.broadcast(region),
                          nation.n_regionkey == region.r_regionkey)
                    .where(F.col("r_name") == "AMERICA"))
    return (sup.join(F.broadcast(shipped), sup.s_suppkey == F.col("l_suppkey"))
               .join(F.broadcast(target),
                     F.col("s_nationkey") == F.col("n_nationkey"))
               .select("s_suppkey", "s_name", F.col("n_name").alias("nation"),
                       F.col("qty_dec").cast("double").alias("promo_qty")))

EXCESS_SHIP_SQL = """
WITH shipped AS (
  SELECT l_suppkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'PROMO'
    AND l_shipdate >= TIMESTAMP '1998-01-01'
    AND l_shipdate <  TIMESTAMP '1999-01-01'
  GROUP BY 1
  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 400
)
SELECT s_suppkey, s_name, n_name AS nation,
       CAST(qty_dec AS DOUBLE) AS promo_qty
FROM supplier
JOIN shipped ON s_suppkey = l_suppkey
JOIN nation  ON s_nationkey = n_nationkey
JOIN region  ON n_regionkey = r_regionkey
WHERE r_name = 'AMERICA'
"""


# --------------------------------------------------------------------------
# A75. MERGE-style upsert (CDC apply): base table + change set →
# updated rows overwrite, new keys append — the batch form of MERGE
# INTO for engines without ACID tables. One full-outer sort-merge join
# on the key applies updates AND detects inserts in a single pass
# (coalesce picks the change-set version when present); at scale both
# sides shuffle once on the key, exactly like the snapshot-diff audit.
# The change set is synthesized deterministically from orders itself:
# keys %7==0 get a status/price update, negated keys %13==0 are inserts.
# Output is the post-merge status distribution (small, hashable).
# --------------------------------------------------------------------------

def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    # exact-decimal price bump: a float multiply here would make the
    # double->decimal cast diverge between engines at half-cent ties
    upd = (orders.where(F.col("o_orderkey") % 7 == 0)
                 .select("o_orderkey", F.lit("U").alias("o_orderstatus"),
                         (F.col("o_totalprice").cast("decimal(18,2)")
                          + F.lit(100).cast("decimal(18,2)"))
                          .cast("double").alias("o_totalprice")))
    ins = (orders.where(F.col("o_orderkey") % 13 == 0)
                 .select((-F.col("o_orderkey") - 1).alias("o_orderkey"),
                         F.lit("N").alias("o_orderstatus"),
                         F.col("o_totalprice")))
    chg = upd.unionByName(ins)
    b = base.alias("b")
    c = chg.alias("c")
    merged = (b.join(c, F.col("b.o_orderkey") == F.col("c.o_orderkey"),
                     "full_outer")
               .select(F.coalesce(F.col("c.o_orderstatus"),
                                  F.col("b.o_orderstatus")).alias("status"),
                       F.coalesce(F.col("c.o_totalprice"),
                                  F.col("b.o_totalprice")).alias("price")))
    return (merged.groupBy("status")
                  .agg(F.count(F.lit(1)).alias("n_rows"),
                       F.round(F.sum(F.col("price").cast("decimal(18,2)"))
                                .cast("double"), 2).alias("total_price")))

MERGE_UPSERT_SQL = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
), chg AS (
  SELECT o_orderkey, 'U' AS o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2))
              + CAST(100 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT -o_orderkey - 1, 'N', o_totalprice
  FROM orders WHERE o_orderkey % 13 = 0
), merged AS (
  SELECT coalesce(c.o_orderstatus, b.o_orderstatus) AS status,
         coalesce(c.o_totalprice, b.o_totalprice) AS price
  FROM base b FULL OUTER JOIN chg c ON b.o_orderkey = c.o_orderkey
)
SELECT status, count(*) AS n_rows,
       round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS total_price
FROM merged GROUP BY 1
"""


# --------------------------------------------------------------------------
# A18e. Levene's test, Brown-Forsythe variant (variance homogeneity —
# the assumption check behind ANOVA, R:768). Median-centered absolute
# deviations, then a one-way F on them. The per-group medians are a
# tiny aggregate broadcast back (the fact never shuffles for the join,
# same pattern as the MAD operator); the F statistic reduces to fused
# group moments. Exact medians are fine per group; approx_percentile
# is the documented 100 TB swap.
# --------------------------------------------------------------------------

def levene_acctbal_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (load_table(spark, sf_dir, "customer")
            .select("c_mktsegment", "c_acctbal")
            .where(F.col("c_acctbal").isNotNull()))
    med = (cust.groupBy("c_mktsegment")
               .agg(F.median("c_acctbal").alias("med")))
    z = (cust.join(F.broadcast(med), "c_mktsegment")
             .select("c_mktsegment",
                     F.abs(F.col("c_acctbal") - F.col("med")).alias("z")))
    g = (z.groupBy("c_mktsegment")
          .agg(F.count(F.lit(1)).alias("n_g"),
               F.avg("z").alias("mean_g"),
               F.var_samp("z").alias("var_g")))
    gm = g.agg((F.sum(F.col("n_g") * F.col("mean_g"))
                / F.sum("n_g")).alias("grand_mean"))
    t = (g.crossJoin(F.broadcast(gm))
          .agg(F.sum("n_g").alias("n"), F.count(F.lit(1)).alias("k"),
               F.sum(F.col("n_g")
                     * (F.col("mean_g") - F.col("grand_mean"))
                     * (F.col("mean_g") - F.col("grand_mean"))).alias("ssb"),
               F.sum((F.col("n_g") - 1) * F.col("var_g")).alias("ssw")))
    n, k = F.col("n"), F.col("k")
    # nullif: a constant column collapses every |v − median| to 0 —
    # SSW = 0 makes W undefined => NULL, never an ANSI job abort
    return t.select(
        n.cast("long").alias("n_obs"), k.alias("n_groups"),
        F.round((F.col("ssb") / F.nullif((k - 1).cast("double"),
                                         F.lit(0.0)))
                / F.nullif(F.col("ssw")
                           / F.nullif((n - k).cast("double"),
                                      F.lit(0.0)),
                           F.lit(0.0)), 4)
         .alias("w_stat"))

LEVENE_SQL = """
WITH c AS (
  SELECT c_mktsegment, c_acctbal FROM customer WHERE c_acctbal IS NOT NULL
), med AS (
  SELECT c_mktsegment, median(c_acctbal) AS med FROM c GROUP BY 1
), z AS (
  SELECT c.c_mktsegment, abs(c_acctbal - med) AS z
  FROM c JOIN med USING (c_mktsegment)
), g AS (
  SELECT c_mktsegment, count(*) AS n_g, avg(z) AS mean_g,
         var_samp(z) AS var_g
  FROM z GROUP BY 1
), gm AS (
  SELECT sum(n_g * mean_g) / sum(n_g) AS grand_mean FROM g
), t AS (
  SELECT sum(n_g) AS n, count(*) AS k,
         sum(n_g * (mean_g - grand_mean) * (mean_g - grand_mean)) AS ssb,
         sum((n_g - 1) * var_g) AS ssw
  FROM g, gm
)
SELECT CAST(n AS BIGINT) AS n_obs, k AS n_groups,
       round((ssb / nullif(k - 1, 0))
             / nullif(ssw / nullif(n - k, 0), 0), 4) AS w_stat
FROM t
"""


# --------------------------------------------------------------------------
# A18f. Mann-Whitney U test (2-sample rank test, the nonparametric
# companion to the Welch t-test A17): urgent- vs low-priority order
# values. Tie-averaged ranks are computed on the DISTINCT-value table
# (never a per-row sort — the rank window runs over |unique values|
# rows), exactly the Kruskal-Wallis machinery restricted to two
# groups, plus the normal approximation with tie correction.
# --------------------------------------------------------------------------

def mannwhitney_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (load_table(spark, sf_dir, "orders")
         .where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
         .select("o_orderpriority", "o_totalprice"))
    # materialized (localCheckpoint): the rank helper's branches and
    # the tie-correction agg otherwise replay the orders scan+shuffle 4x
    vals = (o.groupBy("o_totalprice").agg(F.count(F.lit(1)).alias("t"))
             .localCheckpoint(eager=True))
    # range-partitioned ranks: near-unique prices make the distinct
    # table orders-sized — never a single-task global window
    ranked = stats.tie_avg_ranks(vals, "o_totalprice", "t")
    per = (o.groupBy("o_orderpriority", "o_totalprice")
            .agg(F.count(F.lit(1)).alias("n_vg")))
    grp = (per.join(ranked.select("o_totalprice", "avg_rank"), "o_totalprice")
              .groupBy("o_orderpriority")
              .agg(F.sum(F.col("avg_rank") * F.col("n_vg")).alias("rg"),
                   F.sum("n_vg").alias("ng")))
    g1 = grp.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("rg").alias("r1"), F.col("ng").alias("n1"))
    g2 = grp.where(F.col("o_orderpriority") == "5-LOW").select(
        F.col("ng").alias("n2"))
    ties = vals.agg(F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
                     .alias("tie3"))
    n1, n2, tie3 = F.col("n1"), F.col("n2"), F.col("tie3")
    n = n1 + n2
    u1 = F.col("r1") - (n1 * (n1 + 1)) / F.lit(2.0)
    mu = n1 * n2 / F.lit(2.0)
    sig2 = (n1 * n2 / F.lit(12.0)) * ((n + 1)
            - tie3 / ((n * (n - 1)).cast("double")))
    # nullif: an all-tied input zeroes the tie-corrected variance — z
    # is undefined => NULL, never an ANSI abort (A18fb twin's guard)
    zed = (u1 - mu) / F.nullif(F.sqrt(sig2), F.lit(0.0))
    return (g1.crossJoin(g2).crossJoin(ties)
              .select(n1.cast("long").alias("n_urgent"),
                      n2.cast("long").alias("n_low"),
                      F.round(u1, 4).alias("u_stat"),
                      F.round(zed, 4).alias("z_stat")))

MANNWHITNEY_SQL = """
WITH o AS (
  SELECT o_orderpriority, o_totalprice FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
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
  SELECT o_orderpriority, o_totalprice, count(*) AS n_vg FROM o GROUP BY 1, 2
), grp AS (
  SELECT o_orderpriority, sum(avg_rank * n_vg) AS rg,
         CAST(sum(n_vg) AS BIGINT) AS ng
  FROM per JOIN r2 USING (o_totalprice) GROUP BY 1
), ties AS (
  SELECT sum(t * t * t - t) AS tie3 FROM vals
), g1 AS (
  SELECT rg AS r1, ng AS n1 FROM grp WHERE o_orderpriority = '1-URGENT'
), g2 AS (
  SELECT ng AS n2 FROM grp WHERE o_orderpriority = '5-LOW'
)
SELECT CAST(n1 AS BIGINT) AS n_urgent, CAST(n2 AS BIGINT) AS n_low,
       round(r1 - (n1 * (n1 + 1)) / 2.0, 4) AS u_stat,
       round((r1 - (n1 * (n1 + 1)) / 2.0 - n1 * n2 / 2.0)
             / nullif(sqrt((n1 * n2 / 12.0)
                    * ((n1 + n2 + 1)
                       - tie3 / CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE))),
                      0),
             4) AS z_stat
FROM g1, g2, ties
"""


# --------------------------------------------------------------------------
# A76. HHI market-concentration audit: squared revenue shares of each
# supplier within its nation (the antitrust concentration index — the
# reference's share-of-total EDA generalized). Per-supplier revenues
# are one fact shuffle on (nationkey, suppkey); the nation-level HHI is
# computed on the supplier-sized table. Intermediate revenues are NOT
# rounded — only the final 0..1 ratio is (rounding near-half
# intermediates is the cross-engine divergence trap).
# --------------------------------------------------------------------------

def hhi_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    srev = (li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
              .groupBy("s_nationkey", "s_suppkey")
              .agg(F.sum(rev).alias("rev")))
    return (srev.join(F.broadcast(nation),
                      srev.s_nationkey == nation.n_nationkey)
                .groupBy("n_name")
                .agg(F.count(F.lit(1)).alias("n_suppliers"),
                     F.round(F.sum(F.col("rev") * F.col("rev"))
                             / (F.sum("rev") * F.sum("rev")), 4)
                      .alias("hhi")))

HHI_SQL = """
WITH srev AS (
  SELECT s_nationkey, s_suppkey,
         sum(l_extendedprice * (1 - l_discount)) AS rev
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2
)
SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
       round(sum(rev * rev) / (sum(rev) * sum(rev)), 4) AS hhi
FROM srev JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1
"""


# --------------------------------------------------------------------------
# A77. Benford first-digit audit (fraud/anomaly screening on amount
# columns). The leading digit comes from the STRING form — identical
# across engines, immune to log10 ulp effects at power-of-ten
# boundaries. One shuffle over 9 digit groups; expected Benford mass
# is ln(1+1/d)/ln(10); chi-square contribution per digit.
# --------------------------------------------------------------------------

def benford_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    digit = F.regexp_extract(F.col("o_totalprice").cast("string"),
                             "^([1-9])", 1)
    counts = (orders.where(F.col("o_totalprice") > 0)
              .select(digit.cast("int").alias("digit"))
              .where(F.col("digit").isNotNull())
              .groupBy("digit").agg(F.count(F.lit(1)).alias("n")))
    total = counts.agg(F.sum("n").alias("n_total"))
    exp_frac = F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    return (counts.crossJoin(F.broadcast(total))
            .select("digit", "n",
                    F.round(F.col("n") / F.col("n_total"), 4)
                     .alias("obs_frac"),
                    F.round(exp_frac, 4).alias("exp_frac"),
                    F.round(F.pow(F.col("n") - F.col("n_total") * exp_frac, 2)
                            / (F.col("n_total") * exp_frac), 4)
                     .alias("chi2_term")))

BENFORD_SQL = """
WITH counts AS (
  SELECT CAST(regexp_extract(CAST(o_totalprice AS VARCHAR),
                             '^([1-9])', 1) AS INT) AS digit,
         count(*) AS n
  FROM orders
  WHERE o_totalprice > 0
    AND regexp_extract(CAST(o_totalprice AS VARCHAR), '^([1-9])', 1) <> ''
  GROUP BY 1
), total AS (SELECT sum(n) AS n_total FROM counts)
SELECT digit, CAST(n AS BIGINT) AS n,
       round(n / n_total, 4) AS obs_frac,
       round(ln(1.0 + 1.0 / digit) / ln(10.0), 4) AS exp_frac,
       round(pow(n - n_total * (ln(1.0 + 1.0 / digit) / ln(10.0)), 2)
             / (n_total * (ln(1.0 + 1.0 / digit) / ln(10.0))), 4)
         AS chi2_term
FROM counts CROSS JOIN total
"""


# --------------------------------------------------------------------------
# A78. Market-basket brand affinity (support + lift): which part
# brands co-occur in the same order beyond chance. The distinct
# (order, brand) table shuffles once on orderkey into per-order sorted
# brand ARRAYS; unordered pairs are generated IN-ROW by a nested
# transform over the array (bounded by items-per-order, ≤7 in TPC-H
# shape) — no self-join, no second shuffle of the pair table (A/B'ed
# 12.7s self-join vs 4.9s arrays at 20x stress). Brand marginals and
# the order total are broadcast back onto the brands²-sized counts.
# --------------------------------------------------------------------------

def basket_brand_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # materialize the distinct (order, brand) table: the marginal,
    # n_ord, and per-order branches (THREE consumers) otherwise replay
    # the fact scan+join+distinct — the measured crossover where the
    # checkpoint wins (contrast item_cosine_similarity's two consumers)
    ob = _order_brands(spark, sf_dir).localCheckpoint(eager=True)
    n_ord = (ob.select("ok").distinct()
               .agg(F.count(F.lit(1)).alias("n_ord")))
    bc = ob.groupBy("brand").agg(F.count(F.lit(1)).alias("n_b"))
    pairs = (_basket_pair_counts(ob)
             .withColumnRenamed("a", "brand_a")
             .withColumnRenamed("b", "brand_b"))
    ca = bc.select(F.col("brand").alias("brand_a"),
                   F.col("n_b").alias("n_a_orders"))
    cb = bc.select(F.col("brand").alias("brand_b"),
                   F.col("n_b").alias("n_b_orders"))
    return (pairs.join(F.broadcast(ca), "brand_a")
                 .join(F.broadcast(cb), "brand_b")
                 .crossJoin(F.broadcast(n_ord))
                 .select("brand_a", "brand_b", "n_ab",
                         F.round(F.col("n_ab") / F.col("n_ord"), 4)
                          .alias("support"),
                         F.round((F.col("n_ab") * F.col("n_ord"))
                                 / (F.col("n_a_orders")
                                    * F.col("n_b_orders")), 4)
                          .alias("lift")))

BASKET_LIFT_SQL = """
WITH ob AS (
  SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), n_orders AS (SELECT count(DISTINCT ok) AS n_ord FROM ob),
bc AS (SELECT brand, count(*) AS n_b FROM ob GROUP BY 1),
pairs AS (
  SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS n_ab
  FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
  GROUP BY 1, 2
)
SELECT brand_a, brand_b, CAST(n_ab AS BIGINT) AS n_ab,
       round(n_ab / n_ord, 4) AS support,
       round((n_ab * n_ord) / (ca.n_b * cb.n_b), 4) AS lift
FROM pairs CROSS JOIN n_orders
JOIN bc ca ON ca.brand = brand_a
JOIN bc cb ON cb.brand = brand_b
"""


# --------------------------------------------------------------------------
# A79. Gini concentration coefficient per customer segment — the
# inequality measure of account balances, via the rank formula
# G = 2·Σ rᵢxᵢ / (n·Σx) − (n+1)/n with tie-AVERAGED ranks (making the
# result permutation-invariant under ties). Ranks come from
# stats.tie_avg_ranks_by_group: range-partitioned on VALUE, so no
# segment's window ever collapses to one task (the low-cardinality
# partition trap). Everything after the distinct-value aggregate is
# value-cardinality-sized.
# --------------------------------------------------------------------------

def gini_acctbal_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    counts = (cust.where(F.col("c_acctbal") > 0)
                  .groupBy("c_mktsegment",
                           F.col("c_acctbal").alias("v"))
                  .agg(F.count(F.lit(1)).alias("t"))
                  # materialize: the rank helper's branches otherwise
                  # replay the customer scan+shuffle
                  .localCheckpoint(eager=True))
    ranked = stats.tie_avg_ranks_by_group(
        counts, "c_mktsegment", "v", "t", alias="r")
    per = (ranked.groupBy("c_mktsegment")
           .agg(F.sum("t").alias("n"),
                F.sum(F.col("v") * F.col("t")).alias("sx"),
                F.sum(F.col("r") * F.col("v") * F.col("t")).alias("srx")))
    return per.select(
        "c_mktsegment", F.col("n").alias("n_customers"),
        F.round(2.0 * F.col("srx") / (F.col("n") * F.col("sx"))
                - (F.col("n") + 1.0) / F.col("n"), 4).alias("gini"))

GINI_SQL = """
WITH counts AS (
  SELECT c_mktsegment, c_acctbal AS v, count(*) AS t
  FROM customer WHERE c_acctbal > 0 GROUP BY 1, 2
), ranked AS (
  SELECT c_mktsegment, v, t,
         sum(t) OVER (PARTITION BY c_mktsegment ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - (t - 1) / 2.0 AS r
  FROM counts
)
SELECT c_mktsegment, CAST(sum(t) AS BIGINT) AS n_customers,
       round(2.0 * sum(r * v * t) / (sum(t) * sum(v * t))
             - (sum(t) + 1.0) / sum(t), 4) AS gini
FROM ranked GROUP BY 1
"""


# --------------------------------------------------------------------------
# A18g. Two-sample Kolmogorov-Smirnov test (URGENT vs LOW order
# values): D = max |ECDF₁ − ECDF₂| over the DISTINCT-value table. Both
# ECDFs come from ONE range-partitioned cumulative pass
# (stats.range_cumsum — no single-task global window over the
# near-unique price column); the scaled statistic √(n₁n₂/(n₁+n₂))·D
# is the classic large-sample form. Distinct-value agg first, so the
# window input is value-cardinality-sized, not row-sized.
# --------------------------------------------------------------------------

def ks_order_value_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    g1, g2 = "1-URGENT", "5-LOW"
    orders = load_table(spark, sf_dir, "orders")
    counts = (orders.where(F.col("o_orderpriority").isin(g1, g2))
              .groupBy(F.col("o_totalprice").alias("v"))
              .agg(F.sum(F.when(F.col("o_orderpriority") == g1, 1)
                          .otherwise(0)).alias("n1"),
                   F.sum(F.when(F.col("o_orderpriority") == g2, 1)
                          .otherwise(0)).alias("n2"))
              # materialize the distinct-value table: the cumulative
              # pass + total otherwise replay the orders scan+shuffle
              # per lineage branch
              .localCheckpoint(eager=True))
    cum = stats.range_cumsum(counts, "v", ["n1", "n2"])
    tot = counts.agg(F.sum("n1").alias("t1"), F.sum("n2").alias("t2"))
    d = (cum.crossJoin(F.broadcast(tot))
            .agg(F.max(F.abs(F.col("cum_n1") / F.col("t1")
                             - F.col("cum_n2") / F.col("t2"))).alias("d"),
                 F.any_value("t1").alias("t1"),
                 F.any_value("t2").alias("t2")))
    return d.select(
        F.col("t1").alias("n_urgent"), F.col("t2").alias("n_low"),
        F.round("d", 4).alias("ks_d"),
        F.round(F.sqrt(F.col("t1") * F.col("t2")
                       / (F.col("t1") + F.col("t2"))) * F.col("d"), 4)
         .alias("ks_stat"))

KS_SQL = """
WITH counts AS (
  SELECT o_totalprice AS v,
         sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS n1,
         sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS n2
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
  GROUP BY 1
), cum AS (
  SELECT sum(n1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS c1,
         sum(n2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS c2
  FROM counts
), tot AS (SELECT sum(n1) AS t1, sum(n2) AS t2 FROM counts),
d AS (
  SELECT max(abs(c1 / t1 - c2 / t2)) AS d,
         any_value(t1) AS t1, any_value(t2) AS t2
  FROM cum CROSS JOIN tot
)
SELECT CAST(t1 AS BIGINT) AS n_urgent, CAST(t2 AS BIGINT) AS n_low,
       round(d, 4) AS ks_d,
       round(sqrt(t1 * t2 / (t1 + t2)) * d, 4) AS ks_stat
FROM d
"""


# --------------------------------------------------------------------------
# A18gb. Approximate two-sample KS on a fixed uniform value grid
# (VERDICT r03 #4 — the 100 TB path for A18g): the exact form's
# distinct-value cumulative table is O(rows) on a continuous column;
# here both ECDFs are evaluated ONLY at the G=128 edges of a uniform
# [min, max] grid — one bounded groupBy, grid-sized state, one pass.
# Two guarantees ship IN the output: the edge evaluations are EXACT
# ECDF values (binning adds no error at an edge), so
# ks_d_approx ≤ ks_d_exact always; and within bucket k each ECDF can
# move by at most its bucket mass, so
# ks_d_exact ≤ ks_d_upper = max_k max(diff_k + f2_k/t2, −diff_k + f1_k/t1)
# — the bracket [ks_d_approx, ks_d_upper] is asserted against the
# exact A18g at two SFs in tests/test_round4.py. Unlike a
# percentile_approx grid this grid is engine-reproducible (exact
# min/max + IEEE arithmetic in identical op order), so the query keeps
# a full VALUE-LEVEL oracle. The cumulative window runs over ≤G rows
# (a constant), never over data.
# --------------------------------------------------------------------------

_KS_GRID = 128


def _ks_grid(d: DataFrame, G: int, n1_alias: str = "n1",
             n2_alias: str = "n2") -> DataFrame:
    """Grid-binned two-sample-KS core over a (v, i1) frame —
    parametrized by G so the [ks_d_approx, ks_d_upper] bracket
    theorem is testable on coarse grids (tests/test_round6.py
    randomized containment tests)."""
    spark = d.sparkSession
    mm = d.agg(F.min("v").alias("mn"), F.max("v").alias("mx"),
               F.sum("i1").alias("t1"),
               F.sum(1 - F.col("i1")).alias("t2"))
    # 1-row frame feeding two consumers — materialize once
    mm = local_df(spark, mm.collect(), mm.schema)
    j = d.crossJoin(F.broadcast(mm))
    raw = F.floor((F.col("v") - F.col("mn"))
                  / (F.col("mx") - F.col("mn")) * G)
    b = (F.when(F.col("mx") > F.col("mn"),
                F.least(F.lit(G - 1), F.greatest(F.lit(0), raw)))
          .otherwise(F.lit(0))).cast("int")
    counts = (j.groupBy(b.alias("__gbkt"))
                .agg(F.sum("i1").alias("f1"),
                     F.sum(1 - F.col("i1")).alias("f2")))
    # __gbkt is grid-bounded (<= _KS_GRID rows) by construction — the
    # plan-hygiene allowlist admits it as a non-data-sized window key
    w = Window.orderBy("__gbkt").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.select(
        "f1", "f2",
        F.sum("f1").over(w).alias("c1"), F.sum("f2").over(w).alias("c2"))
    t1d = F.col("t1").cast("double")
    t2d = F.col("t2").cast("double")
    diff = F.col("c1") / t1d - F.col("c2") / t2d
    fin = (cum.crossJoin(F.broadcast(mm))
              .agg(F.any_value("t1").alias("t1"),
                   F.any_value("t2").alias("t2"),
                   F.max(F.abs(diff)).alias("d"),
                   F.max(F.greatest(diff + F.col("f2") / t2d,
                                    -diff + F.col("f1") / t1d))
                    .alias("du")))
    return fin.select(
        F.col("t1").alias(n1_alias), F.col("t2").alias(n2_alias),
        F.lit(G).alias("grid_size"),
        F.round("d", 4).alias("ks_d_approx"),
        F.round("du", 4).alias("ks_d_upper"),
        # doubles BEFORE the product: t1·t2 would overflow int64 at
        # ~3e9 rows per arm (the 100 TB regime)
        F.round(F.sqrt(F.col("t1").cast("double")
                       * F.col("t2").cast("double")
                       / (F.col("t1") + F.col("t2")).cast("double"))
                * F.col("d"), 4).alias("ks_stat_approx"))


def ks_approx_order_value_priority(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    g1, g2 = "1-URGENT", "5-LOW"
    o = load_table(spark, sf_dir, "orders")
    d = (o.where(F.col("o_orderpriority").isin(g1, g2))
          .select(F.col("o_totalprice").cast("double").alias("v"),
                  (F.col("o_orderpriority") == g1).cast("int").alias("i1")))
    return _ks_grid(d, _KS_GRID, "n_urgent", "n_low")


KS_APPROX_SQL = f"""
WITH d AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS i1
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
), mm AS (
  SELECT min(v) AS mn, max(v) AS mx,
         sum(i1) AS t1, sum(1 - i1) AS t2
  FROM d
), counts AS (
  SELECT CASE WHEN mx > mn
              THEN CAST(least({_KS_GRID - 1}, greatest(0,
                        floor((v - mn) / (mx - mn) * {_KS_GRID}))) AS INT)
              ELSE 0 END AS b,
         sum(i1) AS f1, sum(1 - i1) AS f2
  FROM d CROSS JOIN mm GROUP BY 1
), cum AS (
  SELECT f1, f2,
         sum(f1) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS c1,
         sum(f2) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS c2
  FROM counts
)
SELECT CAST(any_value(t1) AS BIGINT) AS n_urgent,
       CAST(any_value(t2) AS BIGINT) AS n_low,
       {_KS_GRID} AS grid_size,
       round(max(abs(c1 / CAST(t1 AS DOUBLE) - c2 / CAST(t2 AS DOUBLE))), 4)
         AS ks_d_approx,
       round(max(greatest(
           c1 / CAST(t1 AS DOUBLE) - c2 / CAST(t2 AS DOUBLE)
             + f2 / CAST(t2 AS DOUBLE),
           c2 / CAST(t2 AS DOUBLE) - c1 / CAST(t1 AS DOUBLE)
             + f1 / CAST(t1 AS DOUBLE))), 4) AS ks_d_upper,
       round(sqrt(CAST(any_value(t1) AS DOUBLE)
                  * CAST(any_value(t2) AS DOUBLE)
                  / CAST(any_value(t1) + any_value(t2) AS DOUBLE))
             * max(abs(c1 / CAST(t1 AS DOUBLE) - c2 / CAST(t2 AS DOUBLE))),
             4) AS ks_stat_approx
FROM cum CROSS JOIN mm
"""


# --------------------------------------------------------------------------
# A80. RFM customer segmentation (recency / frequency / monetary
# quartile scores — the classic CRM cohorting). One orders shuffle
# builds the per-customer metric table; each metric's quartile bounds
# come from the exact bracket-refine grouped_quantiles (customer-sized
# input, broadcast back as 1-row tables); scores are strict-threshold
# counts so both engines bucket boundary ties identically. Output is
# the 4³-ish segment grid.
# --------------------------------------------------------------------------

def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import money
    orders = load_table(spark, sf_dir, "orders")
    ref = orders.agg(F.max("o_orderdate").alias("rd"))
    pc = (orders.groupBy("o_custkey")
          .agg(F.max("o_orderdate").alias("last_o"),
               F.count(F.lit(1)).alias("freq"),
               F.sum(money("o_totalprice")).alias("mon_dec"))
          .crossJoin(F.broadcast(ref))
          .select("o_custkey", "freq", "mon_dec",
                  F.col("mon_dec").cast("double").alias("mon"),
                  F.datediff(F.to_date("rd"), F.to_date("last_o"))
                   .cast("double").alias("rec")))
    # materialize the customer-sized metric table: the quantile probe
    # + scoring otherwise replay the orders scan+shuffle ~4x
    pc = pc.localCheckpoint(eager=True)
    # ONE fused quantile pass for all three metrics: melt to
    # (metric, value) and let grouped_quantiles bracket the three
    # groups together — three separate probes cost 3x the jobs for
    # identical values (each group runs the same exact refine)
    melted = pc.select(
        F.explode(F.map_from_arrays(
            F.array(F.lit("rec"), F.lit("freq"), F.lit("mon")),
            F.array(F.col("rec").cast("double"),
                    F.col("freq").cast("double"),
                    F.col("mon").cast("double"))))
        .alias("__m", "__v"))
    b3 = stats.grouped_quantiles(melted, "__m", "__v",
                                 [0.25, 0.5, 0.75], ["q1", "q2", "q3"])
    bounds_wide = b3.agg(*[
        F.max(F.when(F.col("__m") == m, F.col(q))).alias(f"{m}_{q}")
        for m in ("rec", "freq", "mon") for q in ("q1", "q2", "q3")])
    scored = pc.crossJoin(F.broadcast(bounds_wide))
    up = lambda m: ((F.col(m) > F.col(f"{m}_q1")).cast("int")
                    + (F.col(m) > F.col(f"{m}_q2")).cast("int")
                    + (F.col(m) > F.col(f"{m}_q3")).cast("int"))
    seg = scored.select(
        "mon_dec",
        (4 - up("rec")).alias("r_score"),
        (1 + up("freq")).alias("f_score"),
        (1 + up("mon")).alias("m_score"))
    # avg over the EXACT decimal sum (one deterministic division) —
    # averaging the per-customer doubles instead re-rounds a value that
    # sits on a half-tick differently per partition order
    return (seg.groupBy(F.concat(F.col("r_score").cast("string"),
                                 F.col("f_score").cast("string"),
                                 F.col("m_score").cast("string"))
                        .alias("rfm_segment"))
               .agg(F.count(F.lit(1)).alias("n_customers"),
                    F.round(F.sum("mon_dec").cast("double")
                            / F.count(F.lit(1)), 4).alias("avg_monetary")))

RFM_SQL = """
WITH ref AS (SELECT max(o_orderdate) AS rd FROM orders),
pc AS (
  SELECT o_custkey,
         CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
                        CAST(any_value(rd) AS DATE)) AS DOUBLE) AS rec,
         count(*) AS freq,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS mon_dec,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS mon
  FROM orders CROSS JOIN ref GROUP BY 1
), b AS (
  SELECT quantile_cont(rec, 0.25) AS rec_q1, quantile_cont(rec, 0.5) AS rec_q2,
         quantile_cont(rec, 0.75) AS rec_q3,
         quantile_cont(CAST(freq AS DOUBLE), 0.25) AS freq_q1,
         quantile_cont(CAST(freq AS DOUBLE), 0.5) AS freq_q2,
         quantile_cont(CAST(freq AS DOUBLE), 0.75) AS freq_q3,
         quantile_cont(mon, 0.25) AS mon_q1, quantile_cont(mon, 0.5) AS mon_q2,
         quantile_cont(mon, 0.75) AS mon_q3
  FROM pc
), seg AS (
  SELECT mon_dec,
         4 - ((rec > rec_q1)::INT + (rec > rec_q2)::INT
              + (rec > rec_q3)::INT) AS r_score,
         1 + (freq > freq_q1)::INT + (freq > freq_q2)::INT
           + (freq > freq_q3)::INT AS f_score,
         1 + (mon > mon_q1)::INT + (mon > mon_q2)::INT
           + (mon > mon_q3)::INT AS m_score
  FROM pc CROSS JOIN b
)
SELECT concat(CAST(r_score AS VARCHAR), CAST(f_score AS VARCHAR),
              CAST(m_score AS VARCHAR)) AS rfm_segment,
       count(*) AS n_customers,
       round(CAST(sum(mon_dec) AS DOUBLE) / count(*), 4) AS avg_monetary
FROM seg GROUP BY 1
"""


# --------------------------------------------------------------------------
# A81. Kaplan-Meier retention curve: survival S(t) over user activity
# lifespans. Churn = the first ≥3-day inactivity gap (including
# trailing inactivity before corpus end); users with no such gap are
# right-CENSORED at corpus end — a genuine event/censor mix on this
# near-daily-activity corpus. Classic KM product
# Π(1 − dᵢ/nᵢ) distributed as exp(−Σ −ln(factor)): both cumulative
# passes (at-risk counts, log-factors) ride stats.range_cumsum on the
# distinct-duration table — never a row-sized window, and the −ln form
# keeps the running sum non-negative as range_cumsum requires.
# --------------------------------------------------------------------------

def _churn_life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared survival life table (3-day-gap churn, right-censored at
    the observation edge): one row per duration with event/censor
    counts and the at-risk set — the common input of the Kaplan-Meier
    (C13 family) and Nelson-Aalen estimators. Cumulatives run through
    range_cumsum on the ≤#days-sized duration table."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    mx = ev.agg(F.max(F.to_date("ts")).alias("m"))
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    wlead = Window.partitionBy("user_id").orderBy("d")
    g = ud.withColumn("nxt", F.lead("d").over(wlead))
    per_user = (g.groupBy("user_id")
                 .agg(F.min(F.when(F.datediff("nxt", "d") >= 3,
                                   F.col("d"))).alias("ichurn"),
                      F.min("d").alias("fd"), F.max("d").alias("ld"))
                 .crossJoin(F.broadcast(mx))
                 .withColumn("cd", F.coalesce(
                     "ichurn",
                     F.when(F.datediff("m", "ld") >= 3, F.col("ld"))))
                 .select(F.datediff(F.coalesce("cd", "m"), "fd")
                          .alias("dur"),
                         F.col("cd").isNotNull().cast("int")
                          .alias("churned")))
    counts = (per_user.groupBy("dur")
              .agg(F.sum("churned").alias("d"),
                   F.sum(1 - F.col("churned")).alias("c"))
              .localCheckpoint(eager=True))
    tot = counts.agg((F.sum("d") + F.sum("c")).alias("n_total"))
    return (stats.range_cumsum(counts, "dur", ["d", "c"])
            .crossJoin(F.broadcast(tot))
            .withColumn("at_risk",
                        F.col("n_total") - (F.col("cum_d") + F.col("cum_c"))
                        + F.col("d") + F.col("c")))


#: shared SQL CTE prefix for the churn life table (ends at ``cum``
#: with columns dur, d, c, at_risk) — keep in lockstep with
#: _churn_life_table
_CHURN_LIFE_SQL = """
WITH mx AS (SELECT CAST(max(ts) AS DATE) AS m
            FROM events WHERE ts IS NOT NULL),
ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
       FROM events WHERE ts IS NOT NULL),
g AS (SELECT user_id, d,
             lead(d) OVER (PARTITION BY user_id ORDER BY d) AS nxt
      FROM ud),
f AS (SELECT user_id,
             min(CASE WHEN date_diff('day', d, nxt) >= 3 THEN d END)
               AS ichurn,
             min(d) AS fd, max(d) AS ld
      FROM g GROUP BY 1),
per_user AS (
  SELECT date_diff('day', fd,
                   coalesce(coalesce(ichurn,
                            CASE WHEN date_diff('day', ld, m) >= 3
                                 THEN ld END), m)) AS dur,
         (coalesce(ichurn,
                   CASE WHEN date_diff('day', ld, m) >= 3
                        THEN ld END) IS NOT NULL)::INT AS churned
  FROM f CROSS JOIN mx
), counts AS (
  SELECT dur, sum(churned) AS d, sum(1 - churned) AS c
  FROM per_user GROUP BY 1
), tot AS (SELECT sum(d) + sum(c) AS n_total FROM counts),
cum AS (
  SELECT dur, d, c, n_total,
         n_total - (sum(d) OVER w + sum(c) OVER w) + d + c AS at_risk
  FROM counts CROSS JOIN tot
  WINDOW w AS (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
)"""


def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    cum = (_churn_life_table(spark, sf_dir)
           .withColumn("neg_ln_f",
                       F.when(F.col("d") > 0,
                              -F.log(1.0 - F.col("d") / F.col("at_risk")))
                        .otherwise(F.lit(0.0))))
    km = stats.range_cumsum(cum, "dur", ["neg_ln_f"])
    return (km.where(F.col("d") > 0)
              .select(F.col("dur").cast("int").alias("duration_days"),
                      F.col("at_risk").alias("n_at_risk"),
                      F.col("d").alias("n_churned"),
                      F.round(F.exp(-F.col("cum_neg_ln_f")), 4)
                       .alias("survival")))

KM_SQL = _CHURN_LIFE_SQL + """, km AS (
  SELECT dur, d, at_risk,
         sum(CASE WHEN d > 0 THEN -ln(1.0 - d / at_risk)
                  ELSE 0.0 END)
           OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS cum_neg_ln_f
  FROM cum
)
SELECT CAST(dur AS INT) AS duration_days,
       CAST(at_risk AS BIGINT) AS n_at_risk,
       CAST(d AS BIGINT) AS n_churned,
       round(exp(-cum_neg_ln_f), 4) AS survival
FROM km WHERE d > 0
"""


# --------------------------------------------------------------------------
# A82. Deterministic half-sample bootstrap CI for the mean order
# value: 32 replicates; replicate b keeps the rows whose b-th hex
# char of md5(orderkey) clears a 50% threshold (engine-portable,
# seed-free — one md5 digest per ROW supplies all 32 independent
# inclusion bits; hashing 32 separate md5(key:b) strings per row cost
# 2.5x the wall-clock for the same design). The fact is scanned ONCE:
# the 32 replicate sums/counts and the full-corpus mean are 65
# conditional aggregates in a single pass — no row fan-out, no
# shuffle beyond the 1-row partial merge. Replicate means use
# exact-decimal sums (one deterministic division each).
# --------------------------------------------------------------------------

def bootstrap_ci_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import money
    orders = load_table(spark, sf_dir, "orders")
    # exact INTEGER cents, not decimal (optimization round 10): the 32
    # replicate sums promote decimal(18,2) to decimal(28,2), whose
    # aggregation buffer is BigDecimal-backed — measured 1.68 s vs
    # 1.29 s for the same fused aggregate on long cents at sf0.1. The
    # cent total is the same exact rational, so sum_cents/100.0 is the
    # bit-identical double the decimal sum's cast produced (verified
    # bitwise over all 32 replicates). int64 headroom: ~6e17 cents for
    # a half-replicate at 100 TB orders, ~15x under overflow.
    p = (money("o_totalprice") * 100).cast("long")
    h = F.md5(F.col("o_orderkey").cast("string"))
    aggs = []
    for b in range(1, 33):
        keep = F.substring(h, b, 1) < "8"
        aggs.append(F.sum(F.when(keep, p)).alias(f"s{b}"))
        aggs.append(F.sum(keep.cast("long")).alias(f"c{b}"))
    aggs.append(F.round(F.sum(p) / 100.0 / F.count(F.lit(1)), 4)
                 .alias("full_mean"))
    one = orders.agg(*aggs)
    means = F.array(*[F.col(f"s{b}") / 100.0 / F.col(f"c{b}")
                      for b in range(1, 33)])
    rep = one.select(F.explode(means).alias("rep_mean"), "full_mean")
    # count("rep_mean") not count(*): an EMPTY replicate (possible only
    # on tiny/degenerate corpora — a bit column selecting zero rows)
    # yields a NULL rep_mean that avg/stddev skip; the reported
    # replicate count must match the sample the CI is computed from
    # (r06 ADVICE #4; the oracle mirrors count(rep_mean))
    return (rep.groupBy("full_mean")
               .agg(F.count("rep_mean").alias("n_replicates"),
                    F.avg("rep_mean").alias("bm"),
                    F.stddev_samp("rep_mean").alias("sd"))
               .select("n_replicates",
                       F.round("bm", 4).alias("boot_mean"),
                       F.round(F.col("bm") - 1.96 * F.col("sd"), 4)
                        .alias("ci_lo"),
                       F.round(F.col("bm") + 1.96 * F.col("sd"), 4)
                        .alias("ci_hi"),
                       "full_mean"))

BOOTSTRAP_SQL = f"""
WITH one AS (
  SELECT
    {", ".join(
        f"sum(CASE WHEN substring(md5(CAST(o_orderkey AS VARCHAR)), "
        f"{b}, 1) < '8' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) "
        f"AS s{b}, "
        f"sum(CASE WHEN substring(md5(CAST(o_orderkey AS VARCHAR)), "
        f"{b}, 1) < '8' THEN 1 ELSE 0 END) AS c{b}"
        for b in range(1, 33))},
    round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          / count(*), 4) AS full_mean
  FROM orders
), rep AS (
  SELECT unnest([{", ".join(f"CAST(s{b} AS DOUBLE) / c{b}"
                            for b in range(1, 33))}]) AS rep_mean,
         full_mean
  FROM one
), s AS (
  SELECT full_mean, count(rep_mean) AS n_replicates, avg(rep_mean) AS bm,
         stddev_samp(rep_mean) AS sd
  FROM rep GROUP BY full_mean
)
SELECT n_replicates, round(bm, 4) AS boot_mean,
       round(bm - 1.96 * sd, 4) AS ci_lo,
       round(bm + 1.96 * sd, 4) AS ci_hi,
       full_mean
FROM s
"""


# --------------------------------------------------------------------------
# A18h. Two-proportion z-test (pooled): finished-order rate, URGENT vs
# LOW priority — the categorical companion to the Welch t-test. All
# four counts come from ONE conditional-aggregate scan (no join, no
# window); the z statistic is scalar arithmetic on the 1-row result.
# --------------------------------------------------------------------------

def prop_ztest_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    is1 = F.col("o_orderpriority") == "1-URGENT"
    is2 = F.col("o_orderpriority") == "5-LOW"
    hit = F.col("o_orderstatus") == "F"
    agg = o.agg(
        F.sum(is1.cast("int")).alias("n1"),
        F.sum((is1 & hit).cast("int")).alias("x1"),
        F.sum(is2.cast("int")).alias("n2"),
        F.sum((is2 & hit).cast("int")).alias("x2"))
    n1, x1 = F.col("n1"), F.col("x1")
    n2, x2 = F.col("n2"), F.col("x2")
    # nullif: an absent arm (or an all-hit/no-hit pooled rate) zeroes
    # the denominators — undefined => NULL, never an ANSI abort
    p1 = x1 / F.nullif(n1.cast("double"), F.lit(0.0))
    p2 = x2 / F.nullif(n2.cast("double"), F.lit(0.0))
    pp = (x1 + x2) / F.nullif((n1 + n2).cast("double"), F.lit(0.0))
    zed = ((p1 - p2)
           / F.nullif(F.sqrt(pp * (1 - pp) * (1.0 / n1 + 1.0 / n2)),
                      F.lit(0.0)))
    return agg.select(
        n1.cast("long").alias("n_urgent"), n2.cast("long").alias("n_low"),
        F.round(p1, 4).alias("rate_urgent"),
        F.round(p2, 4).alias("rate_low"),
        F.round(zed, 4).alias("z_stat"))

PROP_ZTEST_SQL = """
WITH agg AS (
  SELECT sum((o_orderpriority = '1-URGENT')::INT) AS n1,
         sum((o_orderpriority = '1-URGENT' AND o_orderstatus = 'F')::INT)
           AS x1,
         sum((o_orderpriority = '5-LOW')::INT) AS n2,
         sum((o_orderpriority = '5-LOW' AND o_orderstatus = 'F')::INT)
           AS x2
  FROM orders
)
SELECT CAST(n1 AS BIGINT) AS n_urgent, CAST(n2 AS BIGINT) AS n_low,
       round(x1 / nullif(n1, 0), 4) AS rate_urgent,
       round(x2 / nullif(n2, 0), 4) AS rate_low,
       round((x1 / nullif(n1, 0) - x2 / nullif(n2, 0))
             / nullif(sqrt(((x1 + x2) / nullif(n1 + n2, 0))
                    * (1 - (x1 + x2) / nullif(n1 + n2, 0))
                    * (1.0 / n1 + 1.0 / n2)), 0), 4) AS z_stat
FROM agg
"""


# --------------------------------------------------------------------------
# A83. Information gain feature screening: IG(label; feature) =
# H(label) − H(label|feature) from exact contingency counts — the
# entropy-based analogue of the VIF/correlation feature screens. One
# (feature, label) shuffle per feature, both features unioned into a
# single pass pipeline; entropies via Σ n·ln n identities on the tiny
# contingency tables (same algebra as token_entropy_by_source).
# --------------------------------------------------------------------------

def info_gain_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    feats = li.select(
        F.col("l_returnflag").alias("y"),
        F.explode(F.array(
            F.struct(F.lit("linestatus").alias("feature"),
                     F.col("l_linestatus").alias("x")),
            F.struct(F.lit("qty_bin").alias("feature"),
                     F.floor(F.col("l_quantity") / 10).cast("string")
                      .alias("x")))).alias("f")
    ).select("y", "f.feature", "f.x")
    cell = feats.groupBy("feature", "x", "y").agg(
        F.count(F.lit(1)).alias("n"))
    # H(y|x) = (Σ_x n_x·H_x)/N with H_x = ln n_x − Σ_y n·ln n / n_x;
    # everything reduces to sums of n·ln n over the contingency table
    per_feat = cell.groupBy("feature").agg(
        F.sum("n").alias("N"),
        F.sum(F.col("n") * F.log("n")).alias("s_cell"))
    margx = (cell.groupBy("feature", "x").agg(F.sum("n").alias("nx"))
             .groupBy("feature")
             .agg(F.sum(F.col("nx") * F.log("nx")).alias("s_x")))
    margy = (cell.groupBy("feature", "y").agg(F.sum("n").alias("ny"))
             .groupBy("feature")
             .agg(F.sum(F.col("ny") * F.log("ny")).alias("s_y")))
    j = per_feat.join(margx, "feature").join(margy, "feature")
    h_y = F.log("N") - F.col("s_y") / F.col("N")
    h_y_given_x = (F.col("s_x") - F.col("s_cell")) / F.col("N")
    return j.select("feature",
                    F.round(h_y, 4).alias("h_label"),
                    F.round(h_y_given_x, 4).alias("h_label_given_feature"),
                    F.round(h_y - h_y_given_x, 4).alias("info_gain"))

INFO_GAIN_SQL = """
WITH feats AS (
  SELECT l_returnflag AS y, 'linestatus' AS feature, l_linestatus AS x
  FROM lineitem
  UNION ALL
  SELECT l_returnflag AS y, 'qty_bin' AS feature,
         CAST(floor(l_quantity / 10) AS VARCHAR) AS x
  FROM lineitem
), cell AS (
  SELECT feature, x, y, count(*) AS n FROM feats GROUP BY 1, 2, 3
), per_feat AS (
  SELECT feature, sum(n) AS N, sum(n * ln(n)) AS s_cell
  FROM cell GROUP BY 1
), margx AS (
  SELECT feature, sum(nx * ln(nx)) AS s_x
  FROM (SELECT feature, x, sum(n) AS nx FROM cell GROUP BY 1, 2)
  GROUP BY 1
), margy AS (
  SELECT feature, sum(ny * ln(ny)) AS s_y
  FROM (SELECT feature, y, sum(n) AS ny FROM cell GROUP BY 1, 2)
  GROUP BY 1
)
SELECT p.feature,
       round(ln(N) - s_y / N, 4) AS h_label,
       round((s_x - s_cell) / N, 4) AS h_label_given_feature,
       round((ln(N) - s_y / N) - (s_x - s_cell) / N, 4) AS info_gain
FROM per_feat p JOIN margx USING (feature) JOIN margy USING (feature)
"""


# --------------------------------------------------------------------------
# A18i. Chi-square cell diagnostics: standardized residuals per
# contingency cell plus Cramér's V — WHERE the dependence lives, not
# just whether it exists (the drill-down the reference's table() EDA
# implies). One (status, priority) shuffle; margins ride tiny windows
# over the cells² table, V is scalar arithmetic broadcast from the
# 1-row total.
# --------------------------------------------------------------------------

def chisq_cell_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cell = (o.groupBy("o_orderstatus", "o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n")))
    wr = Window.partitionBy("o_orderstatus")
    wc = Window.partitionBy("o_orderpriority")
    wt = Window.partitionBy()
    d = (cell.withColumn("nr", F.sum("n").over(wr))
             .withColumn("nc", F.sum("n").over(wc))
             .withColumn("nt", F.sum("n").over(wt))
             .withColumn("exp", F.col("nr") * F.col("nc") / F.col("nt")))
    chi2 = (F.sum(F.pow(F.col("n") - F.col("exp"), 2) / F.col("exp"))
             .over(wt))
    # Cramér's V needs min(rows, cols) − 1: count distinct margins on
    # the tiny cell table via size(collect_set())
    nrow = F.size(F.collect_set("o_orderstatus").over(wt))
    ncol = F.size(F.collect_set("o_orderpriority").over(wt))
    # nullif: a 1xK (or 1x1) table zeroes min(rows,cols)−1 — V is
    # undefined => NULL, never an ANSI DIVIDE_BY_ZERO job abort
    v = F.sqrt(chi2 / F.nullif(
        (F.col("nt") * (F.least(nrow, ncol) - 1)).cast("double"),
        F.lit(0.0)))
    return d.select(
        "o_orderstatus", "o_orderpriority", "n",
        F.round("exp", 4).alias("expected"),
        F.round((F.col("n") - F.col("exp")) / F.sqrt("exp"), 4)
         .alias("std_residual"),
        F.round(v, 4).alias("cramers_v"))

CHISQ_CELLS_SQL = """
WITH cell AS (
  SELECT o_orderstatus, o_orderpriority, count(*) AS n
  FROM orders GROUP BY 1, 2
), d AS (
  SELECT *,
         sum(n) OVER (PARTITION BY o_orderstatus) AS nr,
         sum(n) OVER (PARTITION BY o_orderpriority) AS nc,
         sum(n) OVER () AS nt
  FROM cell
), e AS (
  SELECT *, nr * nc / nt AS exp,
         count(DISTINCT o_orderstatus) OVER () AS nrow,
         count(DISTINCT o_orderpriority) OVER () AS ncol
  FROM d
)
SELECT o_orderstatus, o_orderpriority, CAST(n AS BIGINT) AS n,
       round(exp, 4) AS expected,
       round((n - exp) / sqrt(exp), 4) AS std_residual,
       round(sqrt(sum(pow(n - exp, 2) / exp) OVER ()
                  / nullif(nt * (least(nrow, ncol) - 1), 0)), 4)
         AS cramers_v
FROM e
"""


# --------------------------------------------------------------------------
# A84. Deterministic weighted sampling (Efraimidis-Spirakis A-ES):
# priority key u^(1/w) from an md5-derived uniform — seed-free,
# engine-portable, one codegen pass; the global top-k is a distributed
# TakeOrdered (per-partition heaps, never a full sort). Higher-value
# orders are proportionally likelier to be kept; rerunning yields the
# SAME sample — the reproducibility property training-data pipelines
# need.
# --------------------------------------------------------------------------

def weighted_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    u = (F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")),
                            1, 8), 16, 10).cast("double")
         / F.lit(4294967296.0))
    key = F.pow(u, 1.0 / F.col("o_totalprice"))
    return (o.select("o_orderkey", "o_totalprice",
                     F.round(key, 10).alias("es_key"))
             .orderBy(F.col("es_key").desc(), "o_orderkey")
             .limit(100))

WEIGHTED_SAMPLE_SQL = """
SELECT o_orderkey, o_totalprice,
       round(pow(CAST('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)),
                                        1, 8) AS BIGINT)
                 / 4294967296.0, 1.0 / o_totalprice), 10) AS es_key
FROM orders
ORDER BY es_key DESC, o_orderkey
LIMIT 100
"""


# --------------------------------------------------------------------------
# A20b. Per-group simple regression via the native regr_* aggregate
# family (Spark 3.4+/ANSI): slope, intercept, R² of price ~ quantity
# per return flag in ONE fused aggregate pass — the grouped companion
# to A20's global covar/var form. Pure codegen, map-side partials.
# --------------------------------------------------------------------------

def grouped_linreg_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return (li.groupBy("l_returnflag")
              .agg(F.regr_count(y, x).alias("n"),
                   F.round(F.regr_slope(y, x), 4).alias("slope"),
                   F.round(F.regr_intercept(y, x), 4).alias("intercept"),
                   F.round(F.regr_r2(y, x), 4).alias("r2")))

GROUPED_LINREG_SQL = """
SELECT l_returnflag,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 4) AS r2
FROM lineitem GROUP BY 1
"""


# --------------------------------------------------------------------------
# A85. Generalized means per group (geometric / harmonic alongside the
# arithmetic): the rate-averaging family the plain avg() gets wrong —
# geometric for multiplicative growth, harmonic for rates. Both reduce
# to one fused aggregate via exp(avg(ln x)) and n/Σ(1/x); positive
# domain enforced by the quantity filter.
# --------------------------------------------------------------------------

def generalized_means_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (load_table(spark, sf_dir, "lineitem")
          .where(F.col("l_quantity") > 0))
    q = F.col("l_quantity")
    return (li.groupBy("l_returnflag")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.avg(q), 4).alias("mean_arith"),
                   F.round(F.exp(F.avg(F.log(q))), 4).alias("mean_geo"),
                   F.round(F.count(F.lit(1)) / F.sum(1.0 / q), 4)
                    .alias("mean_harmonic")))

GENERALIZED_MEANS_SQL = """
SELECT l_returnflag, count(*) AS n,
       round(avg(l_quantity), 4) AS mean_arith,
       round(exp(avg(ln(l_quantity))), 4) AS mean_geo,
       round(count(*) / sum(1.0 / l_quantity), 4) AS mean_harmonic
FROM lineitem WHERE l_quantity > 0
GROUP BY 1
"""


# --------------------------------------------------------------------------
# A86. k-fold cross-validation (caret::trainControl repeatedcv,
# 20210803_이승하.R:1085): leave-fold-out OLS via sufficient-statistic
# set algebra — all k models from ONE scan, held-out metrics from a
# second. Folds are grouped by order key (an order's lines never
# straddle the train/test boundary — no leakage).
# --------------------------------------------------------------------------

def cv_metrics_by_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return ml.kfold_cv_simple_linreg(
        li, "l_quantity", "l_extendedprice",
        F.pmod(F.col("l_orderkey"), F.lit(5)), k=5)

_CV_SQL_BODY = """
WITH d AS (
  SELECT {fold} AS fold,
         l_quantity AS x, l_extendedprice AS y
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
), per AS (
  SELECT fold, CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM d GROUP BY fold
), tot AS (
  SELECT sum(n) AS tn, sum(sx) AS tsx, sum(sy) AS tsy,
         sum(sxx) AS tsxx, sum(sxy) AS tsxy
  FROM per
), coef AS (
  SELECT fold,
         ((tsxy - sxy) - (tsx - sx) * (tsy - sy) / nullif(tn - n, 0))
         / nullif((tsxx - sxx)
                  - (tsx - sx) * (tsx - sx) / nullif(tn - n, 0), 0) AS b,
         ((tsy - sy)
          - ((tsxy - sxy) - (tsx - sx) * (tsy - sy) / nullif(tn - n, 0))
          / nullif((tsxx - sxx)
                   - (tsx - sx) * (tsx - sx) / nullif(tn - n, 0), 0)
          * (tsx - sx))
         / nullif(tn - n, 0) AS a
  FROM per, tot
), e AS (
  SELECT d.fold, d.y, c.a, c.b, d.y - (c.a + c.b * d.x) AS err
  FROM d JOIN coef c ON d.fold = c.fold
)
SELECT {head}fold, count(*) AS n,
       round(any_value(b), 4) AS slope,
       round(any_value(a), 4) AS intercept,
       round(sqrt(avg(err * err)), 4) AS rmse,
       round(avg(abs(err / nullif(y, 0.0))), 4) AS mape,
       round(1.0 - sum(err * err)
             / (CASE WHEN sum(y * y) - sum(y) * sum(y) / count(*)
                          > 1e-12 * sum(y * y)
                THEN sum(y * y) - sum(y) * sum(y) / count(*) END), 4)
         + 0.0 AS r2
FROM e GROUP BY fold
"""

CV_METRICS_SQL = _CV_SQL_BODY.format(
    fold="CAST(l_orderkey % 5 AS INT)", head="")


# --------------------------------------------------------------------------
# A86b. REPEATED k-fold CV — the reference's exact trainControl
# (method="repeatedcv", number=5) shape: independent fold partitions
# per repeat. Repeat r partitions by floor(key/5^r) mod 5, which is a
# genuinely different grouping per repeat (not a relabeling) and stays
# engine-portable (explicit floor: DuckDB CAST rounds, Spark truncates).
# --------------------------------------------------------------------------

def repeated_cv_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    outs = []
    for r in range(2):
        fold = F.pmod(F.floor(F.col("l_orderkey") / F.lit(5 ** r))
                       .cast("long"), F.lit(5))
        cv = ml.kfold_cv_simple_linreg(li, "l_quantity", "l_extendedprice",
                                       fold, k=5)
        outs.append(cv.select(F.lit(r).alias("rep"), "*"))
    return outs[0].unionByName(outs[1])

REPEATED_CV_SQL = "\nUNION ALL\n".join(
    "SELECT * FROM (" + _CV_SQL_BODY.format(
        fold=f"CAST(floor(l_orderkey / {5 ** r}) AS INT) % 5",
        head=f"{r} AS rep, ") + ")"
    for r in range(2))


# --------------------------------------------------------------------------
# A90. OLS with categorical dummies — the reference regresses on
# categorical 지역/region factors (R:1194 lm over factor columns). Dummy
# columns are built in the projection (baseline = 'N'), then the same
# one-pass normal-equation machinery fits; the oracle Cramer-solves the
# identical Gram system over a dummy-encoding subquery.
# --------------------------------------------------------------------------

def ols_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (load_table(spark, sf_dir, "lineitem")
          .withColumn("flag_r", F.when(F.col("l_returnflag") == "R", 1.0)
                                 .otherwise(0.0))
          .withColumn("flag_a", F.when(F.col("l_returnflag") == "A", 1.0)
                                 .otherwise(0.0)))
    return ml.ols_fit_df(li, ["l_quantity", "flag_r", "flag_a"],
                         "l_extendedprice")

OLS_CATEGORICAL_SQL = oracles.normal_eq_sql(
    ["l_quantity", "flag_r", "flag_a"], "l_extendedprice",
    table="(SELECT l_quantity, l_extendedprice, "
          "CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS flag_r, "
          "CASE WHEN l_returnflag = 'A' THEN 1.0 ELSE 0.0 END AS flag_a "
          "FROM lineitem) __t")


# --------------------------------------------------------------------------
# A91. Top supplier(s) by total revenue (TPC-H Q15 shape): aggregate
# view + scalar-subquery max + ties kept. The revenue view is computed
# once; the max is a 1-row broadcast, so no second scan of the fact.
# --------------------------------------------------------------------------

def top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    rev = (li.groupBy("l_suppkey")
             .agg(F.round(F.sum(F.col("l_extendedprice")
                                * (1 - F.col("l_discount"))), 2)
                   .alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    return (rev.crossJoin(F.broadcast(mx))
               .where(F.col("total_revenue") == F.col("__mx"))
               .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
               .select("s_suppkey", "s_name", "total_revenue"))

TOP_SUPPLIER_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
"""


# --------------------------------------------------------------------------
# A87. Train→test scoring output (R:1280-1373): per-row predictions +
# residuals on the held-out fold — the "submission frame" the reference
# assembles at the end. Coefficients are rounded to 4 decimals BEFORE
# scoring so both engines score with identical decimal constants and
# per-row arithmetic is bit-identical.
# --------------------------------------------------------------------------

def score_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    xs, y = ["l_quantity", "l_discount"], "l_extendedprice"
    train = li.where(F.pmod(F.col("l_orderkey"), F.lit(5)) != 0)
    fit = ml.ols_fit(train, xs, y)
    b = [round(fit["intercept"], 4)] + [round(fit[f"coef_{c}"], 4)
                                        for c in xs]
    pred = F.lit(b[0]) + F.lit(b[1]) * F.col(xs[0]) + F.lit(b[2]) * F.col(xs[1])
    test = li.where((F.pmod(F.col("l_orderkey"), F.lit(5)) == 0)
                    & F.col(xs[0]).isNotNull() & F.col(xs[1]).isNotNull()
                    & F.col(y).isNotNull())
    # 6-decimal outputs: exact for 4-dec coefs x 2-dec inputs, so no
    # half-way rounding ties across engines (see oracles.score_holdout_sql)
    return test.select(
        "l_orderkey", "l_linenumber", F.col(y).alias("actual"),
        F.round(pred, 6).alias("predicted"),
        F.round(F.col(y) - pred, 6).alias("residual"))

SCORE_HOLDOUT_SQL = oracles.score_holdout_sql(
    ["l_quantity", "l_discount"], "l_extendedprice",
    ["l_orderkey", "l_linenumber"])


# --------------------------------------------------------------------------
# A87b. Tree-ensemble holdout scoring — the reference's ACTUAL
# deliverable is randomForest predictions on the held-out frame
# (R:1280-1373's submission file); `score_holdout` covers the OLS
# shape, this covers the tree shape. Same deterministic 80/20 hash
# split; the forest trains on the train fold only and scores the
# holdout through pure codegen CASE expressions (no UDF, no model
# broadcast). Deterministic end-to-end (integer split stats +
# hash bootstrap), hence expected-parquet oracle.
# --------------------------------------------------------------------------

def rf_score_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    xs, y = ["l_quantity", "l_discount", "l_tax"], "l_extendedprice"
    train = li.where(F.pmod(F.col("l_orderkey"), F.lit(5)) != 0)
    test = li.where(F.pmod(F.col("l_orderkey"), F.lit(5)) == 0)
    model = trees_ops.fit_random_forest(train, xs, y,
                                        n_trees=10, max_depth=4)
    return trees_ops.score_df(model, test,
                              ["l_orderkey", "l_linenumber"], y)


# --------------------------------------------------------------------------
# A87c. Forest holdout metrics (VERDICT r03 #7): the bounded-output
# twin of `rf_score_holdout` — the per-row prediction frame is the
# reference's deliverable (R:1280-1373) but grows with the data (12M
# rows at 20×, dominated by harness collect); this fuses the SAME
# scoring projection into ONE RMSE/MAPE/R² aggregate (the A23
# machinery), so the result is 1 row at any scale. Oracle: DuckDB
# computes the identical metrics over the committed expected-parquet
# predictions (hash-verified by the driver in r03), on the ROUNDED
# 4-dp predictions both sides share.
# --------------------------------------------------------------------------

def rf_holdout_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = rf_score_holdout(spark, sf_dir)
    y, p = F.col("actual"), F.col("predicted")
    # nullif: zero actuals / a constant holdout response would
    # ANSI-throw — MAPE excludes zero-actual rows, R2 degrades to
    # NULL on zero SST (the ml.eval_metrics contract)
    return scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sqrt(F.avg((y - p) * (y - p))), 4).alias("rmse"),
        F.round(F.avg(F.abs((y - p) / F.nullif(y, F.lit(0.0)))), 4)
         .alias("mape"),
        F.round(1.0 - F.sum((y - p) * (y - p))
                / stats.noise_floor(
                    F.sum(y * y)
                    - F.sum(y) * F.sum(y) / F.count(F.lit(1)),
                    F.sum(y * y)),
                4).alias("r2"))


# --------------------------------------------------------------------------
# A88. Gradient-boosted trees (the reference loads xgboost, R:57):
# deterministic squared-loss boosting on the histogram-split engine —
# integer residuals survive every round, so the importances earn an
# expected-parquet oracle (was MLlib rows-only through r02).
# --------------------------------------------------------------------------

def gbt_feature_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    model = trees_ops.fit_gbt(
        load_table(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_discount", "l_tax"], "l_extendedprice",
        n_trees=5, max_depth=3)
    return trees_ops.importance_df(model, spark)


# --------------------------------------------------------------------------
# A89. KNN imputation (DMwR2::knnImputation, R:820-823): fill a missing
# value with the mean over the k nearest neighbors in embedding space.
# The missing side is the small side (broadcast query set); candidates
# stream map-side — the cosine_topk contract. At a larger missing
# fraction, swap the scorer for the LSH/IVF ANN path (same join shape).
# --------------------------------------------------------------------------

def knn_impute_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    missing = emb.where(F.pmod(F.col("vec_id"), F.lit(10)) == 0)
    labeled = emb.where(F.pmod(F.col("vec_id"), F.lit(10)) != 0)
    nn = sim_ops.cosine_topk(labeled, missing, k=5)
    lab = labeled.select(F.col("vec_id").alias("cand_id"), "label")
    return (nn.join(lab, "cand_id")
              .groupBy(F.col("query_id").alias("vec_id"))
              .agg(F.round(F.avg("label"), 4).alias("imputed_label"),
                   F.count(F.lit(1)).alias("n_neighbors")))

KNN_IMPUTE_SQL = """
WITH lab AS (
  -- zero-norm exclusion mirrors similarity._unit_nonzero
  SELECT vec_id, embedding::DOUBLE[] AS e, label
  FROM embeddings WHERE vec_id % 10 <> 0
    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
), q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id % 10 = 0
    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
), scored AS (
  SELECT q.query_id, lab.label,
         round(list_dot_product(q.qv, lab.e) /
               (sqrt(list_dot_product(q.qv, q.qv)) *
                sqrt(list_dot_product(lab.e, lab.e))), 4) AS score,
         lab.vec_id AS cand_id
  FROM q CROSS JOIN lab
  WHERE lab.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, label,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, cand_id) AS rank
  FROM scored
)
SELECT query_id AS vec_id, round(avg(label), 4) AS imputed_label,
       count(*) AS n_neighbors
FROM ranked WHERE rank <= 5 GROUP BY query_id
"""


RF_HOLDOUT_METRICS_SQL_TEMPLATE = """
WITH e AS ({expected})
SELECT count(*) AS n,
       round(sqrt(avg((actual - predicted) * (actual - predicted))), 4)
         AS rmse,
       round(avg(abs((actual - predicted) / actual)), 4) AS mape,
       round(1.0 - sum((actual - predicted) * (actual - predicted))
             / (CASE WHEN sum(actual * actual)
                          - sum(actual) * sum(actual) / count(*)
                          > 1e-12 * sum(actual * actual)
                THEN sum(actual * actual)
                     - sum(actual) * sum(actual) / count(*) END), 4) AS r2
FROM e
"""


# --------------------------------------------------------------------------
# A92. Winsorized statistics per group (robust moments EDA — the
# clamp-at-percentile companion to the Tukey fences of A44): exact
# p01/p99 via the bracket-refine quantile machinery (no per-group
# sorts), then one conditional clamp-aggregate. The clamp uses the
# UNROUNDED cutoffs; interpolated percentiles cannot collide with data
# values (they fall strictly between adjacent order statistics), so
# cross-engine ulp differences cannot flip a clamp decision.
# --------------------------------------------------------------------------

def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (load_table(spark, sf_dir, "lineitem")
          .where(F.col("l_extendedprice").isNotNull()))
    q = stats.grouped_quantiles(li, "l_returnflag", "l_extendedprice",
                                [0.01, 0.99], ["p01", "p99"])
    w = li.join(F.broadcast(q), "l_returnflag")
    v = F.col("l_extendedprice")
    clamped = F.least(F.greatest(v, F.col("p01")), F.col("p99"))
    return (w.groupBy("l_returnflag")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.round(F.avg(clamped), 4).alias("winsorized_mean"),
                  F.round(F.stddev_samp(clamped), 4).alias("winsorized_sd"),
                  F.sum(((v < F.col("p01")) | (v > F.col("p99")))
                        .cast("long")).alias("n_clamped"),
                  F.round(F.first("p01"), 4).alias("p01"),
                  F.round(F.first("p99"), 4).alias("p99")))

WINSORIZED_SQL = """
WITH q AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.01) AS p01,
         quantile_cont(l_extendedprice, 0.99) AS p99
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
), w AS (
  SELECT l.l_returnflag,
         least(greatest(l_extendedprice, p01), p99) AS cv,
         l_extendedprice AS v, p01, p99
  FROM lineitem l JOIN q USING (l_returnflag)
  WHERE l_extendedprice IS NOT NULL
)
SELECT l_returnflag, count(*) AS n,
       round(avg(cv), 4) AS winsorized_mean,
       round(stddev_samp(cv), 4) AS winsorized_sd,
       CAST(sum(CASE WHEN v < p01 OR v > p99 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clamped,
       round(any_value(p01), 4) AS p01,
       round(any_value(p99), 4) AS p99
FROM w GROUP BY 1
"""


# --------------------------------------------------------------------------
# A93. LOESS smoothing curve (geom_smooth(method="loess"), R:607,656,
# 701,1114,1153): G tricube-weighted local regressions fused into ONE
# aggregation pass (stats.loess_curve). The oracle replays the same
# G x 6 conditional sums.
# --------------------------------------------------------------------------

_LOESS_GRID = [2.5 * i for i in range(1, 21)]
_LOESS_H = 10.0


def loess_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return stats.loess_curve(li, "l_quantity", "l_extendedprice",
                             _LOESS_GRID, _LOESS_H)


def _loess_sql() -> str:
    sums, sels = [], []
    for i, g in enumerate(_LOESS_GRID):
        u = f"(abs(l_quantity - {g!r}) / {_LOESS_H!r})"
        w = (f"(CASE WHEN {u} < 1 "
             f"THEN pow(1 - pow({u}, 3), 3) ELSE 0.0 END)")
        sums += [f"sum({w}) AS sw_{i}",
                 f"sum({w} * l_quantity) AS swx_{i}",
                 f"sum({w} * l_extendedprice) AS swy_{i}",
                 f"sum({w} * l_quantity * l_quantity) AS swxx_{i}",
                 f"sum({w} * l_quantity * l_extendedprice) AS swxy_{i}",
                 f"CAST(sum(CASE WHEN {u} < 1 THEN 1 ELSE 0 END) AS BIGINT)"
                 f" AS nl_{i}"]
        b = (f"((sw_{i} * swxy_{i} - swx_{i} * swy_{i})"
             f" / nullif(sw_{i} * swxx_{i} - swx_{i} * swx_{i}, 0.0))")
        a = f"((swy_{i} - {b} * swx_{i}) / nullif(sw_{i}, 0.0))"
        sels.append(
            f"SELECT {g!r} AS grid_x,"
            f" round({a} + {b} * {g!r}, 4) AS loess_fit,"
            f" nl_{i} AS n_local FROM m")
    return ("WITH m AS (\nSELECT " + ",\n       ".join(sums)
            + "\nFROM lineitem WHERE l_quantity IS NOT NULL"
              " AND l_extendedprice IS NOT NULL\n)\n"
            + "\nUNION ALL\n".join(sels))


LOESS_SQL = _loess_sql()


# --------------------------------------------------------------------------
# A94. Chained-equation imputation (mice loaded at R:59): two columns
# with disjoint missingness alternate regression fills (deterministic
# variant, clean.chained_regression_impute). The oracle unrolls the
# same mean-init + two iterations of covar/var regressions in CTEs.
# --------------------------------------------------------------------------

def mice_impute_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (load_table(spark, sf_dir, "lineitem")
          .withColumn("tax_val",
                      F.when(F.col("l_linenumber") != 1, F.col("l_tax")))
          .withColumn("disc_val",
                      F.when(F.col("l_linenumber") != 2,
                             F.col("l_discount"))))
    filled = clean.chained_regression_impute(li, "tax_val", "disc_val",
                                             n_iter=2)
    return (filled.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("tax_val").isNull().cast("long"))
                  .alias("n_filled_tax"),
                 F.sum(F.col("disc_val").isNull().cast("long"))
                  .alias("n_filled_disc"),
                 F.round(F.avg("tax_val_filled"), 6).alias("avg_tax_filled"),
                 F.round(F.avg("disc_val_filled"), 6)
                  .alias("avg_disc_filled")))

MICE_SQL = """
WITH base AS (
  SELECT l_returnflag,
         CASE WHEN l_linenumber <> 1 THEN l_tax END AS a,
         CASE WHEN l_linenumber <> 2 THEN l_discount END AS b
  FROM lineitem
), m0 AS (
  SELECT avg(a) AS ma, avg(b) AS mb FROM base
), f0 AS (
  SELECT l_returnflag, a, b,
         coalesce(a, ma) AS a0, coalesce(b, mb) AS b0
  FROM base, m0
), c1 AS (
  SELECT covar_pop(b0, a) / var_pop(b0) AS s,
         avg(a) AS mt, avg(b0) AS mp
  FROM f0 WHERE a IS NOT NULL
), f1 AS (
  SELECT l_returnflag, a, b, b0,
         coalesce(a, mt + s * (b0 - mp)) AS a1
  FROM f0, c1
), c2 AS (
  SELECT covar_pop(a1, b) / var_pop(a1) AS s,
         avg(b) AS mt, avg(a1) AS mp
  FROM f1 WHERE b IS NOT NULL
), f2 AS (
  SELECT l_returnflag, a, b, a1,
         coalesce(b, mt + s * (a1 - mp)) AS b1
  FROM f1, c2
), c3 AS (
  SELECT covar_pop(b1, a) / var_pop(b1) AS s,
         avg(a) AS mt, avg(b1) AS mp
  FROM f2 WHERE a IS NOT NULL
), f3 AS (
  SELECT l_returnflag, a, b, b1,
         coalesce(a, mt + s * (b1 - mp)) AS a2
  FROM f2, c3
), c4 AS (
  SELECT covar_pop(a2, b) / var_pop(a2) AS s,
         avg(b) AS mt, avg(a2) AS mp
  FROM f3 WHERE b IS NOT NULL
), f4 AS (
  SELECT l_returnflag, a, b, a2,
         coalesce(b, mt + s * (a2 - mp)) AS b2
  FROM f3, c4
)
SELECT l_returnflag, count(*) AS n,
       CAST(sum(CASE WHEN a IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_filled_tax,
       CAST(sum(CASE WHEN b IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_filled_disc,
       round(avg(a2), 6) AS avg_tax_filled,
       round(avg(b2), 6) AS avg_disc_filled
FROM f4 GROUP BY 1
"""


# --------------------------------------------------------------------------
# A95. Bagged trees (ipred loaded at R:59): bootstrap-aggregated
# regression trees = the deterministic forest with feature_subset
# "all" (every tree sees every feature; variance comes only from the
# hash-based bootstrap). Expected-parquet oracle like RF/GBT.
# --------------------------------------------------------------------------

def bagged_trees_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    model = trees_ops.fit_random_forest(
        load_table(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_discount", "l_tax"], "l_extendedprice",
        n_trees=15, max_depth=4, feature_subset="all")
    return trees_ops.importance_df(model, spark)


# --------------------------------------------------------------------------
# A96. Missingness profile + co-missingness patterns (VIM::aggr,
# loaded at R:59; the reference inspects missingness before imputing).
# Per-column counts are one fused aggregate; patterns are a groupBy on
# the null-flag combination (2^k cells max — tiny shuffle).
# --------------------------------------------------------------------------

def _with_missingness(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (load_table(spark, sf_dir, "lineitem")
            .withColumn("tax_val",
                        F.when(F.col("l_linenumber") != 1, F.col("l_tax")))
            .withColumn("disc_val",
                        F.when(F.col("l_linenumber") != 2,
                               F.col("l_discount")))
            .withColumn("price_val",
                        F.when(F.col("l_linenumber") < 6,
                               F.col("l_extendedprice"))))

_MISS_COLS = ["tax_val", "disc_val", "price_val"]


def missingness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _with_missingness(spark, sf_dir)
    agg = li.agg(F.count(F.lit(1)).alias("n"),
                 *[F.count(c).alias(f"nn_{c}") for c in _MISS_COLS])
    stack = ", ".join(f"'{c}', n - nn_{c}" for c in _MISS_COLS)
    return (agg.selectExpr(
        "n", f"stack({len(_MISS_COLS)}, {stack}) AS (column, n_missing)")
        .select(F.col("column"), F.col("n_missing"),
                F.round(F.col("n_missing") / F.col("n"), 4)
                 .alias("pct_missing")))

MISS_PROFILE_SQL = """
WITH a AS (
  SELECT count(*) AS n,
         count(CASE WHEN l_linenumber <> 1 THEN l_tax END) AS nn_tax,
         count(CASE WHEN l_linenumber <> 2 THEN l_discount END) AS nn_disc,
         count(CASE WHEN l_linenumber < 6 THEN l_extendedprice END) AS nn_price
  FROM lineitem
)
SELECT 'tax_val' AS column, n - nn_tax AS n_missing,
       round((n - nn_tax) / CAST(n AS DOUBLE), 4) AS pct_missing FROM a
UNION ALL
SELECT 'disc_val', n - nn_disc,
       round((n - nn_disc) / CAST(n AS DOUBLE), 4) FROM a
UNION ALL
SELECT 'price_val', n - nn_price,
       round((n - nn_price) / CAST(n AS DOUBLE), 4) FROM a
"""


def missingness_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _with_missingness(spark, sf_dir)
    pattern = F.concat_ws(",", *[
        F.when(F.col(c).isNull(), c) for c in _MISS_COLS])
    return (li.groupBy(pattern.alias("pattern"))
              .agg(F.count(F.lit(1)).alias("n")))

MISS_PATTERNS_SQL = """
SELECT concat_ws(',',
         CASE WHEN l_linenumber = 1 THEN 'tax_val' END,
         CASE WHEN l_linenumber = 2 THEN 'disc_val' END,
         CASE WHEN l_linenumber >= 6 THEN 'price_val' END) AS pattern,
       count(*) AS n
FROM lineitem GROUP BY 1
"""


# --------------------------------------------------------------------------
# A106. Two-group Poisson rate comparison (purchase vs error events over
# the same observation window): rates per active day, their ratio, and
# the conditional z statistic (n1−n2)/√(n1+n2) — the standard equal-
# exposure Poisson test (public; e.g. Lehmann, Testing Statistical
# Hypotheses). One fused aggregate over the filtered fact; integer
# counts make every output exact.
# --------------------------------------------------------------------------

def poisson_rate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("ts").isNotNull()
                 & F.col("event_type").isin("purchase", "error")))
    is_p = (F.col("event_type") == "purchase").cast("long")
    agg = ev.agg(
        F.sum(is_p).alias("n_purchase"),
        F.sum(1 - is_p).alias("n_error"),
        F.countDistinct(F.to_date("ts")).alias("n_days"))
    n1, n2, dd = F.col("n_purchase"), F.col("n_error"), F.col("n_days")
    # nullif: an absent arm (or an empty events table) zeroes the
    # denominators — rates/ratio/z undefined => NULL, never an abort
    ddn = F.nullif(dd.cast("double"), F.lit(0.0))
    return agg.select(
        "n_purchase", "n_error", "n_days",
        F.round(n1 / ddn, 4).alias("rate_purchase"),
        F.round(n2 / ddn, 4).alias("rate_error"),
        F.round(n1 / F.nullif(n2.cast("double"), F.lit(0.0)), 4)
         .alias("rate_ratio"),
        F.round((n1 - n2) / F.nullif(F.sqrt((n1 + n2).cast("double")),
                                     F.lit(0.0)), 4)
         .alias("z_stat"))

POISSON_RATE_SQL = """
WITH f AS (
  SELECT CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n1,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n2,
         count(DISTINCT CAST(ts AS DATE)) AS n_days
  FROM events
  WHERE ts IS NOT NULL AND event_type IN ('purchase', 'error')
)
SELECT n1 AS n_purchase, n2 AS n_error, n_days,
       round(CAST(n1 AS DOUBLE) / nullif(n_days, 0), 4)
         AS rate_purchase,
       round(CAST(n2 AS DOUBLE) / nullif(n_days, 0), 4) AS rate_error,
       round(CAST(n1 AS DOUBLE) / nullif(n2, 0), 4) AS rate_ratio,
       round((n1 - n2) / nullif(sqrt(CAST(n1 + n2 AS DOUBLE)), 0), 4)
         AS z_stat
FROM f
"""


# --------------------------------------------------------------------------
# A105. Huber robust regression (IRLS M-estimator): the outlier-
# resistant line fit for l_quantity → l_extendedprice. Each iteration
# is one fused 5-sum aggregate (no shuffle); see ml.huber_fit_df for
# the determinism contract shared with the unrolled SQL oracle.
# --------------------------------------------------------------------------

def huber_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return ml.huber_fit_df(li, "l_quantity", "l_extendedprice",
                           delta=1000.0, n_iter=2)

HUBER_SQL = oracles.huber_sql("l_quantity", "l_extendedprice",
                              delta=1000.0, n_iter=2)


# --------------------------------------------------------------------------
# Registry entries: key -> (builder, DuckDB oracle SQL). The package
# __init__ merges every module's QUERIES into REGISTRY; a new query is
# added here, next to its builder.
# --------------------------------------------------------------------------

QUERIES = {
    "ridge_lineitem": (ridge_lineitem, oracles.normal_eq_sql(
        ["l_quantity", "l_discount", "l_tax"], "l_extendedprice",
        lam=10.0)),
    "mad_price_by_flag": (mad_price_by_flag, MAD_SQL),
    "trimmed_mean_price": (trimmed_mean_price, TRIMMED_MEAN_SQL),
    "forecast_revenue_delta": (forecast_revenue_delta, FORECAST_DELTA_SQL),
    "nation_trade_volume": (nation_trade_volume, NATION_TRADE_SQL),
    "profit_by_nation_year": (profit_by_nation_year, PROFIT_SQL),
    "returned_item_customers": (returned_item_customers, RETURNED_ITEMS_SQL),
    "nation_value_share": (nation_value_share, NATION_VALUE_SHARE_SQL),
    "promo_revenue_pct": (promo_revenue_pct, PROMO_PCT_SQL),
    "small_qty_order_revenue": (small_qty_order_revenue, SMALL_QTY_SQL),
    "discounted_revenue_bundles": (discounted_revenue_bundles,
                                   DISCOUNTED_BUNDLES_SQL),
    "excess_shipment_suppliers": (excess_shipment_suppliers, EXCESS_SHIP_SQL),
    "merge_upsert_orders": (merge_upsert_orders, MERGE_UPSERT_SQL),
    "levene_acctbal_by_segment": (levene_acctbal_by_segment, LEVENE_SQL),
    "mannwhitney_order_value": (mannwhitney_order_value, MANNWHITNEY_SQL),
    "hhi_supplier_concentration": (hhi_supplier_concentration, HHI_SQL),
    "benford_order_totals": (benford_order_totals, BENFORD_SQL),
    "basket_brand_lift": (basket_brand_lift, BASKET_LIFT_SQL),
    "gini_acctbal_by_segment": (gini_acctbal_by_segment, GINI_SQL),
    "ks_order_value_priority": (ks_order_value_priority, KS_SQL),
    "ks_approx_order_value_priority": (ks_approx_order_value_priority,
                                       KS_APPROX_SQL),
    "rfm_customer_segments": (rfm_customer_segments, RFM_SQL),
    "kaplan_meier_retention": (kaplan_meier_retention, KM_SQL),
    "bootstrap_ci_order_value": (bootstrap_ci_order_value, BOOTSTRAP_SQL),
    "prop_ztest_order_status": (prop_ztest_order_status, PROP_ZTEST_SQL),
    "info_gain_features": (info_gain_features, INFO_GAIN_SQL),
    "chisq_cell_residuals": (chisq_cell_residuals, CHISQ_CELLS_SQL),
    "weighted_sample_orders": (weighted_sample_orders, WEIGHTED_SAMPLE_SQL),
    "grouped_linreg_by_flag": (grouped_linreg_by_flag, GROUPED_LINREG_SQL),
    "generalized_means_by_flag": (generalized_means_by_flag,
                                  GENERALIZED_MEANS_SQL),
    "cv_metrics_by_fold": (cv_metrics_by_fold, CV_METRICS_SQL),
    "score_holdout": (score_holdout, SCORE_HOLDOUT_SQL),
    "rf_score_holdout": (rf_score_holdout,
                         _expected_sql("rf_score_holdout")),
    "rf_holdout_metrics": (rf_holdout_metrics,
                           RF_HOLDOUT_METRICS_SQL_TEMPLATE.format(
                               expected=_expected_sql("rf_score_holdout"))),
    "gbt_feature_importance": (gbt_feature_importance,
                               _expected_sql("gbt_feature_importance")),
    "knn_impute_labels": (knn_impute_labels, KNN_IMPUTE_SQL),
    "repeated_cv_metrics": (repeated_cv_metrics, REPEATED_CV_SQL),
    "ols_categorical": (ols_categorical, OLS_CATEGORICAL_SQL),
    "top_revenue_suppliers": (top_revenue_suppliers, TOP_SUPPLIER_SQL),
    "winsorized_price_stats": (winsorized_price_stats, WINSORIZED_SQL),
    "loess_qty_price": (loess_qty_price, LOESS_SQL),
    "mice_impute_chained": (mice_impute_chained, MICE_SQL),
    "bagged_trees_importance": (bagged_trees_importance,
                                _expected_sql("bagged_trees_importance")),
    "missingness_profile": (missingness_profile, MISS_PROFILE_SQL),
    "missingness_patterns": (missingness_patterns, MISS_PATTERNS_SQL),
    "poisson_rate_ratio": (poisson_rate_ratio, POISSON_RATE_SQL),
    "huber_lineitem": (huber_lineitem, HUBER_SQL),
}
