"""Query registry — c_temporal module: event, session, streaming-batch
and time-series queries. The ``QUERIES`` dict at the end pairs every
builder here with its DuckDB oracle."""


from __future__ import annotations

from collections.abc import Callable

import pandas as pd  # noqa: F401 — resolves pandas-UDF type hints under
                     # postponed annotation evaluation

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import oracles
from ..io import clean_sentinel_numeric, load_table
from ..operators import clean, features, ml, profile, stats, temporal
from ..operators import dedup as dedup_ops
from ..operators import trees as trees_ops
from ..operators import similarity as sim_ops
from ..operators import text as text_ops

from itertools import combinations as _combos
from .a_stats import (  # noqa: E501
    _CHURN_LIFE_SQL,
    _churn_life_table,
)



# --------------------------------------------------------------------------
# C12. Strict conversion funnel (view → click → purchase, in order):
# each stage's timestamp must be at or after the previous stage's first
# qualifying timestamp. Three window passes over the SAME partitioning
# (user_id) — Spark shuffles once and reuses the sort for the two
# subsequent windows — then a per-user collapse and a global count.
# --------------------------------------------------------------------------

def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    t, ty = F.col("ts"), F.col("event_type")
    d = ev.withColumn(
        "t_view", F.min(F.when(ty == "view", t)).over(w))
    d = d.withColumn(
        "t_click", F.min(F.when((ty == "click")
                                & (t >= F.col("t_view")), t)).over(w))
    d = d.withColumn(
        "t_purchase", F.min(F.when((ty == "purchase")
                                   & (t >= F.col("t_click")), t)).over(w))
    per_user = d.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"))
    return per_user.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n_view"),
        F.count(F.when(F.col("t_click").isNotNull(), 1)).alias("n_click_after_view"),
        F.count(F.when(F.col("t_purchase").isNotNull(), 1)).alias("n_purchase_after_click"))

FUNNEL_SQL = """
WITH d1 AS (
  SELECT user_id, ts, event_type,
         min(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t_view
  FROM events
), d2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts >= t_view THEN ts END)
              OVER (PARTITION BY user_id) AS t_click
  FROM d1
), d3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= t_click THEN ts END)
              OVER (PARTITION BY user_id) AS t_purchase
  FROM d2
), per_user AS (
  SELECT user_id, max(t_view) AS t_view, max(t_click) AS t_click,
         max(t_purchase) AS t_purchase
  FROM d3 GROUP BY user_id
)
SELECT count(CASE WHEN t_view IS NOT NULL THEN 1 END) AS n_view,
       count(CASE WHEN t_click IS NOT NULL THEN 1 END) AS n_click_after_view,
       count(CASE WHEN t_purchase IS NOT NULL THEN 1 END) AS n_purchase_after_click
FROM per_user
"""


# --------------------------------------------------------------------------
# C13. Weekly cohort retention: users grouped by the week of their first
# event; for each (cohort week, weeks-since-cohort) cell, the count of
# distinct active users. One window over user_id (first-event ts), then
# a single distinct-agg shuffle on the (cohort, offset) grid — the
# output is weeks × weeks, tiny regardless of input scale.
# --------------------------------------------------------------------------

def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    d = ev.withColumn("first_ts", F.min("ts").over(w))
    d = d.select(
        "user_id",
        # ISO string, not DATE: pandas renders Spark DATE and DuckDB DATE
        # differently (date vs Timestamp) and the driver hashes the repr
        F.date_format(F.date_trunc("week", "first_ts"),
                      "yyyy-MM-dd").alias("cohort_week"),
        ((F.datediff(F.date_trunc("week", "ts").cast("date"),
                     F.date_trunc("week", "first_ts").cast("date")) / 7)
         .cast("long").alias("week_offset")))
    return (d.groupBy("cohort_week", "week_offset")
             .agg(F.countDistinct("user_id").alias("n_users")))

COHORT_SQL = """
WITH d AS (
  SELECT user_id, ts,
         min(ts) OVER (PARTITION BY user_id) AS first_ts
  FROM events
), g AS (
  SELECT user_id,
         strftime(date_trunc('week', first_ts), '%Y-%m-%d') AS cohort_week,
         CAST(datediff('day', CAST(date_trunc('week', first_ts) AS DATE),
                       CAST(date_trunc('week', ts) AS DATE)) / 7 AS BIGINT)
           AS week_offset
  FROM d
)
SELECT cohort_week, week_offset, count(DISTINCT user_id) AS n_users
FROM g GROUP BY cohort_week, week_offset
"""


# --------------------------------------------------------------------------
# C1. As-of join: each event matched to the user's most recent purchase
# at or before it (union + keyed window — see operators/temporal.py).
# Oracle: DuckDB's native ASOF LEFT JOIN.
# --------------------------------------------------------------------------

def events_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = (ev.where(F.col("event_type") == "purchase")
                   .select("user_id", "ts", F.col("ts").alias("purchase_ts")))
    joined = temporal.asof_join(ev, purchases, key="user_id", ts="ts",
                                payload_cols=["purchase_ts"])
    # integer microseconds: bit-exact across engines (a seconds double
    # rounds differently in Spark vs DuckDB at decimal ties)
    return (joined.select(
        "event_id", "user_id", "event_type",
        (F.unix_micros("ts") - F.unix_micros("purchase_ts"))
        .alias("us_since_purchase")))

EVENTS_ASOF_SQL = """
SELECT e.event_id, e.user_id, e.event_type,
       epoch_us(e.ts) - epoch_us(p.ts) AS us_since_purchase
FROM events e
ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id AND e.ts >= p.ts
"""


# --------------------------------------------------------------------------
# C2. Quantile summary (R:378's boxplot five-number statistics).
# Exact interpolated percentiles — swap to approx_percentile at 100 TB.
# --------------------------------------------------------------------------

def quantile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boxplot stats via stats.grouped_quantiles (approx-bracket +
    exact positional interpolation) — F.percentile would sort each
    priority group inside one aggregation buffer, a per-group
    single-task sort at scale. min/max stay a plain codegen agg."""
    orders = load_table(spark, sf_dir, "orders")
    # raw pruned projection, NOT checkpointed: the replayed lineage is
    # a bare 2-column scan, cheaper than materializing ~rows
    # (measured 1.97s vs 2.23s at 20x stress)
    proj = orders.select("o_orderpriority", "o_totalprice")
    q = stats.grouped_quantiles(proj, "o_orderpriority", "o_totalprice",
                                [0.25, 0.5, 0.75, 0.95],
                                ["q25", "q50", "q75", "q95"])
    mm = (proj.groupBy("o_orderpriority")
              .agg(F.round(F.min("o_totalprice"), 4).alias("lo"),
                   F.round(F.max("o_totalprice"), 4).alias("hi")))
    return (q.join(F.broadcast(mm), "o_orderpriority")
             .select("o_orderpriority",
                     F.round("q25", 4).alias("p25"),
                     F.round("q50", 4).alias("p50"),
                     F.round("q75", 4).alias("p75"),
                     F.round("q95", 4).alias("p95"),
                     "lo", "hi"))

QUANTILE_SQL = """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
       round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
       round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
       round(min(o_totalprice), 4) AS lo,
       round(max(o_totalprice), 4) AS hi
FROM orders GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# C3. Cube subtotals (all grouping-set combinations).
# --------------------------------------------------------------------------

def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.cube("l_returnflag", "l_linestatus")
              .agg(F.round(F.sum(rev), 4).alias("revenue"),
                   F.count(F.lit(1)).alias("n")))

CUBE_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


# --------------------------------------------------------------------------
# C4. Unpivot / melt (R:399,582's gather()).
# --------------------------------------------------------------------------

def melt_segment_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    wide = cust.groupBy("c_mktsegment").agg(
        F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        F.round(F.max("c_acctbal"), 4).alias("max_bal"),
        F.count(F.lit(1)).cast("double").alias("n_customers"))
    return wide.selectExpr(
        "c_mktsegment",
        "stack(3, 'avg_bal', avg_bal, 'max_bal', max_bal, "
        "'n_customers', n_customers) as (metric, value)")

MELT_SQL = """
WITH w AS (
  SELECT c_mktsegment,
         round(avg(c_acctbal), 4) AS avg_bal,
         round(max(c_acctbal), 4) AS max_bal,
         CAST(count(*) AS DOUBLE) AS n_customers
  FROM customer GROUP BY c_mktsegment
)
SELECT c_mktsegment, 'avg_bal' AS metric, avg_bal AS value FROM w
UNION ALL SELECT c_mktsegment, 'max_bal', max_bal FROM w
UNION ALL SELECT c_mktsegment, 'n_customers', n_customers FROM w
"""


# --------------------------------------------------------------------------
# C5. Rolling average per user (trailing 5 events).
# --------------------------------------------------------------------------

def events_rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = temporal.rolling_agg(ev, "user_id", ["ts", "event_id"],
                               "value", n_rows=5, aggs=("avg",))
    return out.select("event_id", "user_id", "rolling_avg_value")

ROLLING_SQL = """
SELECT event_id, user_id,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4)
         AS rolling_avg_value
FROM events
"""


# --------------------------------------------------------------------------
# C6. Cumulative spend per customer over order history.
# --------------------------------------------------------------------------

def customer_cumulative_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    out = temporal.cumulative_sum(orders, "o_custkey",
                                  ["o_orderdate", "o_orderkey"],
                                  "o_totalprice", "cum_spend")
    return out.select("o_orderkey", "o_custkey", "cum_spend")

CUMSUM_SQL = """
SELECT o_orderkey, o_custkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey
                                     ROWS UNBOUNDED PRECEDING), 4) AS cum_spend
FROM orders
"""


# --------------------------------------------------------------------------
# C7. Semi-structured extraction: JSON props column.
# --------------------------------------------------------------------------

def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("double")
    return (ev.groupBy("event_type")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(F.avg(k), 4).alias("avg_k"),
                   F.round(F.max(k), 4).alias("max_k")))

JSON_SQL = """
SELECT event_type, count(*) AS n,
       round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k,
       round(max(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS max_k
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# C8. Point-in-interval range join: each event lands in the bin whose
# [lo, hi) interval contains its value. The bin table is tiny and
# broadcast, so the non-equi join is a broadcast nested-loop over a
# 10-row build side — no shuffle of the fact table. (For *monotone*
# fixed-width bins `floor(x/w)` is cheaper — see histogram_quantity;
# this operator is the general form for arbitrary intervals.)
# --------------------------------------------------------------------------

def range_join_value_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bins = spark.range(10).select(
        F.col("id").alias("bin_id"),
        (F.col("id") * F.lit(50.0)).alias("lo"),
        ((F.col("id") + 1) * F.lit(50.0)).alias("hi"))
    return (ev.join(F.broadcast(bins),
                    (ev.value >= bins.lo) & (ev.value < bins.hi))
            .groupBy("bin_id", "lo", "hi")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("sum_value")))

RANGE_JOIN_SQL = """
SELECT bin_id, lo, hi, count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM events
JOIN (
  SELECT range AS bin_id, range * 50.0 AS lo, (range + 1) * 50.0 AS hi
  FROM range(10)
) bins ON value >= lo AND value < hi
GROUP BY bin_id, lo, hi
"""


# --------------------------------------------------------------------------
# C9. Gap-filled daily series: aggregate per (day, type), then left-join
# against the full day x type grid so missing days appear with n = 0.
# The grid is generated from the *aggregated* bounds (a 1-row agg), so
# the sequence/cross-join work is O(days x types), never O(events).
# --------------------------------------------------------------------------

def events_gapfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"),
                        "event_type")
               .agg(F.count(F.lit(1)).alias("n")))
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day")))
         .alias("day"))
    types = daily.select("event_type").distinct()
    grid = days.crossJoin(F.broadcast(types))
    return (grid.join(daily, ["day", "event_type"], "left")
            .select("day", "event_type",
                    F.coalesce("n", F.lit(0)).alias("n")))

GAPFILL_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         event_type, count(*) AS n
  FROM events GROUP BY 1, 2
), days AS (
  SELECT unnest(generate_series((SELECT min(day) FROM daily),
                                (SELECT max(day) FROM daily),
                                INTERVAL 1 DAY)) AS day
), grid AS (
  SELECT day, event_type
  FROM days CROSS JOIN (SELECT DISTINCT event_type FROM events) t
)
SELECT g.day, g.event_type, coalesce(n, 0) AS n
FROM grid g LEFT JOIN daily USING (day, event_type)
"""


# --------------------------------------------------------------------------
# C10. Hopping (sliding) windows: 1-day windows every 12 hours — each
# event lands in exactly window_len/slide = 2 windows. Spark's
# F.window generates the copies inside codegen; the oracle replays the
# same epoch-aligned arithmetic. Streaming form: identical expression
# under readStream (see streaming/events.py).
# --------------------------------------------------------------------------

def events_hopping_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = F.window("ts", "1 day", "12 hours")
    return (ev.groupBy(w.alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select(F.col("w.start").alias("win_start"),
                    F.col("w.end").alias("win_end"),
                    "event_type", "n", "sum_value"))

HOPPING_SQL = """
WITH x AS (
  SELECT event_type, value, epoch_us(ts) // 43200000000 AS k
  FROM events
), ex AS (
  SELECT event_type, value,
         make_timestamp((k - i) * 43200000000)       AS win_start,
         make_timestamp((k - i + 2) * 43200000000)   AS win_end
  FROM x CROSS JOIN (SELECT unnest([0, 1]) AS i)
)
SELECT win_start, win_end, event_type,
       count(*) AS n, round(sum(value), 4) AS sum_value
FROM ex
GROUP BY win_start, win_end, event_type
"""


# --------------------------------------------------------------------------
# C11. GROUPING SETS: heterogeneous subtotal groups in a single pass
# (Spark expands them through one Expand + one shuffle, not one job
# per set — the same trick cube/rollup use, but with arbitrary sets).
# --------------------------------------------------------------------------

def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders") \
        .createOrReplaceTempView("pbs_orders_gs")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n, round(sum(o_totalprice), 4) AS revenue
        FROM pbs_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)

GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n, round(sum(o_totalprice), 4) AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


# --------------------------------------------------------------------------
# C14. Trailing 7-day spend per customer — a RANGE window over event-time
# (value-based frame, peers included), unlike the ROWS frames elsewhere.
# Day numbers are integers so the frame is engine-portable; the windowed
# money sum is an exact decimal sum cast to double afterwards.
# --------------------------------------------------------------------------

def orders_trailing_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"),
                     F.lit("1970-01-01").cast("date"))
    w = (Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-6, 0))
    return (o.withColumn("day", day)
             .select("o_custkey", "o_orderdate",
                     F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                              .over(w).cast("double"), 2)
                      .alias("trailing_7d_spend"),
                     F.count("*").over(w).alias("trailing_7d_orders")))

TRAILING_7D_SQL = """
WITH d AS (
  SELECT o_custkey, o_orderdate,
         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
         CAST(o_totalprice AS DECIMAL(18,2)) AS p
  FROM orders
)
SELECT o_custkey, o_orderdate,
       round(CAST(sum(p) OVER w AS DOUBLE), 2) AS trailing_7d_spend,
       count(*) OVER w AS trailing_7d_orders
FROM d
WINDOW w AS (PARTITION BY o_custkey ORDER BY day
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


# --------------------------------------------------------------------------
# C15. Event-to-event interval join: attribute purchases to same-user
# views in the preceding hour. Equi-key (user_id) + time-range
# condition — the planner runs the equi-join hash exchange and applies
# the range as a post-join filter, so the fact stream shuffles once on
# user_id. The streaming twin (stream-stream join with watermark-derived
# state eviction) is `streaming.events.view_purchase_attribution`.
# --------------------------------------------------------------------------

def events_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = (ev.where(F.col("event_type") == "view")
           .select(F.col("user_id").alias("v_user"),
                   F.col("event_id").alias("view_id"),
                   F.col("ts").alias("view_ts")))
    p = (ev.where(F.col("event_type") == "purchase")
           .select(F.col("user_id").alias("p_user"),
                   F.col("event_id").alias("purchase_id"),
                   F.col("ts").alias("purchase_ts"),
                   F.col("value").alias("purchase_value")))
    return (v.join(p, (F.col("v_user") == F.col("p_user"))
                   & (F.col("purchase_ts") >= F.col("view_ts"))
                   & (F.col("purchase_ts")
                      <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")))
             .select(F.col("p_user").alias("user_id"), "view_id",
                     "purchase_id", "view_ts", "purchase_ts",
                     F.round("purchase_value", 4).alias("purchase_value")))

ATTRIBUTION_SQL = """
SELECT p.user_id AS user_id, v.event_id AS view_id,
       p.event_id AS purchase_id, v.ts AS view_ts, p.ts AS purchase_ts,
       round(p.value, 4) AS purchase_value
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
"""


# --------------------------------------------------------------------------
# C16. Exponentially-decayed engagement score: recency-weighted value
# sum per user with a 30-day half-life-ish decay against a FIXED
# reference instant (deterministic and engine-portable, unlike now()).
# Pure row-local math + one shuffle — the standard recency feature for
# ranking/retention models.
# --------------------------------------------------------------------------

def decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ref = F.lit("2024-02-01").cast("timestamp")
    age_days = (F.unix_micros(ref) - F.unix_micros(F.col("ts"))) / 86400e6
    score = F.col("value") * F.exp(-age_days / 30.0)
    return (ev.groupBy("user_id")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.round(F.sum(score), 4).alias("decayed_score")))

DECAYED_SQL = """
SELECT user_id, count(*) AS n_events,
       round(sum(value * exp(-((epoch_us(TIMESTAMP '2024-02-01') - epoch_us(ts))
                               / 86400000000.0) / 30.0)), 4) AS decayed_score
FROM events GROUP BY user_id
"""


# --------------------------------------------------------------------------
# C17. VARIANT semi-structured extraction (Spark 4): parse the JSON
# props column ONCE into the binary VARIANT encoding, then typed-path
# extraction — at scale this beats repeated get_json_object calls
# (each re-parses the string) and is the open-format answer to
# schema-on-read event payloads. All outputs integer-exact.
# --------------------------------------------------------------------------

def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "long")
    return (ev.select("event_type", k.alias("k"))
              .groupBy("event_type")
              .agg(F.count("k").alias("n_with_k"),
                   F.sum("k").alias("sum_k"),
                   F.max("k").alias("max_k")))

VARIANT_SQL = """
SELECT event_type,
       count(k) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       max(k) AS max_k
FROM (SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
GROUP BY 1
"""


# --------------------------------------------------------------------------
# C19. Gaps-and-islands activity streaks: longest run of consecutive
# active days per user via the day_number - row_number island key — one
# shuffle on user_id (distinct + both windows + final agg all share
# it). Day numbers are integers from a fixed epoch so the island
# arithmetic is engine-portable.
# --------------------------------------------------------------------------

def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.lit("1995-01-01").cast("date"))
    active = (ev.select("user_id", day.alias("day_num")).distinct())
    w = Window.partitionBy("user_id").orderBy("day_num")
    islands = active.withColumn(
        "island", F.col("day_num") - F.row_number().over(w))
    streaks = (islands.groupBy("user_id", "island")
                      .agg(F.count(F.lit(1)).alias("streak_len")))
    return (streaks.groupBy("user_id")
                   .agg(F.max("streak_len").alias("longest_streak"),
                        F.sum("streak_len").alias("n_active_days"),
                        F.count(F.lit(1)).alias("n_streaks")))

STREAKS_SQL = """
WITH active AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS day_num
  FROM events
), islands AS (
  SELECT user_id, day_num,
         day_num - row_number() OVER (PARTITION BY user_id
                                      ORDER BY day_num) AS island
  FROM active
), streaks AS (
  SELECT user_id, island, count(*) AS streak_len
  FROM islands GROUP BY 1, 2
)
SELECT user_id,
       CAST(max(streak_len) AS BIGINT) AS longest_streak,
       CAST(sum(streak_len) AS BIGINT) AS n_active_days,
       count(*) AS n_streaks
FROM streaks GROUP BY 1
"""


# --------------------------------------------------------------------------
# C20. First/last-touch attribution via min_by/max_by: the first and
# last event type per user in ONE aggregate pass — no window, no sort,
# one shuffle with map-side partial min_by combine. Ties on timestamp
# are broken by event_id through a fixed-width sortable string key
# (identical lexicographic order in both engines).
# --------------------------------------------------------------------------

def first_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    key = F.concat(F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
                   F.lit("-"),
                   F.lpad(F.col("event_id").cast("string"), 20, "0"))
    return (ev.select("user_id", "event_type", key.alias("k"))
              .groupBy("user_id")
              .agg(F.min_by("event_type", "k").alias("first_touch"),
                   F.max_by("event_type", "k").alias("last_touch"),
                   F.count(F.lit(1)).alias("n_events")))

FIRST_LAST_SQL = """
SELECT user_id,
       arg_min(event_type, k) AS first_touch,
       arg_max(event_type, k) AS last_touch,
       count(*) AS n_events
FROM (SELECT user_id, event_type,
             lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || '-' ||
             lpad(CAST(event_id AS VARCHAR), 20, '0') AS k
      FROM events)
GROUP BY 1
"""


# --------------------------------------------------------------------------
# C21. Seasonal-trend decomposition of the daily event series — the
# classic demand-forecasting shape behind the reference's prediction
# task (R:1194 lm): aggregate to days, fit the linear trend from one
# covar/var aggregate (broadcast back as a 1-row table), then average
# the detrended residuals per weekday. Weekday = day_num % 7 (integer,
# engine-identical — no locale-dependent dayofweek). Input scale drops
# to #days after the first aggregate; everything later is tiny.
# --------------------------------------------------------------------------

def seasonal_trend_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    day = F.datediff(F.to_date("ts"), F.lit("1995-01-01").cast("date"))
    daily = (ev.groupBy(day.alias("day_num"))
               .agg(F.count(F.lit(1)).alias("n")))
    fit = daily.agg(
        (F.covar_pop("day_num", "n") / F.var_pop("day_num")).alias("slope"),
        F.avg("n").alias("nbar"), F.avg("day_num").alias("dbar"))
    resid = (daily.crossJoin(F.broadcast(fit))
             .select((F.col("day_num") % 7).alias("weekday"),
                     (F.col("n") - (F.col("nbar")
                      + F.col("slope") * (F.col("day_num") - F.col("dbar"))))
                     .alias("r")))
    return (resid.groupBy("weekday")
                 .agg(F.count(F.lit(1)).alias("n_days"),
                      F.round(F.avg("r"), 4).alias("seasonal_effect")))

SEASONAL_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS day_num,
         count(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), fit AS (
  SELECT covar_pop(day_num, n) / var_pop(day_num) AS slope,
         avg(n) AS nbar, avg(day_num) AS dbar
  FROM daily
)
SELECT day_num % 7 AS weekday, count(*) AS n_days,
       round(avg(n - (nbar + slope * (day_num - dbar))), 4)
         AS seasonal_effect
FROM daily CROSS JOIN fit
GROUP BY 1
"""


# --------------------------------------------------------------------------
# C22. Rolling active users (DAU / trailing-7-day WAU / stickiness):
# COUNT(DISTINCT) over a sliding window can't ride an ordinary window
# frame — instead the distinct (day, user) table (map-side combined,
# tiny relative to events) replicates each activity row to the 7
# report days it supports via an explode, and one distinct-agg per
# report day does the rest. Shuffle = 7 x |active-user-days|, exact at
# any scale, no per-day state. Stickiness = DAU/WAU, the engagement
# ratio product teams actually track.
# --------------------------------------------------------------------------

def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    day = F.datediff(F.to_date("ts"), F.lit("1995-01-01").cast("date"))
    au = ev.select(day.alias("day_num"), "user_id").distinct()
    dau = au.groupBy("day_num").agg(F.count(F.lit(1)).alias("dau"))
    wau = (au.select(F.explode(F.sequence(F.col("day_num"),
                                          F.col("day_num") + 6))
                      .alias("report_day"), "user_id")
             .groupBy("report_day")
             .agg(F.countDistinct("user_id").alias("wau")))
    return (dau.join(wau, dau.day_num == wau.report_day)
               .select(F.col("day_num").cast("int").alias("day_num"),
                       "dau", "wau",
                       F.round(F.col("dau") / F.col("wau"), 4)
                        .alias("stickiness")))

ROLLING_ACTIVE_SQL = """
WITH au AS (
  SELECT DISTINCT date_diff('day', DATE '1995-01-01', CAST(ts AS DATE))
           AS day_num, user_id
  FROM events WHERE ts IS NOT NULL
), dau AS (
  SELECT day_num, count(*) AS dau FROM au GROUP BY 1
), wau AS (
  SELECT report_day, count(DISTINCT user_id) AS wau
  FROM (SELECT unnest(generate_series(day_num, day_num + 6)) AS report_day,
               user_id
        FROM au)
  GROUP BY 1
)
SELECT CAST(day_num AS INT) AS day_num, dau, wau,
       round(CAST(dau AS DOUBLE) / wau, 4) AS stickiness
FROM dau JOIN wau ON day_num = report_day
"""


# --------------------------------------------------------------------------
# C23. CUPED experiment readout (controlled-experiment variance
# reduction): adjusted = post − θ·(pre − mean(pre)), θ = cov(pre,
# post)/var(pre) from the pre-period covariate. Deterministic
# assignment (user_id parity) stands in for the treatment flag. One
# user-keyed aggregate builds the per-user pre/post table; θ and the
# pre-mean are a 1-row broadcast; group means + variance reduction are
# a final tiny agg. The standard big-experimentation pattern, all in
# fused aggregates.
# --------------------------------------------------------------------------

def cuped_experiment_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    day = F.datediff(F.to_date("ts"), F.lit("1995-01-01").cast("date"))
    mid = ev.agg(F.floor(F.avg(day)).alias("mid"))
    per_user = (ev.crossJoin(F.broadcast(mid))
                .groupBy("user_id")
                .agg(F.sum(F.when(day < F.col("mid"), F.col("value"))
                            .otherwise(0.0)).alias("pre"),
                     F.sum(F.when(day >= F.col("mid"), F.col("value"))
                            .otherwise(0.0)).alias("post")))
    # nullif: identical per-user pre-periods zero var(pre) — theta
    # (and the adjusted series) undefined => NULL, never an ANSI abort
    st = per_user.agg(
        (F.covar_pop("pre", "post")
         / F.nullif(F.var_pop("pre"), F.lit(0.0))).alias("theta"),
        F.avg("pre").alias("pre_bar"))
    adj = (per_user.crossJoin(F.broadcast(st))
           .select((F.col("user_id") % 2).cast("int").alias("grp"), "post",
                   (F.col("post") - F.col("theta")
                    * (F.col("pre") - F.col("pre_bar"))).alias("adj")))
    return (adj.groupBy("grp")
               .agg(F.count(F.lit(1)).alias("n_users"),
                    F.round(F.avg("post"), 4).alias("mean_post"),
                    F.round(F.avg("adj"), 4).alias("mean_adj"),
                    F.round(F.var_pop("adj")
                            / F.nullif(F.var_pop("post"), F.lit(0.0)), 4)
                     .alias("var_ratio")))

CUPED_SQL = """
WITH ev AS (
  SELECT user_id,
         date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS day_num,
         value
  FROM events WHERE ts IS NOT NULL
), mid AS (
  SELECT floor(avg(day_num)) AS mid FROM ev
), per_user AS (
  SELECT user_id,
         sum(CASE WHEN day_num < mid THEN value ELSE 0 END) AS pre,
         sum(CASE WHEN day_num >= mid THEN value ELSE 0 END) AS post
  FROM ev CROSS JOIN mid GROUP BY 1
), st AS (
  SELECT covar_pop(pre, post) / nullif(var_pop(pre), 0) AS theta,
         avg(pre) AS pre_bar
  FROM per_user
), adj AS (
  SELECT CAST(user_id % 2 AS INT) AS grp, post,
         post - theta * (pre - pre_bar) AS adj
  FROM per_user CROSS JOIN st
)
SELECT grp, count(*) AS n_users,
       round(avg(post), 4) AS mean_post,
       round(avg(adj), 4) AS mean_adj,
       round(var_pop(adj) / nullif(var_pop(post), 0), 4) AS var_ratio
FROM adj GROUP BY 1
"""


# --------------------------------------------------------------------------
# C24. Autocorrelation function of the daily event series (lags 1-7) —
# the seasonality probe behind the reference's time-trend EDA. After
# the first aggregate the series is #days-sized; lagged pairs come
# from an exact self-join on day offset (robust to calendar gaps,
# where a window lag() would silently pair non-adjacent days), and
# every lag's Pearson r is one fused corr() aggregate.
# --------------------------------------------------------------------------

def acf_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    day = F.datediff(F.to_date("ts"), F.lit("1995-01-01").cast("date"))
    daily = (ev.groupBy(day.alias("d"))
               .agg(F.count(F.lit(1)).alias("n")))
    a = daily.alias("a")
    b = daily.alias("b")
    lagged = (a.select("d", "n",
                       F.explode(F.sequence(F.lit(1), F.lit(7)))
                        .alias("lag_k"))
               .join(b, F.col("b.d") == F.col("a.d") + F.col("lag_k")))
    # safe_corr: a constant daily series has zero variance — the ACF
    # is undefined => NULL, never an ANSI abort (oracle mirrors)
    return (lagged.groupBy("lag_k")
                  .agg(F.count(F.lit(1)).alias("n_pairs"),
                       F.round(stats.safe_corr(
                           F.col("a.n").cast("double"),
                           F.col("b.n").cast("double")), 4)
                        .alias("acf")))

ACF_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS d,
         count(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), ks AS (SELECT CAST(unnest(generate_series(1, 7)) AS INT) AS lag_k)
SELECT lag_k, CAST(count(*) AS BIGINT) AS n_pairs,
       round(covar_samp(a.n, b.n)
             / nullif(stddev_samp(a.n) * stddev_samp(b.n), 0), 4) AS acf
FROM daily a CROSS JOIN ks JOIN daily b ON b.d = a.d + lag_k
GROUP BY 1
"""


# --------------------------------------------------------------------------
# C25. Markov next-event transition matrix: P(next | current) from
# per-user ordered event sequences. ONE user_id shuffle carries the
# lag window (ordered by ts with event_id tie-break — deterministic);
# the transition table is event-types², so the normalizing window
# runs on a dozens-row aggregate, never on the fact.
# --------------------------------------------------------------------------

def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("user_id", "event_type",
                    F.lag("event_type").over(w).alias("prev"))
    pairs = (seq.where(F.col("prev").isNotNull())
                .groupBy(F.col("prev").alias("prev_event"),
                         F.col("event_type").alias("next_event"))
                .agg(F.count(F.lit(1)).alias("n_transitions")))
    wnorm = Window.partitionBy("prev_event")
    return pairs.select(
        "prev_event", "next_event", "n_transitions",
        F.round(F.col("n_transitions")
                / F.sum("n_transitions").over(wnorm), 4).alias("p_next"))

TRANSITIONS_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events WHERE ts IS NOT NULL
), pairs AS (
  SELECT prev AS prev_event, event_type AS next_event,
         count(*) AS n
  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
)
SELECT prev_event, next_event, CAST(n AS BIGINT) AS n_transitions,
       round(n / sum(n) OVER (PARTITION BY prev_event), 4) AS p_next
FROM pairs
"""


# --------------------------------------------------------------------------
# C26. CUSUM changepoint scan on daily revenue: cumulative sum of
# deviations from the series mean; the day where |CUSUM| peaks is the
# most likely level-shift point (Page's test statistic). Daily sums
# are exact decimals (event values are 2dp); the cumulative window
# runs over the #days-sized AGGREGATED series (the single ordered
# task holds hundreds of rows, not the fact). Peak day is
# deterministic: min day among rounded-|CUSUM| maxima via min/min_by.
# --------------------------------------------------------------------------

def cusum_changepoint_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import money
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    day = F.datediff(F.to_date("ts"), F.lit("1995-01-01").cast("date"))
    daily = (ev.groupBy(day.alias("d"))
               .agg(F.sum(money("value")).cast("double").alias("rev")))
    m = daily.agg(F.avg("rev").alias("mean_rev"),
                  F.count(F.lit(1)).alias("n_days"))
    wc = (Window.orderBy("d")
          .rowsBetween(Window.unboundedPreceding, 0))
    cusum = (daily.crossJoin(F.broadcast(m))
             .withColumn("s", F.sum(F.col("rev") - F.col("mean_rev"))
                              .over(wc))
             .select("d", "n_days",
                     F.round("s", 4).alias("s_r"),
                     F.round(F.abs("s"), 4).alias("a_r")))
    peak = cusum.agg(F.max("a_r").alias("a_max"))
    return (cusum.crossJoin(F.broadcast(peak))
            .where(F.col("a_r") == F.col("a_max"))
            .agg(F.min("d").cast("int").alias("peak_day"),
                 F.min_by("s_r", "d").alias("peak_cusum"),
                 F.any_value("n_days").alias("n_days")))

CUSUM_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS d,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), m AS (SELECT avg(rev) AS mean_rev, count(*) AS n_days FROM daily),
cusum AS (
  SELECT d, n_days,
         round(sum(rev - mean_rev)
               OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW), 4) AS s_r,
         round(abs(sum(rev - mean_rev)
               OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)), 4) AS a_r
  FROM daily CROSS JOIN m
), peak AS (SELECT max(a_r) AS a_max FROM cusum)
SELECT CAST(min(d) AS INT) AS peak_day,
       arg_min(s_r, d) AS peak_cusum,
       CAST(any_value(n_days) AS BIGINT) AS n_days
FROM cusum CROSS JOIN peak
WHERE a_r = a_max
"""


# --------------------------------------------------------------------------
# C27. EWMA-smoothed daily revenue: exponential smoothing as a bounded
# interval self-join on the AGGREGATED series (weights α^lag over a
# 30-day trailing window). A recursive ewma_t = αx + (1-α)ewma_{t-1}
# can't be a window frame (frames can't reference the current row's
# index inside the sum) and α^(-i) tricks overflow; the truncated-
# kernel join is exact to α^30 ≈ 4e-2 mass and input-scale-free after
# the first aggregate.
# --------------------------------------------------------------------------

def ewma_smoothed_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import money
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    day = F.datediff(F.to_date("ts"), F.lit("1995-01-01").cast("date"))
    daily = (ev.groupBy(day.alias("d"))
               .agg(F.sum(money("value")).cast("double").alias("rev")))
    a, b = daily.alias("a"), daily.alias("b")
    w = F.pow(F.lit(0.9), F.col("a.d") - F.col("b.d"))
    return (a.join(b, (F.col("b.d") >= F.col("a.d") - 29)
                      & (F.col("b.d") <= F.col("a.d")))
             .groupBy(F.col("a.d").cast("int").alias("day_num"),
                      F.col("a.rev").alias("rev_raw"))
             .agg(F.round(F.sum(w * F.col("b.rev")) / F.sum(w), 4)
                   .alias("ewma"))
             .select("day_num", F.round("rev_raw", 4).alias("rev"), "ewma"))

EWMA_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS d,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev
  FROM events WHERE ts IS NOT NULL GROUP BY 1
)
SELECT CAST(a.d AS INT) AS day_num, round(a.rev, 4) AS rev,
       round(sum(pow(0.9, a.d - b.d) * b.rev)
             / sum(pow(0.9, a.d - b.d)), 4) AS ewma
FROM daily a JOIN daily b ON b.d >= a.d - 29 AND b.d <= a.d
GROUP BY a.d, a.rev
"""


# --------------------------------------------------------------------------
# C28. User path-pattern analysis: what share of users' ordered event
# journeys match funnel-ish regex patterns. Each user's path is built
# ONCE from a deterministic ordered collect (ts + event_id tie-break,
# one user_id shuffle); the three pattern probes are then codegen'd
# rlike scans over the users-sized path table — patterns scale without
# re-shuffling.
# --------------------------------------------------------------------------

def user_path_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    paths = (ev.groupBy("user_id")
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("ts", "event_id", "event_type"))),
                       lambda x: x["event_type"]), ",").alias("path")))
    pats = spark.createDataFrame(
        [("signup_then_purchase", "signup.*purchase"),
         ("purchase_then_error", "purchase.*error"),
         ("view_click_purchase", "view.*click.*purchase")],
        ["pattern_name", "pat"])
    return (paths.crossJoin(F.broadcast(pats))
            .groupBy("pattern_name")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.sum(F.regexp_like(F.col("path"), F.col("pat"))
                        .cast("int"))
                  .cast("long").alias("n_matching"))
            .withColumn("pct_matching",
                        F.round(F.col("n_matching") / F.col("n_users"), 4)))

PATH_PATTERNS_SQL = """
WITH paths AS (
  SELECT user_id,
         string_agg(event_type, ',' ORDER BY ts, event_id) AS path
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), pats AS (
  SELECT * FROM (VALUES
    ('signup_then_purchase', 'signup.*purchase'),
    ('purchase_then_error', 'purchase.*error'),
    ('view_click_purchase', 'view.*click.*purchase'))
    AS t(pattern_name, pat)
)
SELECT pattern_name, count(*) AS n_users,
       CAST(sum(regexp_matches(path, pat)::INT) AS BIGINT) AS n_matching,
       round(sum(regexp_matches(path, pat)::INT) / count(*), 4)
         AS pct_matching
FROM paths CROSS JOIN pats
GROUP BY 1
"""


# --------------------------------------------------------------------------
# C29. Weekday × hour activity heatmap: the ops-dashboard 2D frequency
# grid. Weekday = epoch-day % 7 (integer, locale-free — dayofweek()
# localizes differently across engines); one shuffle onto the 7×24
# grid with map-side combine, plus a within-weekday share from a
# grid-sized window.
# --------------------------------------------------------------------------

def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    day = F.datediff(F.to_date("ts"), F.lit("1995-01-01").cast("date"))
    cell = (ev.groupBy((day % 7).cast("int").alias("weekday"),
                       F.hour("ts").alias("hour"))
              .agg(F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("weekday")
    return cell.select(
        "weekday", "hour", "n",
        F.round(F.col("n") / F.sum("n").over(w), 4).alias("share_of_day"))

DOW_HOUR_SQL = """
WITH cell AS (
  SELECT CAST(date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) % 7
              AS INT) AS weekday,
         CAST(extract(hour FROM ts) AS INT) AS hour,
         count(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
)
SELECT weekday, hour, CAST(n AS BIGINT) AS n,
       round(n / sum(n) OVER (PARTITION BY weekday), 4) AS share_of_day
FROM cell
"""


# --------------------------------------------------------------------------
# C30. Month-over-month composition shift: each priority's share of
# monthly orders and its delta vs the previous month — the mix-shift
# diagnostic behind "did the business change or just the mix?". One
# fact shuffle onto the months × priorities grid; shares and lag
# deltas are windows over that tiny grid (month key = integer
# year*12+month, gap-proof for lag-1-month semantics via join-free
# frame on the dense synthetic calendar).
# --------------------------------------------------------------------------

def priority_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate")
                                                  .isNotNull())
    mkey = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
    cell = (o.groupBy(mkey.cast("int").alias("mkey"), "o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n")))
    wm = Window.partitionBy("mkey")
    wp = Window.partitionBy("o_orderpriority").orderBy("mkey")
    d = (cell.withColumn("share",
                         F.col("n") / F.sum("n").over(wm))
             .withColumn("prev_mkey", F.lag("mkey").over(wp))
             .withColumn("prev_share", F.lag("share").over(wp)))
    return d.select(
        "mkey", "o_orderpriority", "n",
        F.round("share", 4).alias("share"),
        # + 0.0 normalizes IEEE negative zero (see balance_to_spend)
        (F.round(F.when(F.col("prev_mkey") == F.col("mkey") - 1,
                        F.col("share") - F.col("prev_share")), 4) + 0.0)
         .alias("share_delta_mom"))

MIX_SHIFT_SQL = """
WITH cell AS (
  SELECT CAST(extract(year FROM o_orderdate) * 12
              + extract(month FROM o_orderdate) - 1 AS INT) AS mkey,
         o_orderpriority, count(*) AS n
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
), s AS (
  SELECT mkey, o_orderpriority, n,
         n / sum(n) OVER (PARTITION BY mkey) AS share
  FROM cell
), d AS (
  SELECT mkey, o_orderpriority, n, share,
         lag(mkey) OVER w AS prev_mkey,
         lag(share) OVER w AS prev_share
  FROM s
  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY mkey)
)
SELECT mkey, o_orderpriority, CAST(n AS BIGINT) AS n,
       round(share, 4) AS share,
       round(CASE WHEN prev_mkey = mkey - 1
                  THEN share - prev_share END, 4) + 0.0 AS share_delta_mom
FROM d
"""


# --------------------------------------------------------------------------
# C31. Peak concurrency (sweep line): max simultaneously-active
# sessions and the earliest instant it is reached. Session intervals
# from the gap-based sessionizer; the ±1 sweep runs through the
# range-partitioned cumulative machinery (range_cumsum — now
# sign-general), so the global ordering never lands on one task.
# Start points order before end points at the same microsecond via the
# composite key 2·us / 2·us+1 (inclusive-interval convention).
# --------------------------------------------------------------------------

def max_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sess = ev.withColumn("sess_id",
                         F.sum(new_sess).over(
                             w.rowsBetween(Window.unboundedPreceding, 0)))
    iv = (sess.groupBy("user_id", "sess_id")
              .agg(F.min(us).alias("s"), F.max(us).alias("e")))
    pts = iv.select(F.explode(F.array(
        F.struct((F.col("s") * 2).alias("k"), F.lit(1).alias("delta")),
        F.struct((F.col("e") * 2 + 1).alias("k"),
                 F.lit(-1).alias("delta")))).alias("p"))         .select("p.k", "p.delta")
    cum = stats.range_cumsum(pts, "k", ["delta"])
    peak = cum.agg(F.max("cum_delta").alias("mx"))
    return (cum.crossJoin(F.broadcast(peak))
               .where(F.col("cum_delta") == F.col("mx"))
               .agg(F.max("mx").cast("int").alias("max_concurrent"),
                    F.timestamp_micros(
                        F.floor(F.min("k") / 2).cast("long"))
                     .alias("peak_at")))

MAX_CONCURRENT_SQL = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                      > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, us,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM e
), iv AS (
  SELECT user_id, sess_id, min(us) AS st, max(us) AS en
  FROM s GROUP BY 1, 2
), pts AS (
  SELECT st * 2 AS k, 1 AS delta FROM iv
  UNION ALL
  SELECT en * 2 + 1 AS k, -1 AS delta FROM iv
), c AS (
  SELECT k, sum(delta) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS cum
  FROM pts
), m AS (SELECT max(cum) AS mx FROM c)
SELECT CAST(max(mx) AS INT) AS max_concurrent,
       make_timestamp(CAST(floor(min(k) / 2) AS BIGINT)) AS peak_at
FROM c, m WHERE cum = mx
"""


# --------------------------------------------------------------------------
# C32. Theil-Sen robust trend of the daily event series: the median of
# all pairwise slopes (and the matching median intercept). Robust
# complement to A20's least-squares line (the reference fits lm trends,
# R:1194; Theil-Sen is the standard outlier-resistant alternative —
# Sen 1968, public). Scale shape: the O(days²) pair set is built from
# the AGGREGATED calendar series (bounded by the calendar, ~365 rows/yr
# at any data size), never from raw events — a broadcast self-join of a
# tiny table on top of one distributed count-by-day.
# --------------------------------------------------------------------------

def _daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events per calendar day, keyed by an absolute day index ``d``."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    day = F.datediff(F.to_date("ts"), F.lit("1995-01-01").cast("date"))
    return ev.groupBy(day.alias("d")).agg(F.count(F.lit(1)).alias("n"))

_DAILY_SQL = """
  SELECT datediff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS d,
         count(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
"""



def theilsen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_counts(spark, sf_dir)
    a, b = daily.alias("a"), daily.alias("b")
    # (n_b - n_a) / (d_b - d_a): integer differences, one exact double
    # division — bit-identical across engines, so the median's middle
    # values agree exactly and only the interpolation rounding remains.
    pairs = (a.join(F.broadcast(b), F.col("b.d") > F.col("a.d"))
              .select(((F.col("b.n") - F.col("a.n"))
                       / (F.col("b.d") - F.col("a.d"))).alias("slope")))
    m = pairs.agg(F.percentile("slope", F.lit(0.5)).alias("__m"),
                  F.count(F.lit(1)).alias("n_pairs"))
    return (daily.crossJoin(F.broadcast(m))
                 .agg(F.count(F.lit(1)).alias("n_days"),
                      F.max("n_pairs").alias("n_pairs"),
                      F.round(F.max("__m"), 4).alias("slope"),
                      F.round(F.percentile(
                          F.col("n") - F.col("__m") * F.col("d"),
                          F.lit(0.5)), 4).alias("intercept")))

THEILSEN_SQL = f"""
WITH daily AS ({_DAILY_SQL}),
p AS (
  SELECT CAST(b.n - a.n AS DOUBLE) / (b.d - a.d) AS slope
  FROM daily a JOIN daily b ON b.d > a.d
),
m AS (SELECT quantile_cont(slope, 0.5) AS m, count(*) AS n_pairs FROM p)
SELECT count(*) AS n_days,
       max(n_pairs) AS n_pairs,
       round(max(m.m), 4) AS slope,
       round(quantile_cont(daily.n - m.m * daily.d, 0.5), 4) AS intercept
FROM daily, m
"""


# --------------------------------------------------------------------------
# C33. Harmonic (weekly sin/cos) regression on the daily series — the
# closed-form seasonality fit that complements C21's decomposition:
# n ~ intercept + a·sin(2πd/7) + b·cos(2πd/7), solved by the SAME
# one-pass normal-equation machinery as A21 over the calendar-bounded
# aggregate. Regressors are rounded to 6 dp on BOTH engines so libm
# last-ulp sin/cos differences cannot reach the Gram sums.
# --------------------------------------------------------------------------

def harmonic_weekly_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math
    daily = _daily_counts(spark, sf_dir)
    ang = (F.lit(2 * math.pi) * F.col("d")) / 7
    feat = daily.select(
        F.round(F.sin(ang), 6).alias("sin_t"),
        F.round(F.cos(ang), 6).alias("cos_t"),
        F.col("n").cast("double").alias("n"))
    return ml.ols_fit_df(feat, ["sin_t", "cos_t"], "n")

HARMONIC_SQL = oracles.normal_eq_sql(
    ["sin_t", "cos_t"], "n",
    table=f"""(
  SELECT round(sin((2 * pi()) * d / 7), 6) AS sin_t,
         round(cos((2 * pi()) * d / 7), 6) AS cos_t,
         CAST(n AS DOUBLE) AS n
  FROM ({_DAILY_SQL}) __d) __t""")


# --------------------------------------------------------------------------
# C34. Grubbs outlier test on the daily series: G = max|n−mean|/sd with
# the flagged day (Grubbs 1950, public). The deviation |n−mean| is an
# exact double (integer counts, exact mean S/n), so the argmax ordering
# is engine-identical; ties break on the earlier day.
# --------------------------------------------------------------------------

def grubbs_daily_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_counts(spark, sf_dir)
    st = daily.agg(F.avg("n").alias("__mu"),
                   F.stddev_samp("n").alias("__sd"),
                   F.count(F.lit(1)).alias("n_days"))
    dev = F.abs(F.col("n") - F.col("__mu"))
    # nullif: a constant series has sd = 0 — G undefined => NULL,
    # never an ANSI DIVIDE_BY_ZERO job abort
    return (daily.crossJoin(F.broadcast(st))
                 .orderBy(dev.desc(), F.col("d").asc())
                 .limit(1)
                 .select("n_days",
                         F.round(dev / F.nullif(F.col("__sd"),
                                                F.lit(0.0)), 4)
                          .alias("g_stat"),
                         F.col("d").cast("int").alias("outlier_day"),
                         F.col("n").alias("outlier_n")))

GRUBBS_SQL = f"""
WITH daily AS ({_DAILY_SQL}),
st AS (SELECT avg(n) AS mu, stddev_samp(n) AS sd, count(*) AS n_days
       FROM daily)
SELECT st.n_days,
       round(abs(daily.n - st.mu) / nullif(st.sd, 0), 4) AS g_stat,
       CAST(daily.d AS INT) AS outlier_day,
       daily.n AS outlier_n
FROM daily, st
ORDER BY abs(daily.n - st.mu) DESC, daily.d ASC
LIMIT 1
"""


# --------------------------------------------------------------------------
# C35. Wald-Wolfowitz runs test for randomness of the daily series
# around its median (public, 1940). Days equal to the (interpolated)
# median are dropped, per the standard formulation. Everything after
# the daily aggregate is integer arithmetic + one IEEE sqrt, so the
# z statistic is bit-identical across engines. The ordered scan is over
# the calendar-bounded series (allowed global window over ``d``).
# --------------------------------------------------------------------------

def runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_counts(spark, sf_dir)
    med = daily.agg(F.percentile("n", F.lit(0.5)).alias("__med"))
    j = (daily.crossJoin(F.broadcast(med))
              .where(F.col("n") != F.col("__med"))
              .withColumn("__s", (F.col("n") > F.col("__med")).cast("int")))
    w = Window.orderBy("d")
    flips = (j.withColumn("__flip",
                          (F.col("__s") != F.lag("__s").over(w)).cast("int"))
              .agg(F.sum("__s").alias("n_pos"),
                   F.sum(1 - F.col("__s")).alias("n_neg"),
                   (F.coalesce(F.sum("__flip"), F.lit(0)) + 1).alias("runs")))
    n1, n2, r = F.col("n_pos"), F.col("n_neg"), F.col("runs")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1
    var = (2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
           / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1)))
    return flips.select("n_pos", "n_neg", "runs",
                        F.round((r - mu) / F.sqrt(var), 4).alias("z_stat"))

RUNS_TEST_SQL = f"""
WITH daily AS ({_DAILY_SQL}),
med AS (SELECT quantile_cont(n, 0.5) AS med FROM daily),
s AS (
  SELECT d, CASE WHEN n > med THEN 1 ELSE 0 END AS sgn
  FROM daily, med WHERE n != med
),
fl AS (
  SELECT sgn,
         CASE WHEN sgn != lag(sgn) OVER (ORDER BY d) THEN 1 ELSE 0 END AS flip
  FROM s
),
f AS (
  SELECT CAST(sum(sgn) AS BIGINT) AS n_pos,
         CAST(sum(1 - sgn) AS BIGINT) AS n_neg,
         CAST(coalesce(sum(flip), 0) + 1 AS BIGINT) AS runs
  FROM fl
)
SELECT n_pos, n_neg, runs,
       round((runs - (2.0 * n_pos * n_neg / (n_pos + n_neg) + 1))
             / sqrt(2.0 * n_pos * n_neg * (2.0 * n_pos * n_neg - n_pos - n_neg)
                    / ((n_pos + n_neg) * (n_pos + n_neg)
                       * (n_pos + n_neg - 1))), 4) AS z_stat
FROM f
"""


# --------------------------------------------------------------------------
# C36. Poisson GLM (log link) on the daily event series with weekly
# harmonics — the count-data companion to C33's Gaussian fit: rate
# λ(d) = exp(b0 + b1·sin + b2·cos). IRLS over the calendar-bounded
# aggregate; determinism contract in ml.poisson_glm_df.
# --------------------------------------------------------------------------

def poisson_glm_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math
    daily = _daily_counts(spark, sf_dir)
    ang = (F.lit(2 * math.pi) * F.col("d")) / 7
    feat = daily.select(
        F.round(F.sin(ang), 6).alias("sin_t"),
        F.round(F.cos(ang), 6).alias("cos_t"),
        F.col("n").cast("double").alias("n"))
    return ml.poisson_glm_df(feat, ["sin_t", "cos_t"], "n", n_iter=3)

POISSON_GLM_SQL = oracles.poisson_glm_sql(
    ["sin_t", "cos_t"], "n", n_iter=3,
    table=f"""(
  SELECT round(sin((2 * pi()) * d / 7), 6) AS sin_t,
         round(cos((2 * pi()) * d / 7), 6) AS cos_t,
         CAST(n AS DOUBLE) AS n
  FROM ({_DAILY_SQL}) __d) __t""")


# --------------------------------------------------------------------------
# C37. Overdispersion diagnostic for the daily count series — the
# model-adequacy check paired with C36's Poisson GLM (a Poisson series
# has dispersion ≈ 1; var/mean ≫ 1 says use negative binomial). One
# aggregate over the calendar-bounded series; integer sums keep the
# index engine-stable to the 4-dp round.
# --------------------------------------------------------------------------

def overdispersion_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_counts(spark, sf_dir)
    agg = daily.agg(F.count(F.lit(1)).alias("n_days"),
                    F.avg("n").alias("__mu"),
                    F.var_samp("n").alias("__var"))
    disp = F.col("__var") / F.col("__mu")
    return agg.select(
        "n_days",
        F.round("__mu", 4).alias("mean_daily"),
        F.round("__var", 4).alias("var_daily"),
        F.round(disp, 4).alias("dispersion_index"),
        F.round((F.col("n_days") - 1) * disp, 4).alias("chi2_stat"))

OVERDISPERSION_SQL = f"""
WITH daily AS ({_DAILY_SQL}),
f AS (SELECT count(*) AS n_days, avg(n) AS mu, var_samp(n) AS v
      FROM daily)
SELECT n_days, round(mu, 4) AS mean_daily, round(v, 4) AS var_daily,
       round(v / mu, 4) AS dispersion_index,
       round((n_days - 1) * (v / mu), 4) AS chi2_stat
FROM f
"""


# --------------------------------------------------------------------------
# C38. Funnel conversion latency quantiles: p50/p90 of the
# view→purchase time for converting users — the timing companion to
# C12's strict funnel. The per-user latency table is users-sized, so
# the exact quantiles go through stats.grouped_quantiles (bracket-
# refine, no single-buffer sort at any scale) on a constant group.
# Latencies are integer microseconds — interpolation is engine-exact.
# --------------------------------------------------------------------------

def funnel_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    t, ty = F.col("ts"), F.col("event_type")
    d = ev.withColumn("t_view", F.min(F.when(ty == "view", t)).over(w))
    d = d.withColumn(
        "t_click", F.min(F.when((ty == "click")
                                & (t >= F.col("t_view")), t)).over(w))
    d = d.withColumn(
        "t_purchase", F.min(F.when((ty == "purchase")
                                   & (t >= F.col("t_click")), t)).over(w))
    lat = (d.groupBy("user_id")
             .agg(F.max("t_purchase").alias("tp"),
                  F.max("t_view").alias("tv"))
             .where(F.col("tp").isNotNull())
             # seconds, not microseconds: interpolated quantiles at
             # ~1e11 magnitude sit BELOW one double ulp per 1e-4, so a
             # 4-dp round would flip on the engines' different (equal-
             # value) interpolation formulas; at ~1e5 seconds the noise
             # is 1e-10 against a 5e-5 round quantum
             .select(F.lit("all").alias("g"),
                     ((F.unix_micros("tp") - F.unix_micros("tv"))
                      / F.lit(1_000_000.0)).alias("latency_s")))
    q = stats.grouped_quantiles(lat, "g", "latency_s",
                                [0.5, 0.9], ["p50_s", "p90_s"])
    n = lat.groupBy("g").agg(F.count(F.lit(1)).alias("n_converted"))
    return (q.join(n, "g")
             .select("n_converted",
                     F.round("p50_s", 4).alias("p50_s"),
                     F.round("p90_s", 4).alias("p90_s")))

FUNNEL_LATENCY_SQL = """
WITH d1 AS (
  SELECT user_id, ts, event_type,
         min(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t_view
  FROM events
), d2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts >= t_view THEN ts END)
              OVER (PARTITION BY user_id) AS t_click
  FROM d1
), d3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts >= t_click
                     THEN ts END)
              OVER (PARTITION BY user_id) AS t_purchase
  FROM d2
), lat AS (
  SELECT (epoch_us(max(t_purchase)) - epoch_us(max(t_view)))
         / 1000000.0 AS latency_s
  FROM d3 GROUP BY user_id
  HAVING max(t_purchase) IS NOT NULL
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       round(quantile_cont(latency_s, 0.5), 4) AS p50_s,
       round(quantile_cont(latency_s, 0.9), 4) AS p90_s
FROM lat
HAVING count(*) > 0
"""
# HAVING count(*) > 0: the Spark side's groupBy("g") over an empty
# latency frame emits 0 rows (no conversions); a bare global
# aggregate here would emit one — match the 0-row behavior
# (code-review r08, found while attaching the approx twin's oracle).


# --------------------------------------------------------------------------
# C39. Robust outlier days (modified z-score, Iglewicz-Hoaglin 1993,
# public): 0.6745·(n−median)/MAD on the daily series — the
# median-based companion to C34's mean-based Grubbs test. Top-5 days
# by |modified z| (threshold-free output is non-empty at every SF);
# exact interpolated median/MAD from integer counts.
# --------------------------------------------------------------------------

def robust_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_counts(spark, sf_dir)
    med = daily.agg(F.percentile("n", F.lit(0.5)).alias("__med"))
    dev = (daily.crossJoin(F.broadcast(med))
                .withColumn("__ad", F.abs(F.col("n") - F.col("__med"))))
    mad = dev.agg(F.percentile("__ad", F.lit(0.5)).alias("__mad"))
    # nullif: a constant series has MAD = 0 — modified z undefined =>
    # NULL, never an ANSI DIVIDE_BY_ZERO job abort
    z = (F.lit(0.6745) * (F.col("n") - F.col("__med"))
         / F.nullif(F.col("__mad"), F.lit(0.0)))
    return (dev.crossJoin(F.broadcast(mad))
               .orderBy(F.abs(z).desc(), F.col("d").asc())
               .limit(5)
               .select(F.col("d").cast("int").alias("day_num"),
                       F.col("n").alias("n_events"),
                       F.round(z, 4).alias("modified_z")))

ROBUST_OUTLIER_SQL = f"""
WITH daily AS ({_DAILY_SQL}),
med AS (SELECT quantile_cont(n, 0.5) AS med FROM daily),
dev AS (
  SELECT d, n, abs(n - med.med) AS ad, med.med AS med
  FROM daily, med
),
mad AS (SELECT quantile_cont(ad, 0.5) AS mad FROM dev)
SELECT CAST(d AS INT) AS day_num, n AS n_events,
       round(0.6745 * (n - med) / nullif(mad.mad, 0), 4) AS modified_z
FROM dev, mad
ORDER BY abs(0.6745 * (n - med) / nullif(mad.mad, 0)) DESC, d ASC
LIMIT 5
"""


# --------------------------------------------------------------------------
# C40. Cohort LTV curve: cumulative revenue per user by cohort week ×
# week offset — the value companion to C13's retention counts. One
# user-keyed window for the cohort tag, one (cohort, offset) shuffle;
# the cumulative runs over the weeks²-bounded grid. Money sums are
# exact DECIMAL before the per-user division.
# --------------------------------------------------------------------------

def cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import money
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    d = (ev.withColumn("first_ts", F.min("ts").over(w))
           .select("user_id", money("value").alias("val"),
                   F.date_format(F.date_trunc("week", "first_ts"),
                                 "yyyy-MM-dd").alias("cohort_week"),
                   ((F.datediff(F.date_trunc("week", "ts").cast("date"),
                                F.date_trunc("week", "first_ts")
                                 .cast("date")) / 7)
                    .cast("long").alias("week_offset"))))
    cell = (d.groupBy("cohort_week", "week_offset")
             .agg(F.sum("val").alias("__rev")))
    size = (d.groupBy("cohort_week")
             .agg(F.countDistinct("user_id").alias("__nu")))
    wcum = (Window.partitionBy("cohort_week").orderBy("week_offset")
                  .rowsBetween(Window.unboundedPreceding, 0))
    return (cell.withColumn("__cum", F.sum("__rev").over(wcum))
                .join(size, "cohort_week")
                .select("cohort_week", "week_offset",
                        F.round(F.col("__cum").cast("double")
                                / F.col("__nu"), 4)
                         .alias("cum_ltv_per_user")))

COHORT_LTV_SQL = """
WITH d AS (
  SELECT user_id, CAST(value AS DECIMAL(18,2)) AS val,
         strftime(date_trunc('week', min(ts) OVER (PARTITION BY user_id)),
                  '%Y-%m-%d') AS cohort_week,
         CAST(datediff('day',
                CAST(date_trunc('week',
                     min(ts) OVER (PARTITION BY user_id)) AS DATE),
                CAST(date_trunc('week', ts) AS DATE)) / 7 AS BIGINT)
           AS week_offset
  FROM events
), cell AS (
  SELECT cohort_week, week_offset, sum(val) AS rev
  FROM d GROUP BY 1, 2
), size_t AS (
  SELECT cohort_week, count(DISTINCT user_id) AS nu FROM d GROUP BY 1
)
SELECT cell.cohort_week, cell.week_offset,
       round(CAST(sum(cell.rev) OVER (PARTITION BY cell.cohort_week
                                      ORDER BY cell.week_offset
                                      ROWS UNBOUNDED PRECEDING)
                  AS DOUBLE) / size_t.nu, 4) AS cum_ltv_per_user
FROM cell JOIN size_t ON size_t.cohort_week = cell.cohort_week
"""


# --------------------------------------------------------------------------
# C41. Daily bounce rate: share of gap-sessionized sessions with
# exactly one event, per day of session start — the engagement-quality
# companion to B13's sessionization (same 30-min gap rule, same
# single user_id window shuffle). Integer session counts → exact rate.
# --------------------------------------------------------------------------

def daily_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1) \
                .otherwise(0)
    sess = ev.withColumn(
        "sess_id", F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    per_sess = (sess.groupBy("user_id", "sess_id")
                    .agg(F.count(F.lit(1)).alias("n_ev"),
                         F.to_date(F.min("ts")).alias("day")))
    return (per_sess.groupBy(F.date_format("day", "yyyy-MM-dd")
                             .alias("day"))
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.sum((F.col("n_ev") == 1).cast("long"))
                  .alias("n_bounces"))
            .select("day", "n_sessions", "n_bounces",
                    F.round(F.col("n_bounces") / F.col("n_sessions"), 4)
                     .alias("bounce_rate")))

BOUNCE_SQL = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                      > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM g
), per_sess AS (
  SELECT user_id, sess_id, count(*) AS n_ev,
         strftime(CAST(min(ts) AS DATE), '%Y-%m-%d') AS day
  FROM s GROUP BY 1, 2
)
SELECT day, count(*) AS n_sessions,
       CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       round(CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 4) AS bounce_rate
FROM per_sess GROUP BY 1
"""


# --------------------------------------------------------------------------
# C42. Burstiness index per event type (Goh-Barabási 2008, public):
# B = (σ−μ)/(σ+μ) of the DAILY count series per type — B→−1 periodic,
# 0 Poisson-like, →1 bursty. Computed on the calendar-bounded
# (type × day) aggregate, never on raw-event inter-arrivals (which
# would need a per-type global ordering — the r01 flaw class).
# --------------------------------------------------------------------------

def burstiness_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
               .agg(F.count(F.lit(1)).alias("n")))
    agg = (daily.groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n_days"),
                     F.avg("n").alias("__mu"),
                     F.stddev_samp("n").alias("__sd")))
    b = (F.col("__sd") - F.col("__mu")) / (F.col("__sd") + F.col("__mu"))
    return agg.select("event_type", "n_days",
                      F.round("__mu", 4).alias("mean_daily"),
                      F.round("__sd", 4).alias("sd_daily"),
                      F.round(b, 4).alias("burstiness"))

BURSTINESS_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
)
SELECT event_type, count(*) AS n_days,
       round(avg(n), 4) AS mean_daily,
       round(stddev_samp(n), 4) AS sd_daily,
       round((stddev_samp(n) - avg(n)) / (stddev_samp(n) + avg(n)), 4)
         AS burstiness
FROM daily GROUP BY 1
"""


# --------------------------------------------------------------------------
# C43. Nelson-Aalen cumulative hazard (Nelson 1972 / Aalen 1978,
# public): H(t) = Σ d_i / n_i over the SAME churn life table as C81's
# Kaplan-Meier (3-day-gap churn, right-censored at the window edge) —
# the hazard-scale companion estimator. Cumulatives run over the
# ≤#days-sized duration table via range_cumsum (never a data-sized
# global window).
# --------------------------------------------------------------------------

def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    cum = (_churn_life_table(spark, sf_dir)
           .withColumn("h",
                       F.when(F.col("d") > 0, F.col("d") / F.col("at_risk"))
                        .otherwise(F.lit(0.0))))
    na = stats.range_cumsum(cum, "dur", ["h"])
    return (na.where(F.col("d") > 0)
              .select(F.col("dur").cast("int").alias("duration_days"),
                      F.col("at_risk").alias("n_at_risk"),
                      F.col("d").alias("n_churned"),
                      F.round(F.col("cum_h"), 4).alias("cum_hazard")))

NELSON_AALEN_SQL = _CHURN_LIFE_SQL + """, na AS (
  SELECT dur, d, at_risk,
         sum(CASE WHEN d > 0 THEN d / at_risk ELSE 0.0 END)
           OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS cum_h
  FROM cum
)
SELECT CAST(dur AS INT) AS duration_days,
       CAST(at_risk AS BIGINT) AS n_at_risk,
       CAST(d AS BIGINT) AS n_churned,
       round(cum_h, 4) AS cum_hazard
FROM na WHERE d > 0
"""


# --------------------------------------------------------------------------
# C44. Mann-Kendall trend test (Mann 1945 / Kendall, public) on the
# daily event series — the significance test that pairs with C32's
# Theil-Sen slope estimate. S = Σ sign(n_j − n_i) over day pairs
# (calendar-bounded broadcast self-join), tie-corrected variance, and
# the continuity-corrected z — every input integer, so the statistic
# is engine-exact.
# --------------------------------------------------------------------------

def mann_kendall_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_counts(spark, sf_dir)
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (a.join(F.broadcast(b), F.col("b.d") > F.col("a.d"))
              .agg(F.sum(F.signum(F.col("b.n") - F.col("a.n"))
                          .cast("long")).alias("s")))
    ties = (daily.groupBy("n").agg(F.count(F.lit(1)).alias("t"))
                 .agg(F.sum(F.col("t") * (F.col("t") - 1)
                            * (2 * F.col("t") + 5)).alias("tie_term")))
    nn = daily.agg(F.count(F.lit(1)).alias("n_days"))
    s, tt, nd = F.col("s"), F.col("tie_term"), F.col("n_days")
    var = (nd * (nd - 1) * (2 * nd + 5) - tt) / F.lit(18.0)
    zed = F.when(s > 0, (s - 1) / F.sqrt(var)) \
           .when(s < 0, (s + 1) / F.sqrt(var)).otherwise(F.lit(0.0))
    return (pairs.crossJoin(F.broadcast(ties))
                 .crossJoin(F.broadcast(nn))
                 .select("n_days", s.alias("s_stat"),
                         F.round(var, 4).alias("var_s"),
                         F.round(zed, 4).alias("z_stat")))

MANN_KENDALL_SQL = f"""
WITH daily AS ({_DAILY_SQL}),
p AS (
  SELECT CAST(sum(sign(b.n - a.n)) AS BIGINT) AS s
  FROM daily a JOIN daily b ON b.d > a.d
),
ties AS (
  SELECT CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
  FROM (SELECT n, count(*) AS t FROM daily GROUP BY 1)
),
nn AS (SELECT count(*) AS n_days FROM daily)
SELECT n_days, s AS s_stat,
       round((n_days * (n_days - 1) * (2 * n_days + 5) - tie_term)
             / 18.0, 4) AS var_s,
       round(CASE WHEN s > 0 THEN (s - 1)
                       / sqrt((n_days * (n_days - 1) * (2 * n_days + 5)
                               - tie_term) / 18.0)
                  WHEN s < 0 THEN (s + 1)
                       / sqrt((n_days * (n_days - 1) * (2 * n_days + 5)
                               - tie_term) / 18.0)
                  ELSE 0.0 END, 4) AS z_stat
FROM p CROSS JOIN ties CROSS JOIN nn
"""


# --------------------------------------------------------------------------
# C45. Binary-segmentation changepoint on daily event volume (Scott &
# Knott 1974; the first split of binary segmentation): the day
# boundary maximizing the between-segment SSE reduction
# gain(i) = s_i^2/i + (S-s_i)^2/(n-i) - S^2/n, evaluated for EVERY
# candidate boundary from one cumulative window over the
# #days-sized aggregated series (the fact table is touched once, by
# the daily count aggregate). Complements cusum_changepoint_events
# (Page statistic = mean-shift evidence; binseg = explicit two-segment
# least-squares fit). Peak day deterministic via rounded-gain max +
# earliest-day tie-break.
# --------------------------------------------------------------------------

def changepoint_binseg_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    day = F.datediff(F.to_date("ts"), F.lit("1995-01-01").cast("date"))
    daily = (ev.groupBy(day.alias("d"))
               .agg(F.count(F.lit(1)).cast("double").alias("y")))
    tot = daily.agg(F.sum("y").alias("S"),
                    F.count(F.lit(1)).alias("n"))
    wc = (Window.orderBy("d")
          .rowsBetween(Window.unboundedPreceding, 0))
    wr = Window.orderBy("d")
    cum = (daily.crossJoin(F.broadcast(tot))
                .withColumn("s1", F.sum("y").over(wc))
                .withColumn("i", F.row_number().over(wr))
                .where(F.col("i") < F.col("n")))
    i_d = F.col("i").cast("double")
    rest = F.col("n").cast("double") - i_d
    gain = (F.col("s1") * F.col("s1") / i_d
            + (F.col("S") - F.col("s1")) * (F.col("S") - F.col("s1")) / rest
            - F.col("S") * F.col("S") / F.col("n").cast("double"))
    scored = cum.select(
        "d", "n",
        F.round(gain, 4).alias("g"),
        F.round(F.col("s1") / i_d, 4).alias("mean_left"),
        F.round((F.col("S") - F.col("s1")) / rest, 4).alias("mean_right"))
    peak = scored.agg(F.max("g").alias("g_max"))
    return (scored.crossJoin(F.broadcast(peak))
            .where(F.col("g") == F.col("g_max"))
            .agg(F.min("d").cast("int").alias("split_day"),
                 F.min_by("mean_left", "d").alias("mean_left"),
                 F.min_by("mean_right", "d").alias("mean_right"),
                 F.max("g_max").alias("sse_gain"),
                 F.any_value("n").alias("n_days")))

BINSEG_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS d,
         CAST(count(*) AS DOUBLE) AS y
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), tot AS (SELECT sum(y) AS S, count(*) AS n FROM daily),
cum AS (
  SELECT d, n, S,
         sum(y) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS s1,
         row_number() OVER (ORDER BY d) AS i
  FROM daily CROSS JOIN tot
), scored AS (
  SELECT d, n,
         round(s1 * s1 / i + (S - s1) * (S - s1) / (n - i)
               - S * S / n, 4) AS g,
         round(s1 / i, 4) AS mean_left,
         round((S - s1) / (n - i), 4) AS mean_right
  FROM cum WHERE i < n
), peak AS (SELECT max(g) AS g_max FROM scored)
SELECT CAST(min(d) AS INT) AS split_day,
       min_by(mean_left, d) AS mean_left,
       min_by(mean_right, d) AS mean_right,
       max(g_max) AS sse_gain,
       any_value(n) AS n_days
FROM scored CROSS JOIN peak
WHERE g = g_max
"""


# --------------------------------------------------------------------------
# C46. Holt double exponential smoothing on daily event volume (Holt
# 1957; R's HoltWinters(..., gamma=FALSE) — the trend extension of
# C27's EWMA): level/trend recurrence l_t = a*y + (1-a)(l+b),
# b_t = g*(l_t - l_{t-1}) + (1-g)*b. The fact table is touched once
# by the daily aggregate; the recurrence runs over the COLLECTED
# #days series (bounded by the calendar — identical at 100 TB) with
# plain IEEE doubles, and the oracle replays the SAME operation
# sequence through a recursive CTE, so both sides agree bit-for-bit
# before the final rounding. Emits the end state + a 7-day forecast.
# --------------------------------------------------------------------------

_HOLT_ALPHA, _HOLT_GAMMA = 0.3, 0.1

def holt_linear_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    day = F.datediff(F.to_date("ts"), F.lit("1995-01-01").cast("date"))
    daily = (ev.groupBy(day.alias("d"))
               .agg(F.count(F.lit(1)).cast("double").alias("y"))
               .orderBy("d").collect())
    ys = [r["y"] for r in daily]
    a, g = _HOLT_ALPHA, _HOLT_GAMMA
    if len(ys) < 2:  # trend needs two observations; mirror the
        # oracle's empty recursive-CTE result
        return spark.createDataFrame(
            [], "n_days int, level double, trend double, "
                "forecast_7d double")
    lvl, trd = ys[0], ys[1] - ys[0]
    for y in ys[1:]:
        prev = lvl
        lvl = a * y + (1 - a) * (lvl + trd)
        trd = g * (lvl - prev) + (1 - g) * trd
    fc7 = lvl + 7 * trd
    return (spark.createDataFrame(
        [(len(ys), lvl, trd, fc7)],
        "n_days int, level double, trend double, forecast_7d double")
        .select("n_days", F.round("level", 4).alias("level"),
                F.round("trend", 4).alias("trend"),
                F.round("forecast_7d", 4).alias("forecast_7d")))

HOLT_SQL = f"""
WITH RECURSIVE daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS d,
         CAST(count(*) AS DOUBLE) AS y
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), seq AS (
  SELECT y, row_number() OVER (ORDER BY d) AS i FROM daily
), n AS (SELECT count(*) AS n_days FROM seq),
holt AS (
  SELECT 1 AS i, s1.y AS lvl, s2.y - s1.y AS trd
  FROM (SELECT y FROM seq WHERE i = 1) s1,
       (SELECT y FROM seq WHERE i = 2) s2
  UNION ALL
  SELECT h.i + 1,
         {_HOLT_ALPHA} * s.y + {1 - _HOLT_ALPHA} * (h.lvl + h.trd),
         {_HOLT_GAMMA} * (({_HOLT_ALPHA} * s.y
                           + {1 - _HOLT_ALPHA} * (h.lvl + h.trd)) - h.lvl)
           + {1 - _HOLT_GAMMA} * h.trd
  FROM holt h JOIN seq s ON s.i = h.i + 1
)
SELECT CAST(n_days AS INT) AS n_days,
       round(lvl, 4) AS level,
       round(trd, 4) AS trend,
       round(lvl + 7 * trd, 4) AS forecast_7d
FROM holt CROSS JOIN n WHERE i = n_days
"""


# --------------------------------------------------------------------------
# C47. Interval-union coverage per user (gaps-and-islands union
# length): each event opens a 5-minute activity interval; overlaps
# union into islands (new island when the next start exceeds the
# running max end — a per-user cumulative window, parallel across
# users), and covered time = SUM(island end - island start). Emits
# the coverage distribution's summary row. The per-user window
# partitions by a high-cardinality key, so no single task ever sees
# more than one user's events.
# --------------------------------------------------------------------------

def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    iv = ev.select("user_id",
                   F.col("ts").cast("long").alias("s"),
                   (F.col("ts").cast("long") + 300).alias("e"))
    w = (Window.partitionBy("user_id").orderBy("s", "e")
         .rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "new_island",
        (F.col("s") > F.coalesce(F.max("e").over(w), F.lit(-1))).cast("int"))
    wisl = (Window.partitionBy("user_id").orderBy("s", "e")
            .rowsBetween(Window.unboundedPreceding, 0))
    isl = flagged.withColumn("island", F.sum("new_island").over(wisl))
    per_island = (isl.groupBy("user_id", "island")
                     .agg(F.min("s").alias("s0"), F.max("e").alias("e1")))
    per_user = (per_island.groupBy("user_id")
                .agg(F.sum(F.col("e1") - F.col("s0")).alias("covered_s"),
                     F.count(F.lit(1)).alias("n_islands")))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.avg("covered_s"), 4).alias("avg_covered_s"),
        F.max("covered_s").alias("max_covered_s"),
        F.sum("covered_s").alias("total_covered_s"),
        F.round(F.avg("n_islands"), 4).alias("avg_islands"))

INTERVAL_COVERAGE_SQL = """
WITH iv AS (
  -- floor, not cast: DuckDB double->BIGINT casts ROUND, while Spark's
  -- timestamp->long truncates the fractional second
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e
  FROM events WHERE ts IS NOT NULL
), flagged AS (
  SELECT user_id, s, e,
         CASE WHEN s > coalesce(max(e) OVER (
                PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
), isl AS (
  SELECT user_id, s, e,
         sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS island
  FROM flagged
), per_island AS (
  SELECT user_id, island, min(s) AS s0, max(e) AS e1
  FROM isl GROUP BY 1, 2
), per_user AS (
  SELECT user_id, sum(e1 - s0) AS covered_s, count(*) AS n_islands
  FROM per_island GROUP BY 1
)
SELECT count(*) AS n_users,
       round(avg(covered_s), 4) AS avg_covered_s,
       CAST(max(covered_s) AS BIGINT) AS max_covered_s,
       CAST(sum(covered_s) AS BIGINT) AS total_covered_s,
       round(avg(n_islands), 4) AS avg_islands
FROM per_user
"""


# --------------------------------------------------------------------------
# C48. Day-of-week seasonality strength (the eta-squared of the dow
# factor on daily volume — quantifies HOW seasonal the series is,
# complementing C21's decomposition and C33's harmonic fit): one
# daily aggregate, then SS_between(dow)/SS_total over the
# #days-sized series.
# --------------------------------------------------------------------------

def dow_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = (ev.groupBy(F.to_date("ts").alias("day"))
               .agg(F.count(F.lit(1)).cast("double").alias("y")))
    d = daily.withColumn("dow", F.dayofweek("day"))
    g = (d.groupBy("dow")
          .agg(F.count(F.lit(1)).alias("n"), F.avg("y").alias("m"),
               F.sum(F.col("y") * F.col("y")).alias("s2")))
    tot = g.agg(
        F.sum("n").alias("n_days"),
        (F.sum(F.col("n") * F.col("m")) / F.sum("n")).alias("gm"),
        F.sum("s2").alias("ss_raw"),
        F.sum(F.col("n") * F.col("m") * F.col("m")).alias("ss_groups"))
    ss_total = F.col("ss_raw") - F.col("n_days") * F.col("gm") * F.col("gm")
    ss_between = (F.col("ss_groups")
                  - F.col("n_days") * F.col("gm") * F.col("gm"))
    # nullif: a constant daily series zeroes SS_total — eta² undefined
    # => NULL, never an ANSI DIVIDE_BY_ZERO job abort
    return tot.select(
        F.col("n_days").cast("long").alias("n_days"),
        F.round(F.col("gm"), 4).alias("mean_daily"),
        F.round(ss_between / F.nullif(ss_total, F.lit(0.0)), 6)
         .alias("eta_sq_dow"))

DOW_STRENGTH_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS y
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), d AS (
  SELECT y, dayofweek(day) + 1 AS dow FROM daily
), g AS (
  SELECT dow, count(*) AS n, avg(y) AS m, sum(y * y) AS s2
  FROM d GROUP BY 1
), tot AS (
  SELECT sum(n) AS n_days,
         sum(n * m) / sum(n) AS gm,
         sum(s2) AS ss_raw,
         sum(n * m * m) AS ss_groups
  FROM g
)
SELECT CAST(n_days AS BIGINT) AS n_days,
       round(gm, 4) AS mean_daily,
       round((ss_groups - n_days * gm * gm)
             / nullif(ss_raw - n_days * gm * gm, 0), 6) AS eta_sq_dow
FROM tot
"""


# --------------------------------------------------------------------------
# C49. Seasonal-naive forecast baseline (the y_hat(t) = y(t-7)
# benchmark every forecast must beat — Hyndman's forecasting
# baseline; grades C46's Holt and C33's harmonic fit): lag-7 over the
# #days aggregated daily series (the 'd' calendar window the plan
# audit whitelists), MAE / MAPE / RMSE of the naive forecast.
# --------------------------------------------------------------------------

def seasonal_naive_error_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    day = F.datediff(F.to_date("ts"), F.lit("1995-01-01").cast("date"))
    daily = (ev.groupBy(day.alias("d"))
               .agg(F.count(F.lit(1)).cast("double").alias("y")))
    w = Window.orderBy("d")
    lagged = daily.withColumn("y7", F.lag("y", 7).over(w)) \
                  .where(F.col("y7").isNotNull())
    e = F.col("y") - F.col("y7")
    return lagged.agg(
        F.count(F.lit(1)).alias("n_scored_days"),
        F.round(F.avg(F.abs(e)), 4).alias("mae"),
        F.round(F.avg(F.abs(e) / F.col("y")), 6).alias("mape"),
        F.round(F.sqrt(F.avg(e * e)), 4).alias("rmse"))

SEASONAL_NAIVE_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS d,
         CAST(count(*) AS DOUBLE) AS y
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), lagged AS (
  SELECT y, lag(y, 7) OVER (ORDER BY d) AS y7 FROM daily
)
SELECT count(*) AS n_scored_days,
       round(avg(abs(y - y7)), 4) AS mae,
       round(avg(abs(y - y7) / y), 6) AS mape,
       round(sqrt(avg((y - y7) * (y - y7))), 4) AS rmse
FROM lagged WHERE y7 IS NOT NULL
"""


# --------------------------------------------------------------------------
# C50. Peak-load window (capacity planning's first question — the
# busiest sliding hour): hopping windows (1 h length, 15 min hop)
# over the event stream, then the deterministic argmax (earliest
# window among count maxima). The hopping aggregate shuffles
# window-bucket partials (4x fan-out, map-side combined); the argmax
# runs over the tiny bucket table. Same window spec as
# events_hopping_windows, different question.
# --------------------------------------------------------------------------

def peak_load_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    hop = (ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
             .agg(F.count(F.lit(1)).alias("n_events")))
    flat = hop.select(F.col("w.start").alias("window_start"),
                      F.col("w.end").alias("window_end"), "n_events")
    peak = flat.agg(F.max("n_events").alias("mx"))
    return (flat.crossJoin(F.broadcast(peak))
            .where(F.col("n_events") == F.col("mx"))
            .agg(F.min("window_start").alias("window_start"),
                 F.min_by("window_end", "window_start").alias("window_end"),
                 F.max("mx").alias("n_events")))

PEAK_LOAD_SQL = """
WITH hops AS (
  SELECT unnest([0, 1, 2, 3]) AS k, ts FROM events WHERE ts IS NOT NULL
), b AS (
  -- windows of length 1h hopping by 15min: event belongs to the 4
  -- windows starting at floor15(ts) - k*15min for k in 0..3
  SELECT time_bucket(INTERVAL '15 minutes', ts)
           - k * INTERVAL '15 minutes' AS window_start,
         count(*) AS n_events
  FROM hops GROUP BY 1
), peak AS (SELECT max(n_events) AS mx FROM b)
SELECT min(window_start) AS window_start,
       min(window_start) + INTERVAL '1 hour' AS window_end,
       CAST(max(mx) AS BIGINT) AS n_events
FROM b CROSS JOIN peak WHERE n_events = mx
"""


# --------------------------------------------------------------------------
# C51. Friedman rank test on week x day-of-week blocks (Friedman
# 1937; friedman.test — the nonparametric repeated-measures companion
# to C48's eta2): within each complete ISO week (block) the 7 daily
# volumes are ranked 1..7 (per-block window, bounded 7 rows — scale-
# safe by construction); the statistic compares per-dow rank sums.
# Untied ranks (daily counts are effectively distinct); incomplete
# boundary weeks are dropped so every block has exactly k=7 rows.
# --------------------------------------------------------------------------

def friedman_dow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = (ev.groupBy(F.to_date("ts").alias("day"))
               .agg(F.count(F.lit(1)).cast("double").alias("y")))
    d = daily.select(
        "y", F.weekofyear("day").alias("wk"),
        F.year("day").alias("yr"),
        ((F.dayofweek("day") + 5) % 7 + 1).alias("dow"))  # 1=Mon
    blocks = (d.groupBy("yr", "wk")
                .agg(F.count(F.lit(1)).alias("ndays")))
    full = d.join(F.broadcast(blocks.where(F.col("ndays") == 7)
                              .select("yr", "wk")), ["yr", "wk"])
    wb = Window.partitionBy("yr", "wk").orderBy("y", "dow")
    ranked = full.withColumn("r", F.row_number().over(wb))
    per_dow = (ranked.groupBy("dow")
                     .agg(F.sum("r").alias("rsum")))
    tot = (ranked.agg((F.countDistinct("yr", "wk")).alias("n")))
    k = 7
    q = per_dow.crossJoin(F.broadcast(tot)).agg(
        F.max("n").alias("n_blocks"),
        F.round(12.0 / (F.max("n") * k * (k + 1))
                * F.sum(F.col("rsum") * F.col("rsum"))
                - 3.0 * F.max("n") * (k + 1), 4).alias("friedman_q"))
    return q.select("n_blocks", F.lit(k - 1).alias("dof"), "friedman_q")

FRIEDMAN_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS y
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), d AS (
  SELECT y, weekofyear(day) AS wk, year(day) AS yr,
         (dayofweek(day) + 6) % 7 + 1 AS dow
  FROM daily
), blocks AS (
  SELECT yr, wk FROM d GROUP BY 1, 2 HAVING count(*) = 7
), full_w AS (
  SELECT d.* FROM d JOIN blocks USING (yr, wk)
), ranked AS (
  SELECT dow,
         row_number() OVER (PARTITION BY yr, wk ORDER BY y, dow) AS r
  FROM full_w
), per_dow AS (
  SELECT dow, sum(r) AS rsum FROM ranked GROUP BY 1
), tot AS (
  SELECT count(*) AS n FROM blocks
)
SELECT CAST(max(n) AS BIGINT) AS n_blocks,
       6 AS dof,
       round(12.0 / (max(n) * 7 * 8) * sum(rsum * rsum)
             - 3.0 * max(n) * 8, 4) AS friedman_q
FROM per_dow CROSS JOIN tot
"""


# --------------------------------------------------------------------------
# C45. Ljung-Box portmanteau test (Ljung-Box 1978) on the daily event
# count series — the whiteness companion of C24's per-lag ACF: is the
# series jointly autocorrelated over lags 1..7? Uses the standard
# time-series convention (overall mean and c0 denominator, NOT the
# pairwise Pearson corr C24 reports). The daily series is a ~#days
# aggregate, so the self-join and the 7-row cumulative window are
# constant-size compute at any corpus scale; the one data-sized
# shuffle is the daily groupBy itself.
# --------------------------------------------------------------------------

def ljung_box_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    day = F.datediff(F.to_date("ts"), F.lit("1995-01-01").cast("date"))
    daily = (ev.groupBy(day.alias("d"))
               .agg(F.count(F.lit(1)).cast("double").alias("x")))
    base = daily.agg(F.count(F.lit(1)).alias("n"), F.avg("x").alias("xbar"),
                     F.sum(F.col("x") * F.col("x")).alias("sxx"))
    a = daily.alias("a")
    b = daily.alias("b")
    lagged = (a.select("d", "x",
                       F.explode(F.sequence(F.lit(1), F.lit(7)))
                        .alias("lag_k"))
               .join(b, F.col("b.d") == F.col("a.d") + F.col("lag_k"))
               .crossJoin(F.broadcast(base))
               .groupBy("lag_k", "n", "xbar", "sxx")
               .agg(F.sum((F.col("a.x") - F.col("xbar"))
                          * (F.col("b.x") - F.col("xbar"))).alias("ck")))
    n = F.col("n").cast("double")
    # nullif: a constant series zeroes c0 — every r_k undefined =>
    # NULL, never an ANSI DIVIDE_BY_ZERO job abort
    c0 = F.col("sxx") - n * F.col("xbar") * F.col("xbar")
    rk = F.col("ck") / F.nullif(c0, F.lit(0.0))
    term = rk * rk / (n - F.col("lag_k"))
    w = Window.orderBy("lag_k").rowsBetween(Window.unboundedPreceding, 0)
    return (lagged.select("lag_k", rk.alias("__rk"), (n * (n + 2) * term)
                          .alias("__t"), "n")
                  .select("lag_k", F.round("__rk", 6).alias("r_k"),
                          F.round(F.sum("__t").over(w), 4).alias("q_cum"))
                  .orderBy("lag_k"))

LJUNG_BOX_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS d,
         CAST(count(*) AS DOUBLE) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), base AS (
  SELECT count(*) AS n, avg(x) AS xbar, sum(x * x) AS sxx FROM daily
), ks AS (SELECT CAST(unnest(generate_series(1, 7)) AS INT) AS lag_k),
lagged AS (
  SELECT lag_k,
         sum((a.x - xbar) * (b.x - xbar)) AS ck,
         max(n) AS n, max(sxx) AS sxx, max(xbar) AS xbar
  FROM daily a CROSS JOIN ks
  JOIN daily b ON b.d = a.d + lag_k
  CROSS JOIN base
  GROUP BY lag_k
)
SELECT lag_k,
       round(ck / nullif(sxx - n * xbar * xbar, 0), 6) AS r_k,
       round(sum(n * (n + 2.0)
                 * (ck / nullif(sxx - n * xbar * xbar, 0)) ** 2
                 / (n - lag_k))
             OVER (ORDER BY lag_k ROWS UNBOUNDED PRECEDING), 4) AS q_cum
FROM lagged
ORDER BY lag_k
"""


# --------------------------------------------------------------------------
# C46. Negative-binomial method-of-moments fit on the daily event
# count series (the parametric companion of C37's overdispersion
# diagnostic): size r = m^2/(v-m), p = m/v, plus the NB2 mean
# log-likelihood. Spark has no lgamma expression, so the likelihood
# sum is compressed to the DISTINCT daily-count values first (a
# <=#days-row table — integer counts repeat) and evaluated on the
# driver; the DuckDB oracle computes the identical sum with its
# native lgamma. Degenerate input (v <= m: no overdispersion) yields
# NULL fit columns rather than a ZeroDivisionError, matching the
# oracle's NULL propagation (round-2 advice pattern).
# --------------------------------------------------------------------------

def negbin_mom_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    day = F.datediff(F.to_date("ts"), F.lit("1995-01-01").cast("date"))
    daily = (ev.groupBy(day.alias("d"))
               .agg(F.count(F.lit(1)).alias("x")))
    runs = (daily.groupBy("x").agg(F.count(F.lit(1)).alias("t"))
                 .collect())
    n = sum(int(r["t"]) for r in runs)
    m = sum(int(r["x"]) * int(r["t"]) for r in runs) / n
    v = (sum((int(r["x"]) - m) ** 2 * int(r["t"]) for r in runs)
         / (n - 1))
    if v <= m:
        row = (n, round(m, 4), round(v, 4), None, None, None)
    else:
        r_sz = m * m / (v - m)
        p = m / v
        ll = sum(int(t_) * (math.lgamma(x_ + r_sz) - math.lgamma(r_sz)
                            - math.lgamma(x_ + 1) + r_sz * math.log(p)
                            + x_ * math.log(1 - p))
                 for x_, t_ in ((int(r["x"]), int(r["t"])) for r in runs))
        row = (n, round(m, 4), round(v, 4), round(r_sz, 6), round(p, 6),
               round(ll / n, 6))
    return spark.createDataFrame(
        [row], "n_days long, mean double, variance double, size_r double, "
               "prob_p double, mean_loglik double")

NEGBIN_MOM_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS d,
         count(*) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), mom AS (
  SELECT count(*) AS n, avg(CAST(x AS DOUBLE)) AS m,
         var_samp(CAST(x AS DOUBLE)) AS v
  FROM daily
), fit AS (
  SELECT n, m, v,
         CASE WHEN v > m THEN m * m / (v - m) END AS r_sz,
         CASE WHEN v > m THEN m / v END AS p
  FROM mom
)
SELECT CAST(n AS BIGINT) AS n_days,
       round(m, 4) AS mean,
       round(v, 4) AS variance,
       round(r_sz, 6) AS size_r,
       round(p, 6) AS prob_p,
       round((SELECT sum(lgamma(x + r_sz) - lgamma(r_sz) - lgamma(x + 1.0)
                         + r_sz * ln(p) + x * ln(1 - p))
              FROM daily) / n, 6) AS mean_loglik
FROM fit
"""


# --------------------------------------------------------------------------
# Registry entries: key -> (builder, DuckDB oracle SQL). The package
# __init__ merges every module's QUERIES into REGISTRY; a new query is
# added here, next to its builder.
# --------------------------------------------------------------------------

QUERIES = {
    "funnel_conversion": (funnel_conversion, FUNNEL_SQL),
    "cohort_retention": (cohort_retention, COHORT_SQL),
    "events_asof_purchase": (events_asof_purchase, EVENTS_ASOF_SQL),
    "quantile_summary": (quantile_summary, QUANTILE_SQL),
    "cube_revenue": (cube_revenue, CUBE_SQL),
    "melt_segment_metrics": (melt_segment_metrics, MELT_SQL),
    "events_rolling_avg": (events_rolling_avg, ROLLING_SQL),
    "customer_cumulative_spend": (customer_cumulative_spend, CUMSUM_SQL),
    "events_json_extract": (events_json_extract, JSON_SQL),
    "changepoint_binseg_daily": (changepoint_binseg_daily, BINSEG_SQL),
    "holt_linear_daily": (holt_linear_daily, HOLT_SQL),
    "interval_union_coverage": (interval_union_coverage,
                                INTERVAL_COVERAGE_SQL),
    "dow_seasonality_strength": (dow_seasonality_strength,
                                 DOW_STRENGTH_SQL),
    "seasonal_naive_error_daily": (seasonal_naive_error_daily,
                                   SEASONAL_NAIVE_SQL),
    "peak_load_window": (peak_load_window, PEAK_LOAD_SQL),
    "friedman_dow_test": (friedman_dow_test, FRIEDMAN_SQL),
    "ljung_box_daily": (ljung_box_daily, LJUNG_BOX_SQL),
    "negbin_mom_daily": (negbin_mom_daily, NEGBIN_MOM_SQL),
    "range_join_value_bins": (range_join_value_bins, RANGE_JOIN_SQL),
    "events_gapfill_daily": (events_gapfill_daily, GAPFILL_SQL),
    "events_hopping_windows": (events_hopping_windows, HOPPING_SQL),
    "grouping_sets_revenue": (grouping_sets_revenue, GROUPING_SETS_SQL),
    "orders_trailing_7d": (orders_trailing_7d, TRAILING_7D_SQL),
    "events_attribution_join": (events_attribution_join, ATTRIBUTION_SQL),
    "decayed_engagement": (decayed_engagement, DECAYED_SQL),
    "events_variant_extract": (events_variant_extract, VARIANT_SQL),
    "user_activity_streaks": (user_activity_streaks, STREAKS_SQL),
    "first_last_touch": (first_last_touch, FIRST_LAST_SQL),
    "seasonal_trend_events": (seasonal_trend_events, SEASONAL_SQL),
    "rolling_active_users": (rolling_active_users, ROLLING_ACTIVE_SQL),
    "cuped_experiment_events": (cuped_experiment_events, CUPED_SQL),
    "acf_daily_events": (acf_daily_events, ACF_SQL),
    "event_transitions": (event_transitions, TRANSITIONS_SQL),
    "cusum_changepoint_events": (cusum_changepoint_events, CUSUM_SQL),
    "ewma_smoothed_daily": (ewma_smoothed_daily, EWMA_SQL),
    "user_path_patterns": (user_path_patterns, PATH_PATTERNS_SQL),
    "events_dow_hour_heatmap": (events_dow_hour_heatmap, DOW_HOUR_SQL),
    "priority_mix_shift": (priority_mix_shift, MIX_SHIFT_SQL),
    "max_concurrent_sessions": (max_concurrent_sessions, MAX_CONCURRENT_SQL),
    "theilsen_daily_trend": (theilsen_daily_trend, THEILSEN_SQL),
    "harmonic_weekly_fit": (harmonic_weekly_fit, HARMONIC_SQL),
    "grubbs_daily_outlier": (grubbs_daily_outlier, GRUBBS_SQL),
    "runs_test_daily": (runs_test_daily, RUNS_TEST_SQL),
    "poisson_glm_daily": (poisson_glm_daily, POISSON_GLM_SQL),
    "overdispersion_daily": (overdispersion_daily, OVERDISPERSION_SQL),
    "funnel_latency_quantiles": (funnel_latency_quantiles,
                                 FUNNEL_LATENCY_SQL),
    "robust_outlier_days": (robust_outlier_days, ROBUST_OUTLIER_SQL),
    "cohort_ltv": (cohort_ltv, COHORT_LTV_SQL),
    "daily_bounce_rate": (daily_bounce_rate, BOUNCE_SQL),
    "burstiness_by_type": (burstiness_by_type, BURSTINESS_SQL),
    "nelson_aalen_hazard": (nelson_aalen_hazard, NELSON_AALEN_SQL),
    "mann_kendall_daily": (mann_kendall_daily, MANN_KENDALL_SQL),
}
