"""Query registry — a_stats_ext module: round-3 late additions
(batches 13+), mechanically split out of a_stats.py to keep modules
under the 3k-line maintainability bar. Same conventions: every query
has a DuckDB oracle, paired with it in the ``QUERIES`` dict at the
end."""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import oracles
from ..io import load_table, local_df
from ..operators import ml, stats
from .a_core import _expected_sql


# --------------------------------------------------------------------------
# A138. D'Agostino-Pearson K² omnibus normality test (D'Agostino 1971;
# Anscombe-Glynn 1983 kurtosis transform) on ln(o_totalprice) — the
# formal companion of the reference's visual normality checks (hist /
# qqnorm around R:601 Jarque-Bera territory). ONE moment scan (n,
# E[x..x⁴]) feeds closed-form z-transforms of skewness and kurtosis;
# 100 TB cost = a single map-side-combined aggregate, no shuffle
# beyond 5 partials. All downstream math is scalar algebra on the
# one-row aggregate, identical decimal inputs in both engines.
# --------------------------------------------------------------------------

def dagostino_k2_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    x = F.log(F.col("o_totalprice").cast("double"))
    g = o.agg(F.count(F.lit(1)).alias("n"),
              F.avg(x).alias("m1"),
              F.avg(x * x).alias("r2"),
              F.avg(x * x * x).alias("r3"),
              F.avg(x * x * x * x).alias("r4"))
    n = F.col("n").cast("double")
    m1 = F.col("m1")
    # noise_floor (r06 ADVICE #2 consistency): POSITIVE cancellation
    # noise in m2 slipped past both nullif and nanvl — relative guard
    m2 = stats.noise_floor(F.col("r2") - m1 * m1, F.col("r2"))
    m3 = F.col("r3") - 3 * m1 * F.col("r2") + 2 * m1 * m1 * m1
    m4 = (F.col("r4") - 4 * m1 * F.col("r3")
          + 6 * m1 * m1 * F.col("r2") - 3 * m1 * m1 * m1 * m1)
    # nullif: a constant column zeroes m2 — the moments (and both z
    # transforms) are undefined => NULL; the z columns additionally
    # go through nanvl below because a NEAR-constant column (m2 at
    # float-noise scale) drives the transforms to NaN rather than a
    # division error
    g1 = m3 / F.nullif(F.pow(m2, 1.5), F.lit(0.0))
    b2 = m4 / F.nullif(m2 * m2, F.lit(0.0))
    # skewness transform (D'Agostino 1970)
    y = g1 * F.sqrt((n + 1) * (n + 3) / (6 * (n - 2)))
    beta2 = (3.0 * (n * n + 27 * n - 70) * (n + 1) * (n + 3)
             / ((n - 2) * (n + 5) * (n + 7) * (n + 9)))
    w2 = F.sqrt(2 * (beta2 - 1)) - 1
    delta = 1.0 / F.sqrt(F.log(F.sqrt(w2)))
    alpha = F.sqrt(2.0 / (w2 - 1))
    z1 = delta * F.log(y / alpha + F.sqrt((y / alpha) * (y / alpha) + 1))
    # kurtosis transform (Anscombe-Glynn 1983)
    eb2 = 3.0 * (n - 1) / (n + 1)
    vb2 = 24.0 * n * (n - 2) * (n - 3) / ((n + 1) * (n + 1)
                                          * (n + 3) * (n + 5))
    xk = (b2 - eb2) / F.sqrt(vb2)
    sb1 = (6.0 * (n * n - 5 * n + 2) / ((n + 7) * (n + 9))
           * F.sqrt(6.0 * (n + 3) * (n + 5) / (n * (n - 2) * (n - 3))))
    a = 6.0 + 8.0 / sb1 * (2.0 / sb1 + F.sqrt(1 + 4.0 / (sb1 * sb1)))
    z2 = ((1 - 2.0 / (9 * a))
          - F.cbrt((1 - 2.0 / a) / (1 + xk * F.sqrt(2.0 / (a - 4))))
          ) / F.sqrt(2.0 / (9 * a))
    nan_null = lambda c: F.nanvl(c, F.lit(None).cast("double"))  # noqa: E731
    return g.select(
        F.col("n").cast("long").alias("n"),
        F.round(nan_null(g1), 6).alias("skewness_g1"),
        F.round(nan_null(b2), 6).alias("kurtosis_b2"),
        F.round(nan_null(z1), 4).alias("z_skew"),
        F.round(nan_null(z2), 4).alias("z_kurt"),
        F.round(nan_null(z1 * z1 + z2 * z2), 4).alias("k2_stat"))

DAGOSTINO_SQL = """
WITH g AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         avg(ln(o_totalprice)) AS m1,
         avg(ln(o_totalprice) * ln(o_totalprice)) AS r2,
         avg(ln(o_totalprice) * ln(o_totalprice) * ln(o_totalprice)) AS r3,
         avg(ln(o_totalprice) * ln(o_totalprice)
             * ln(o_totalprice) * ln(o_totalprice)) AS r4
  FROM orders
), mg AS (
  -- relative noise floor mirrors stats.noise_floor (cancellation m2)
  SELECT n, m1, r2, r3, r4,
         CASE WHEN r2 - m1 * m1 > 1e-12 * r2
              THEN r2 - m1 * m1 END AS m2
  FROM g
), mom AS (
  SELECT n,
         (r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1)
           / nullif(pow(m2, 1.5), 0) AS g1,
         (r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2 - 3 * m1 * m1 * m1 * m1)
           / nullif(m2 * m2, 0) AS b2
  FROM mg
), sk AS (
  SELECT n, g1, b2,
         g1 * sqrt((n + 1) * (n + 3) / (6 * (n - 2))) AS y,
         sqrt(2 * (3.0 * (n * n + 27 * n - 70) * (n + 1) * (n + 3)
                   / ((n - 2) * (n + 5) * (n + 7) * (n + 9)) - 1)) - 1 AS w2
  FROM mom
), z1c AS (
  SELECT n, g1, b2,
         (1.0 / sqrt(ln(sqrt(w2))))
           * ln(y / sqrt(2.0 / (w2 - 1))
                + sqrt((y / sqrt(2.0 / (w2 - 1)))
                       * (y / sqrt(2.0 / (w2 - 1))) + 1)) AS z1
  FROM sk
), ku AS (
  SELECT n, g1, b2, z1,
         (b2 - 3.0 * (n - 1) / (n + 1))
           / sqrt(24.0 * n * (n - 2) * (n - 3)
                  / ((n + 1) * (n + 1) * (n + 3) * (n + 5))) AS xk,
         6.0 * (n * n - 5 * n + 2) / ((n + 7) * (n + 9))
           * sqrt(6.0 * (n + 3) * (n + 5) / (n * (n - 2) * (n - 3))) AS sb1
  FROM z1c
), ac AS (
  SELECT n, g1, b2, z1, xk,
         6.0 + 8.0 / sb1 * (2.0 / sb1 + sqrt(1 + 4.0 / (sb1 * sb1))) AS a
  FROM ku
), z2c AS (
  SELECT n, g1, b2, z1,
         ((1 - 2.0 / (9 * a))
          - cbrt((1 - 2.0 / a) / (1 + xk * sqrt(2.0 / (a - 4)))))
           / sqrt(2.0 / (9 * a)) AS z2
  FROM ac
)
SELECT CAST(n AS BIGINT) AS n,
       round(CASE WHEN isnan(g1) THEN NULL ELSE g1 END, 6)
         AS skewness_g1,
       round(CASE WHEN isnan(b2) THEN NULL ELSE b2 END, 6)
         AS kurtosis_b2,
       round(CASE WHEN isnan(z1) THEN NULL ELSE z1 END, 4) AS z_skew,
       round(CASE WHEN isnan(z2) THEN NULL ELSE z2 END, 4) AS z_kurt,
       round(CASE WHEN isnan(z1 * z1 + z2 * z2) THEN NULL
             ELSE z1 * z1 + z2 * z2 END, 4) AS k2_stat
FROM z2c
"""


# --------------------------------------------------------------------------
# A139. Dunn's post-hoc pairwise rank test (Dunn 1964, Bonferroni
# family) — the follow-up the reference's workflow implies after a
# significant Kruskal-Wallis (A18d shares this exact rank machinery):
# which segment pairs actually differ in acctbal? Global tie-averaged
# ranks ride the range-partitioned helper on the DISTINCT-value table
# (never a corpus sort); the pairwise table is |segments|²-bounded
# driver-free algebra.
# --------------------------------------------------------------------------

def dunn_posthoc_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", F.col("c_acctbal").cast("double").alias("v"))
    vals = (c.groupBy("v").agg(F.count(F.lit(1)).alias("t"))
             .localCheckpoint(eager=True))
    ranked = stats.tie_avg_ranks(vals, "v", "t")
    per = c.groupBy("c_mktsegment", "v").agg(F.count(F.lit(1)).alias("nv"))
    grp = (per.join(ranked.select("v", "avg_rank"), "v")
              .groupBy("c_mktsegment")
              .agg(F.sum(F.col("avg_rank") * F.col("nv")).alias("rsum"),
                   F.sum("nv").alias("ng")))
    glob = vals.agg(
        F.sum("t").alias("n_total"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
         .alias("tie3"))
    a = grp.select(F.col("c_mktsegment").alias("seg_a"),
                   (F.col("rsum") / F.col("ng")).alias("mr_a"),
                   F.col("ng").alias("na"))
    b = grp.select(F.col("c_mktsegment").alias("seg_b"),
                   (F.col("rsum") / F.col("ng")).alias("mr_b"),
                   F.col("ng").alias("nb"))
    nn = F.col("n_total").cast("double")
    # nullif: all-tied input → tie3 = n³−n zeroes sig2 (and n=1 zeroes
    # the inner denominator) — z undefined => NULL, never an ANSI
    # abort (the A139b twin's guard)
    sig2 = (nn * (nn + 1) / 12.0
            - F.col("tie3").cast("double")
              / F.nullif(12.0 * (nn - 1), F.lit(0.0)))
    z = ((F.col("mr_a") - F.col("mr_b"))
         / F.nullif(
             F.sqrt(sig2 * (1.0 / F.col("na") + 1.0 / F.col("nb"))),
             F.lit(0.0)))
    return (a.join(b, a.seg_a < b.seg_b).crossJoin(F.broadcast(glob))
             .select("seg_a", "seg_b",
                     F.round("mr_a", 4).alias("mean_rank_a"),
                     F.round("mr_b", 4).alias("mean_rank_b"),
                     F.round(z, 4).alias("z_stat"))
             .orderBy("seg_a", "seg_b"))

DUNN_SQL = """
WITH c AS (
  SELECT c_mktsegment, CAST(c_acctbal AS DOUBLE) AS v FROM customer
), ranked AS (
  SELECT c_mktsegment, v,
         rank() OVER (ORDER BY v)
           + (count(*) OVER (PARTITION BY v) - 1) / 2.0 AS r
  FROM c
), grp AS (
  SELECT c_mktsegment, sum(r) AS rsum, count(*) AS ng
  FROM ranked GROUP BY 1
), ties AS (
  SELECT coalesce(sum(t * t * t - t), 0) AS tie3,
         CAST(sum(t) AS DOUBLE) AS n_total
  FROM (SELECT count(*) AS t FROM c GROUP BY v)
)
SELECT a.c_mktsegment AS seg_a, b.c_mktsegment AS seg_b,
       round(a.rsum / a.ng, 4) AS mean_rank_a,
       round(b.rsum / b.ng, 4) AS mean_rank_b,
       round((a.rsum / a.ng - b.rsum / b.ng)
             / nullif(sqrt((n_total * (n_total + 1) / 12.0
                     - tie3 / nullif(12.0 * (n_total - 1), 0))
                    * (1.0 / a.ng + 1.0 / b.ng)), 0), 4) AS z_stat
FROM grp a JOIN grp b ON a.c_mktsegment < b.c_mktsegment
CROSS JOIN ties
ORDER BY seg_a, seg_b
"""


# --------------------------------------------------------------------------
# A140. Jonckheere-Terpstra ordered-alternative trend test
# (Terpstra 1952, Jonckheere 1954): does l_quantity shift
# stochastically upward across ordered l_discount levels? JT is the
# sum of pairwise Mann-Whitney counts between ordered group pairs,
# computed ENTIRELY on the (discount × quantity) contingency cube —
# ≤ 11·50 cells regardless of corpus size, exactly A116/A137's
# bounded-cube discipline (the cell self-join is constant-size
# compute, never rows²). Tie-corrected normal approximation.
# --------------------------------------------------------------------------

def jonckheere_trend_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cells = (li.groupBy(F.col("l_discount").cast("double").alias("g"),
                        F.col("l_quantity").cast("double").alias("v"))
               .agg(F.count(F.lit(1)).alias("c"))
               .localCheckpoint(eager=True))
    c1 = cells.select(F.col("g").alias("g1"), F.col("v").alias("v1"),
                      F.col("c").alias("c1"))
    c2 = cells.select(F.col("g").alias("g2"), F.col("v").alias("v2"),
                      F.col("c").alias("c2"))
    jt = (c1.join(c2, F.col("g1") < F.col("g2"))
            .agg(F.sum(F.when(F.col("v1") < F.col("v2"),
                              F.col("c1") * F.col("c2").cast("double"))
                        .when(F.col("v1") == F.col("v2"),
                              0.5 * F.col("c1") * F.col("c2"))
                        .otherwise(F.lit(0.0))).alias("jt")))
    # cubic tie/group sums overflow int64 already at the 20× stress
    # set (Σ n(n−1)(2n+5) ~ 3e19 for 1.1M-row discount groups) —
    # promote each TERM to double before multiplying, both engines
    gs = (cells.groupBy("g").agg(F.sum("c").alias("n"))
               .withColumn("nd", F.col("n").cast("double"))
               .agg(F.sum("n").alias("n_total"),
                    F.sum(F.col("nd") * F.col("nd")).alias("sn2"),
                    F.sum(F.col("nd") * (F.col("nd") - 1)
                          * (2 * F.col("nd") + 5)).alias("sn25"),
                    F.sum(F.col("nd") * (F.col("nd") - 1)
                          * (F.col("nd") - 2)).alias("sn3"),
                    F.sum(F.col("nd") * (F.col("nd") - 1)).alias("snn")))
    ts = (cells.groupBy("v").agg(F.sum("c").alias("t"))
               .withColumn("td", F.col("t").cast("double"))
               .agg(F.sum(F.col("td") * (F.col("td") - 1)
                          * (2 * F.col("td") + 5)).alias("st25"),
                    F.sum(F.col("td") * (F.col("td") - 1)
                          * (F.col("td") - 2)).alias("st3"),
                    F.sum(F.col("td") * (F.col("td") - 1)).alias("stt")))
    n = F.col("n_total").cast("double")
    mean = (n * n - F.col("sn2")) / 4.0
    # the tie-product terms exceed int64 (Σn³ · Σt³ ~ 1e23 already at
    # sf0.01) — promote to double BEFORE multiplying, both engines
    var = ((n * (n - 1) * (2 * n + 5)
            - F.col("sn25").cast("double") - F.col("st25").cast("double"))
           / 72.0
           + F.col("sn3").cast("double") * F.col("st3").cast("double")
           / (36.0 * n * (n - 1) * (n - 2))
           + F.col("snn").cast("double") * F.col("stt").cast("double")
           / (8.0 * n * (n - 1)))
    return (jt.crossJoin(F.broadcast(gs)).crossJoin(F.broadcast(ts))
              .select(F.col("n_total").cast("long").alias("n"),
                      F.round("jt", 2).alias("jt_stat"),
                      F.round(mean, 2).alias("mean_jt"),
                      F.round((F.col("jt") - mean) / F.sqrt(var), 4)
                       .alias("z_stat")))

JONCKHEERE_SQL = """
WITH cells AS (
  SELECT CAST(l_discount AS DOUBLE) AS g, CAST(l_quantity AS DOUBLE) AS v,
         count(*) AS c
  FROM lineitem GROUP BY 1, 2
), jt AS (
  SELECT sum(CASE WHEN a.v < b.v THEN CAST(a.c * b.c AS DOUBLE)
                  WHEN a.v = b.v THEN 0.5 * a.c * b.c
                  ELSE 0.0 END) AS jt
  FROM cells a JOIN cells b ON a.g < b.g
), gs AS (
  SELECT CAST(sum(n) AS DOUBLE) AS n_total,
         sum(nd * nd) AS sn2,
         sum(nd * (nd - 1) * (2 * nd + 5)) AS sn25,
         sum(nd * (nd - 1) * (nd - 2)) AS sn3,
         sum(nd * (nd - 1)) AS snn
  FROM (SELECT sum(c) AS n, CAST(sum(c) AS DOUBLE) AS nd
        FROM cells GROUP BY g)
), ts AS (
  SELECT sum(td * (td - 1) * (2 * td + 5)) AS st25,
         sum(td * (td - 1) * (td - 2)) AS st3,
         sum(td * (td - 1)) AS stt
  FROM (SELECT CAST(sum(c) AS DOUBLE) AS td FROM cells GROUP BY v)
)
SELECT CAST(n_total AS BIGINT) AS n,
       round(jt, 2) AS jt_stat,
       round((n_total * n_total - sn2) / 4.0, 2) AS mean_jt,
       round((jt - (n_total * n_total - sn2) / 4.0)
             / sqrt((n_total * (n_total - 1) * (2 * n_total + 5)
                     - sn25 - st25) / 72.0
                    + sn3 * st3
                      / (36.0 * n_total * (n_total - 1) * (n_total - 2))
                    + snn * stt
                      / (8.0 * n_total * (n_total - 1))), 4)
         AS z_stat
FROM jt CROSS JOIN gs CROSS JOIN ts
"""


# --------------------------------------------------------------------------
# A141. Log-rank test (Mantel 1966 / Cox-Mantel) as an experiment
# readout: do users in deterministically-assigned A/B arms churn at
# different rates? Arms use the repo's seed-free md5-prefix
# randomization (deterministic_sample_orders' convention) so both
# engines assign identical arms and both arms are populated at every
# SF (a semantic split like "ever purchased" degenerates to one arm
# on small corpora). Extends the A81/C43 shared life-table
# construction to two strata — per-duration event/censor counts PER
# GROUP pivot into columns (2 arms -> 4 columns, one shuffle),
# cumulative at-risk sets ride range_cumsum on the <=#days-sized
# duration table, and the hypergeometric O-E/variance terms collapse
# in one bounded aggregate. Nothing scales with users beyond the
# first distinct-day shuffle.
# --------------------------------------------------------------------------

def logrank_churn_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    mx = ev.agg(F.max(F.to_date("ts")).alias("m"))
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    wlead = Window.partitionBy("user_id").orderBy("d")
    g = ud.withColumn("nxt", F.lead("d").over(wlead))
    arm = (F.substring(F.md5(F.concat(F.lit("arm:"),
                                      F.col("user_id").cast("string"))),
                       1, 1) < "8").cast("int")
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
                          .alias("churned"),
                         arm.alias("b")))
    counts = (per_user.groupBy("dur")
              .agg(F.sum(F.col("churned") * F.col("b")).alias("d1"),
                   F.sum((1 - F.col("churned")) * F.col("b")).alias("c1"),
                   F.sum(F.col("churned") * (1 - F.col("b"))).alias("d0"),
                   F.sum((1 - F.col("churned")) * (1 - F.col("b")))
                    .alias("c0"))
              .localCheckpoint(eager=True))
    tot = counts.agg((F.sum("d1") + F.sum("c1")).alias("n1_total"),
                     (F.sum("d0") + F.sum("c0")).alias("n0_total"))
    cum = (stats.range_cumsum(counts, "dur", ["d1", "c1", "d0", "c0"])
           .crossJoin(F.broadcast(tot))
           .withColumn("n1at", F.col("n1_total")
                       - (F.col("cum_d1") + F.col("cum_c1"))
                       + F.col("d1") + F.col("c1"))
           .withColumn("n0at", F.col("n0_total")
                       - (F.col("cum_d0") + F.col("cum_c0"))
                       + F.col("d0") + F.col("c0")))
    d = F.col("d1") + F.col("d0")
    nat = (F.col("n1at") + F.col("n0at")).cast("double")
    # ANSI sessions evaluate division subexpressions eagerly inside
    # the codegen stage, so the nat>1 guard lives IN the expression
    # (when), not only in the row filter
    ok = (d > 0) & (F.col("n1at") + F.col("n0at") > 1)
    agg = (cum.where(ok)
              .agg(F.first("n1_total").alias("n_arm_a"),
                   F.first("n0_total").alias("n_arm_b"),
                   F.sum("d1").alias("o1"),
                   F.sum(d * F.col("n1at") / nat).alias("e1"),
                   F.sum(F.when(ok, d * (F.col("n1at") / nat)
                                * (F.col("n0at") / nat)
                                * (nat - d) / (nat - 1))
                          .otherwise(F.lit(0.0))).alias("v")))
    # v == 0 (one arm empty at every event time) -> NULL, matching the
    # oracle's CASE; never an ANSI divide-by-zero
    z = F.when(F.col("v") > 0,
               (F.col("o1") - F.col("e1")) / F.sqrt(F.col("v")))
    return agg.select(
        F.col("n_arm_a").cast("long").alias("n_arm_a"),
        F.col("n_arm_b").cast("long").alias("n_arm_b"),
        F.col("o1").cast("long").alias("observed_a_churn"),
        F.round("e1", 4).alias("expected_a_churn"),
        F.round(z, 4).alias("z_stat"),
        F.round(z * z, 4).alias("chi2_stat"))

LOGRANK_SQL = """
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
                        THEN ld END) IS NOT NULL)::INT AS churned,
         (substring(md5('arm:' || CAST(user_id AS VARCHAR)), 1, 1)
          < '8')::INT AS b
  FROM f CROSS JOIN mx
), counts AS (
  SELECT dur,
         sum(churned * b) AS d1, sum((1 - churned) * b) AS c1,
         sum(churned * (1 - b)) AS d0,
         sum((1 - churned) * (1 - b)) AS c0
  FROM per_user GROUP BY 1
), tot AS (SELECT sum(d1) + sum(c1) AS n1_total,
                  sum(d0) + sum(c0) AS n0_total FROM counts),
cum AS (
  SELECT dur, d1, d0, n1_total, n0_total,
         n1_total - (sum(d1) OVER w + sum(c1) OVER w) + d1 + c1 AS n1at,
         n0_total - (sum(d0) OVER w + sum(c0) OVER w) + d0 + c0 AS n0at
  FROM counts CROSS JOIN tot
  WINDOW w AS (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), agg AS (
  SELECT any_value(n1_total) AS n_arm_a,
         any_value(n0_total) AS n_arm_b,
         sum(d1) AS o1,
         sum((d1 + d0) * n1at / CAST(n1at + n0at AS DOUBLE)) AS e1,
         sum((d1 + d0) * (n1at / CAST(n1at + n0at AS DOUBLE))
             * (n0at / CAST(n1at + n0at AS DOUBLE))
             * (n1at + n0at - d1 - d0)
             / CAST(n1at + n0at - 1 AS DOUBLE)) AS v
  FROM cum WHERE d1 + d0 > 0 AND n1at + n0at > 1
)
SELECT CAST(n_arm_a AS BIGINT) AS n_arm_a,
       CAST(n_arm_b AS BIGINT) AS n_arm_b,
       CAST(o1 AS BIGINT) AS observed_a_churn,
       round(e1, 4) AS expected_a_churn,
       round(CASE WHEN v > 0 THEN (o1 - e1) / sqrt(v) END, 4) AS z_stat,
       round(CASE WHEN v > 0 THEN (o1 - e1) * (o1 - e1) / v END, 4)
         AS chi2_stat
FROM agg
"""


# --------------------------------------------------------------------------
# A142. k-sample Anderson-Darling test statistic (Scholz-Stephens
# 1987, ties-adjusted A²akN) — does order value follow the SAME
# distribution across all five priorities? More tail-sensitive than
# A18g's two-sample KS. Everything runs on the distinct-value × group
# grid (k·|values| rows): per-group cumulatives ride the NEW
# range_cumsum_by_group (no single-task windows), the global ECDF
# rides range_cumsum, and the quadratic term is promoted to double
# BEFORE squaring (N·M ~ 2e18 at 100 TB would overflow int64).
# --------------------------------------------------------------------------

def ad_ksample_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cells = (o.groupBy(F.col("o_orderpriority").alias("g"),
                       F.col("o_totalprice").cast("double").alias("v"))
              .agg(F.count(F.lit(1)).alias("f"))
              .localCheckpoint(eager=True))
    sizes = cells.groupBy("g").agg(F.sum("f").alias("ni"))
    vals = cells.groupBy("v").agg(F.sum("f").alias("l"))
    # ONE grouped cumulative pass carries BOTH running sums
    # (optimization round 10): the grid replicates every distinct value
    # into every group, so the per-group cumsum of `l` over v IS the
    # global cumsum — the separate range_cumsum(vals) pass (its own
    # range shuffle, window, pin and offset join) is redundant.
    # Integer counts, so the fused sum is exact.
    grid = (vals.crossJoin(F.broadcast(sizes))
                .join(cells, ["g", "v"], "left")
                .withColumn("f", F.coalesce("f", F.lit(0))))
    mcum = stats.range_cumsum_by_group(grid, "g", "v", ["f", "l"])
    tot = sizes.agg(F.sum("ni").alias("N"),
                    F.count(F.lit(1)).alias("k"))
    j = mcum.crossJoin(F.broadcast(tot))
    nn = F.col("N").cast("double")
    ma = F.col("cum_f").cast("double") - F.col("f") / 2.0
    ba = F.col("cum_l").cast("double") - F.col("l") / 2.0
    den = ba * (nn - ba) - nn * F.col("l") / 4.0
    inner = (F.col("l") * (nn * ma - F.col("ni") * ba)
             * (nn * ma - F.col("ni") * ba) / den / F.col("ni"))
    agg = (j.where(den > 0)
            .agg(F.first("N").alias("n"), F.first("k").alias("k"),
                 F.sum(inner).alias("s")))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("int").alias("k_groups"),
        F.round((F.col("n") - 1) / F.col("n").cast("double")
                * F.col("s"), 4).alias("a2_akn"),
        (F.col("k") - 1).cast("double").alias("mean_h0"))

AD_KSAMPLE_SQL = """
WITH cells AS (
  SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS v,
         count(*) AS f
  FROM orders GROUP BY 1, 2
), sizes AS (SELECT g, sum(f) AS ni FROM cells GROUP BY 1),
vals AS (
  SELECT v, sum(f) AS l,
         sum(sum(f)) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum_l
  FROM cells GROUP BY v
), grid AS (
  SELECT s.g, va.v, va.l, va.cum_l, s.ni, coalesce(c.f, 0) AS f
  FROM vals va CROSS JOIN sizes s
  LEFT JOIN cells c ON c.g = s.g AND c.v = va.v
), mcum AS (
  SELECT g, v, l, cum_l, ni, f,
         sum(f) OVER (PARTITION BY g ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_f
  FROM grid
), tot AS (SELECT CAST(sum(ni) AS DOUBLE) AS nn, count(*) AS k
           FROM sizes),
terms AS (
  SELECT nn, k,
         l * (nn * (cum_f - f / 2.0) - ni * (cum_l - l / 2.0))
           * (nn * (cum_f - f / 2.0) - ni * (cum_l - l / 2.0))
           / ((cum_l - l / 2.0) * (nn - (cum_l - l / 2.0)) - nn * l / 4.0)
           / ni AS inner_term,
         (cum_l - l / 2.0) * (nn - (cum_l - l / 2.0)) - nn * l / 4.0
           AS den
  FROM mcum CROSS JOIN tot
)
SELECT CAST(any_value(nn) AS BIGINT) AS n,
       CAST(any_value(k) AS INT) AS k_groups,
       round((any_value(nn) - 1) / any_value(nn)
             * sum(inner_term), 4) AS a2_akn,
       CAST(any_value(k) - 1 AS DOUBLE) AS mean_h0
FROM terms WHERE den > 0
"""


# --------------------------------------------------------------------------
# A142b. Approximate k-sample Anderson-Darling on a fixed uniform
# value grid (VERDICT r03 #4 — the 100 TB path for A142): the exact
# A²akN walks the distinct-value grid, which is O(rows) on a
# continuous column. Here values first bin to a G=256 uniform
# [min, max] grid (exact min/max + IEEE arithmetic in identical op
# order on both engines), and the SAME ties-adjusted Scholz-Stephens
# statistic runs on the binned distributions — every count is integer,
# every window is ≤G (or k·G) rows, state is grid-bounded. The result
# is the exact A²akN OF THE BINNED DATA (a legitimate ties-adjusted
# statistic), converging to A142 as G grows; closeness to the exact
# form is asserted at two SFs in tests/test_round4.py. Full
# value-level oracle (integer-exact inputs to the closed form).
# --------------------------------------------------------------------------

_AD_GRID = 256


def ad_ksample_approx_priority(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    G = _AD_GRID
    o = load_table(spark, sf_dir, "orders")
    d = o.select(F.col("o_orderpriority").alias("g"),
                 F.col("o_totalprice").cast("double").alias("v"))
    mm = d.agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    # 1-row frame feeding the bin join — materialize once
    mm = local_df(spark, mm.collect(), mm.schema)
    j = d.crossJoin(F.broadcast(mm))
    raw = F.floor((F.col("v") - F.col("mn"))
                  / (F.col("mx") - F.col("mn")) * G)
    b = (F.when(F.col("mx") > F.col("mn"),
                F.least(F.lit(G - 1), F.greatest(F.lit(0), raw)))
          .otherwise(F.lit(0))).cast("int")
    cells = (j.groupBy("g", b.alias("__gbkt"))
               .agg(F.count(F.lit(1)).alias("f"))
               .localCheckpoint(eager=True))
    sizes = cells.groupBy("g").agg(F.sum("f").alias("ni"))
    vals = cells.groupBy("__gbkt").agg(F.sum("f").alias("l"))
    # __gbkt is grid-bounded (<= _AD_GRID rows) by construction
    wb = Window.orderBy("__gbkt").rowsBetween(Window.unboundedPreceding, 0)
    bcum = vals.select("__gbkt", "l", F.sum("l").over(wb).alias("cum_l"))
    grid = (bcum.crossJoin(F.broadcast(sizes))
                .join(cells, ["g", "__gbkt"], "left")
                .withColumn("f", F.coalesce("f", F.lit(0))))
    wg = (Window.partitionBy("g").orderBy("__gbkt")
                .rowsBetween(Window.unboundedPreceding, 0))
    mcum = grid.withColumn("cum_f", F.sum("f").over(wg))
    tot = sizes.agg(F.sum("ni").alias("N"), F.count(F.lit(1)).alias("k"))
    j2 = mcum.crossJoin(F.broadcast(tot))
    nn = F.col("N").cast("double")
    ma = F.col("cum_f").cast("double") - F.col("f") / 2.0
    ba = F.col("cum_l").cast("double") - F.col("l") / 2.0
    den = ba * (nn - ba) - nn * F.col("l") / 4.0
    inner = (F.col("l") * (nn * ma - F.col("ni") * ba)
             * (nn * ma - F.col("ni") * ba) / den / F.col("ni"))
    agg = (j2.where(den > 0)
             .agg(F.first("N").alias("n"), F.first("k").alias("k"),
                  F.sum(inner).alias("s")))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("int").alias("k_groups"),
        F.lit(G).alias("grid_size"),
        F.round((F.col("n") - 1) / F.col("n").cast("double")
                * F.col("s"), 4).alias("a2_akn_approx"),
        (F.col("k") - 1).cast("double").alias("mean_h0"))

AD_KSAMPLE_APPROX_SQL = f"""
WITH d AS (
  SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS v
  FROM orders
), mm AS (SELECT min(v) AS mn, max(v) AS mx FROM d),
cells AS (
  SELECT g,
         CASE WHEN mx > mn
              THEN CAST(least({_AD_GRID - 1}, greatest(0,
                        floor((v - mn) / (mx - mn) * {_AD_GRID}))) AS INT)
              ELSE 0 END AS b,
         count(*) AS f
  FROM d CROSS JOIN mm GROUP BY 1, 2
), sizes AS (SELECT g, sum(f) AS ni FROM cells GROUP BY 1),
vals AS (
  SELECT b, sum(f) AS l,
         sum(sum(f)) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum_l
  FROM cells GROUP BY b
), grid AS (
  SELECT s.g, va.b, va.l, va.cum_l, s.ni, coalesce(c.f, 0) AS f
  FROM vals va CROSS JOIN sizes s
  LEFT JOIN cells c ON c.g = s.g AND c.b = va.b
), mcum AS (
  SELECT g, b, l, cum_l, ni, f,
         sum(f) OVER (PARTITION BY g ORDER BY b
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_f
  FROM grid
), tot AS (SELECT CAST(sum(ni) AS DOUBLE) AS nn, count(*) AS k
           FROM sizes),
terms AS (
  SELECT nn, k,
         l * (nn * (cum_f - f / 2.0) - ni * (cum_l - l / 2.0))
           * (nn * (cum_f - f / 2.0) - ni * (cum_l - l / 2.0))
           / ((cum_l - l / 2.0) * (nn - (cum_l - l / 2.0)) - nn * l / 4.0)
           / ni AS inner_term,
         (cum_l - l / 2.0) * (nn - (cum_l - l / 2.0)) - nn * l / 4.0
           AS den
  FROM mcum CROSS JOIN tot
)
SELECT CAST(any_value(nn) AS BIGINT) AS n,
       CAST(any_value(k) AS INT) AS k_groups,
       {_AD_GRID} AS grid_size,
       round((any_value(nn) - 1) / any_value(nn)
             * sum(inner_term), 4) AS a2_akn_approx,
       CAST(any_value(k) - 1 AS DOUBLE) AS mean_h0
FROM terms WHERE den > 0
"""


# --------------------------------------------------------------------------
# A143. White test for heteroskedasticity (White 1980) — the
# general-form companion of A18b's Breusch-Pagan (which only tests
# the linear term): regress squared OLS residuals on x and x², LM =
# n·R². Both the base fit and the auxiliary 2-predictor R² are closed
# determinant forms of fused product-sum aggregates (two scans total,
# no driver solve) — the A21/C53 discipline.
# --------------------------------------------------------------------------

def white_test_hetero(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("double")
    y = F.col("l_extendedprice").cast("double")
    d = li.select(x.alias("x"), y.alias("y"))
    # nullif on every closed-form denominator: a constant x zeroes
    # var(x)/the determinant, constant residuals zero suu — the LM
    # statistic is undefined => NULL, never an ANSI job abort
    fit = d.agg((F.covar_pop("x", "y")
                 / F.nullif(F.var_pop("x"), F.lit(0.0))).alias("slope"),
                F.avg("y").alias("my"), F.avg("x").alias("mx"))
    e = (F.col("y") - (F.col("my") + F.col("slope")
                       * (F.col("x") - F.col("mx"))))
    u = (e * e).alias("u")
    z1, z2 = F.col("x"), F.col("x") * F.col("x")
    g = (d.crossJoin(F.broadcast(fit))
          .select(u, z1.alias("z1"), z2.alias("z2"))
          .agg(F.count(F.lit(1)).alias("n"),
               F.avg("u").alias("mu"), F.avg("z1").alias("m1"),
               F.avg("z2").alias("m2"),
               F.avg(F.col("u") * F.col("u")).alias("ruu"),
               F.avg(F.col("z1") * F.col("z1")).alias("r11"),
               F.avg(F.col("z2") * F.col("z2")).alias("r22"),
               F.avg(F.col("z1") * F.col("z2")).alias("r12"),
               F.avg(F.col("u") * F.col("z1")).alias("r1u"),
               F.avg(F.col("u") * F.col("z2")).alias("r2u")))
    suu = F.col("ruu") - F.col("mu") * F.col("mu")
    s11 = F.col("r11") - F.col("m1") * F.col("m1")
    s22 = F.col("r22") - F.col("m2") * F.col("m2")
    s12 = F.col("r12") - F.col("m1") * F.col("m2")
    s1u = F.col("r1u") - F.col("m1") * F.col("mu")
    s2u = F.col("r2u") - F.col("m2") * F.col("mu")
    det = F.nullif(s11 * s22 - s12 * s12, F.lit(0.0))
    b1 = (s1u * s22 - s2u * s12) / det
    b2 = (s2u * s11 - s1u * s12) / det
    r2 = (b1 * s1u + b2 * s2u) / F.nullif(suu, F.lit(0.0))
    return g.select(F.col("n").cast("long").alias("n"),
                    F.round(r2, 6).alias("r2_aux"),
                    F.round(F.col("n") * r2, 4).alias("white_lm"),
                    F.lit(2).alias("df"))

WHITE_TEST_SQL = """
WITH d AS (
  SELECT CAST(l_quantity AS DOUBLE) AS x,
         CAST(l_extendedprice AS DOUBLE) AS y
  FROM lineitem
), fit AS (
  SELECT covar_pop(x, y) / nullif(var_pop(x), 0) AS slope,
         avg(y) AS my, avg(x) AS mx
  FROM d
), aux AS (
  SELECT (y - (my + slope * (x - mx))) * (y - (my + slope * (x - mx)))
           AS u,
         x AS z1, x * x AS z2
  FROM d CROSS JOIN fit
), g AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         avg(u) AS mu, avg(z1) AS m1, avg(z2) AS m2,
         avg(u * u) AS ruu, avg(z1 * z1) AS r11, avg(z2 * z2) AS r22,
         avg(z1 * z2) AS r12, avg(u * z1) AS r1u, avg(u * z2) AS r2u
  FROM aux
), s AS (
  SELECT n, ruu - mu * mu AS suu, r11 - m1 * m1 AS s11,
         r22 - m2 * m2 AS s22, r12 - m1 * m2 AS s12,
         r1u - m1 * mu AS s1u, r2u - m2 * mu AS s2u
  FROM g
), fit2 AS (
  SELECT n, suu, s1u, s2u,
         (s1u * s22 - s2u * s12)
           / nullif(s11 * s22 - s12 * s12, 0) AS b1,
         (s2u * s11 - s1u * s12)
           / nullif(s11 * s22 - s12 * s12, 0) AS b2
  FROM s
)
SELECT CAST(n AS BIGINT) AS n,
       round((b1 * s1u + b2 * s2u) / nullif(suu, 0), 6) AS r2_aux,
       round(n * (b1 * s1u + b2 * s2u) / nullif(suu, 0), 4)
         AS white_lm,
       2 AS df
FROM fit2
"""


# --------------------------------------------------------------------------
# A144. Fisher two-class linear discriminant (Fisher 1936): the
# returned-vs-not direction in (quantity, discount, tax) space — the
# classification twin of A46's logistic IRLS, but CLOSED-FORM. Spark
# side in ml.lda_two_class_df (one fused per-class Gram scan, k×k
# driver solve); the oracle unrolls the same Cramer solve through
# oracles.sql_det, normalizes, and exploits w·d > 0 for a
# convention-free sign.
# --------------------------------------------------------------------------

_LDA_XS = ["l_quantity", "l_discount", "l_tax"]


def lda_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(*[F.col(c).cast("double").alias(c) for c in _LDA_XS],
                  "l_returnflag")
    return ml.lda_two_class_df(d, _LDA_XS, "l_returnflag", "R", "N")


def _lda_sql() -> str:
    xs = _LDA_XS
    k = len(xs)
    sums = ["count(*) FILTER (l_returnflag = 'R') AS na",
            "count(*) FILTER (l_returnflag = 'N') AS nb"]
    for i, a in enumerate(xs):
        sums.append(f"sum({a}) FILTER (l_returnflag = 'R') AS sa_{i}")
        sums.append(f"sum({a}) FILTER (l_returnflag = 'N') AS sb_{i}")
        for j, b in enumerate(xs[i:], start=i):
            sums.append(f"sum({a} * {b}) FILTER (l_returnflag = 'R')"
                        f" AS pa_{i}_{j}")
            sums.append(f"sum({a} * {b}) FILTER (l_returnflag = 'N')"
                        f" AS pb_{i}_{j}")
    sw = []
    for i in range(k):
        sw.append(f"(sa_{i} / na - sb_{i} / nb) AS d_{i}")
        for j in range(i, k):
            sw.append(
                f"((pa_{i}_{j} - sa_{i} * sa_{j} / na)"
                f" + (pb_{i}_{j} - sb_{i} * sb_{j} / nb))"
                f" / (na + nb - 2) AS sw_{i}_{j}")
    S = [[f"sw_{min(i, j)}_{max(i, j)}" for j in range(k)]
         for i in range(k)]
    det = oracles.sql_det(S)
    wexprs = []
    for c in range(k):
        Mc = [[f"d_{i}" if cc == c else S[i][cc] for cc in range(k)]
              for i in range(k)]
        wexprs.append(f"({oracles.sql_det(Mc)}) / ({det}) AS wr_{c}")
    wnorm = " + ".join(f"wr_{c} * wr_{c}" for c in range(k))
    wd = " + ".join(f"wr_{c} * d_{c}" for c in range(k))
    wsel = ",\n       ".join(
        f"round(wr_{c} / sqrt({wnorm}), 6) AS w_{xs[c]}"
        for c in range(k))
    return f"""
WITH m AS (
  SELECT {", ".join(sums)}
  FROM lineitem WHERE l_returnflag IN ('R', 'N')
), sw AS (
  SELECT na, nb, {", ".join(sw)} FROM m
), wv AS (
  SELECT na, nb, {", ".join(f"d_{c}" for c in range(k))},
         {", ".join(wexprs)}
  FROM sw
)
SELECT CAST(na AS DOUBLE) AS n_a, CAST(nb AS DOUBLE) AS n_b,
       {wsel},
       round(sqrt({wd}), 4) AS mahalanobis_sep
FROM wv
"""

LDA_SQL = _lda_sql()


# --------------------------------------------------------------------------
# A145. Quantile regression at τ=0.9 (Koenker-Bassett 1978): the
# conditional 90th-percentile price line — A101's LAD is the τ=0.5
# case of the same IRLS engine (ml.quantile_fit_df). Each iteration
# is ONE fused 5-sum scan; oracle = the identically-unrolled
# asymmetric-check CTE chain (oracles.quantile_reg_sql).
# --------------------------------------------------------------------------

def quantile_reg_90(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(F.col("l_quantity").cast("double").alias("x"),
                  F.col("l_extendedprice").cast("double").alias("y"))
    # 8 IRLS scans: the asymmetric weights move the line toward the
    # conditional 0.9 quantile sublinearly on this wide-spread y;
    # 8 iterations put ~30% of mass above the line (0.5 at OLS start)
    return ml.quantile_fit_df(d, "x", "y", tau=0.9, n_iter=8)

QUANTILE_REG_SQL = oracles.quantile_reg_sql(
    "CAST(l_quantity AS DOUBLE)", "CAST(l_extendedprice AS DOUBLE)",
    tau=0.9, n_iter=8).replace("coef_CAST(l_quantity AS DOUBLE)",
                               "coef_x")
# align term labels: the Spark side names columns x/y
QUANTILE_REG_SQL = QUANTILE_REG_SQL


# --------------------------------------------------------------------------
# A146. Pivot with MULTIPLE aggregates per cell (the reshape2/dcast
# multi-value shape, R:399+ gathers/spreads): order count AND mean
# value per (priority × status) cell in one pivot pass — exercises
# Spark's multi-agg pivot API surface, which plans a single shuffle
# with all measures fused (verified: one Exchange in the plan).
# --------------------------------------------------------------------------

def pivot_multi_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    statuses = ["F", "O", "P"]
    piv = (o.groupBy("o_orderpriority")
            .pivot("o_orderstatus", statuses)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg(F.col("o_totalprice").cast("double")), 2)
                  .alias("avg_price")))
    cols = [F.col("o_orderpriority")]
    for s in statuses:
        cols.append(F.coalesce(F.col(f"{s}_n"), F.lit(0))
                     .alias(f"n_{s.lower()}"))
        cols.append(F.col(f"{s}_avg_price").alias(f"avg_{s.lower()}"))
    return piv.select(*cols).orderBy("o_orderpriority")

PIVOT_MULTI_SQL = """
SELECT o_orderpriority,
       coalesce(count(*) FILTER (o_orderstatus = 'F'), 0) AS n_f,
       round(avg(o_totalprice) FILTER (o_orderstatus = 'F'), 2) AS avg_f,
       coalesce(count(*) FILTER (o_orderstatus = 'O'), 0) AS n_o,
       round(avg(o_totalprice) FILTER (o_orderstatus = 'O'), 2) AS avg_o,
       coalesce(count(*) FILTER (o_orderstatus = 'P'), 0) AS n_p,
       round(avg(o_totalprice) FILTER (o_orderstatus = 'P'), 2) AS avg_p
FROM orders GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# A147. Hosmer-Lemeshow calibration χ² (Hosmer-Lemeshow 1980) on the
# A110 probability score — the formal decile test behind A110's
# calibration curve: group by DECILE OF PREDICTED RISK (equal-count,
# the canonical construction — A110 uses fixed value bins) and sum
# (O−E)²/(E(1−E/n)). Deciles ride the range-partitioned NTILE
# construction (quality_lift / acctbal_deciles machinery — no global
# sort); the oracle's ntile(10) over the same (score, key) order is
# bucket-for-bucket identical.
# --------------------------------------------------------------------------

def hosmer_lemeshow_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    z = F.lit(-2.0) + F.col("o_totalprice") * F.lit(1e-5)
    scored = o.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("p"),
        (F.col("o_orderstatus") == "F").cast("int").alias("y"))
    s = (scored.repartitionByRange(F.col("p"), F.col("k"))
               .withColumn("__pid", F.spark_partition_id()))
    wl = Window.partitionBy("__pid").orderBy("p", "k")
    # pin ONE evaluation (__pid offset-join class fix, round 5 — see
    # stats.tie_avg_ranks; THIS query surfaced the bug at sf0.1: the
    # offset agg and the rank join read 64- vs 1-partition layouts and
    # the inner join dropped ~half the rows)
    local = s.withColumn("__rn", F.row_number().over(wl)) \
             .localCheckpoint(eager=True)
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
    dec = (local.join(F.broadcast(off.select("__pid", "__off")), "__pid")
                .crossJoin(F.broadcast(tot))
                .withColumn("decile", decile.cast("int")))
    per = (dec.groupBy("decile")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum("y").alias("obs"),
                   F.sum("p").alias("exp")))
    term = ((F.col("obs") - F.col("exp")) * (F.col("obs") - F.col("exp"))
            / (F.col("exp") * (1.0 - F.col("exp") / F.col("n"))))
    hl = per.agg(F.round(F.sum(term), 4).alias("chi2"))
    return (per.crossJoin(F.broadcast(hl))
               .select("decile", "n",
                       F.col("obs").cast("long").alias("observed_f"),
                       F.round("exp", 4).alias("expected_f"),
                       F.col("chi2").alias("hl_chi2"))
               .orderBy("decile"))

HOSMER_LEMESHOW_SQL = """
WITH scored AS (
  SELECT o_orderkey AS k,
         round(1.0 / (1.0 + exp(-(-2.0 + o_totalprice * 1e-5))), 6) AS p,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
), dec AS (
  SELECT p, y, ntile(10) OVER (ORDER BY p, k) AS decile FROM scored
), per AS (
  SELECT decile, count(*) AS n, sum(y) AS obs, sum(p) AS exp
  FROM dec GROUP BY 1
), hl AS (
  SELECT round(sum((obs - exp) * (obs - exp)
               / (exp * (1.0 - exp / n))), 4) AS chi2
  FROM per
)
SELECT decile, n, CAST(obs AS BIGINT) AS observed_f,
       round(exp, 4) AS expected_f, chi2 AS hl_chi2
FROM per CROSS JOIN hl ORDER BY decile
"""


# --------------------------------------------------------------------------
# A148. Hellinger / Bhattacharyya distance between the finished- and
# open-order value distributions — the bounded-metric member of the
# repo's distribution-distance family (KS A18g, AD A142, PSI B26,
# KL B45): H² = 1 − Σ√(p_b·q_b) over a fixed-width histogram. One
# groupBy builds both histograms; everything after is ≤#bins algebra.
# --------------------------------------------------------------------------

def hellinger_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (load_table(spark, sf_dir, "orders")
         .where(F.col("o_orderstatus").isin("F", "O")))
    b = F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(9))
    cells = (o.groupBy(b.alias("bin"))
              .agg(F.sum((F.col("o_orderstatus") == "F").cast("long"))
                    .alias("nf"),
                   F.sum((F.col("o_orderstatus") == "O").cast("long"))
                    .alias("no")))
    tot = cells.agg(F.sum("nf").alias("tf"), F.sum("no").alias("to"))
    j = cells.crossJoin(F.broadcast(tot))
    # nullif: a single-class corpus zeroes one arm's total (and the
    # Bhattacharyya coefficient) — the distances are undefined =>
    # NULL, never an ANSI DIVIDE_BY_ZERO / log(0) job abort
    bc = F.sum(F.sqrt(
        (F.col("nf") / F.nullif(F.col("tf").cast("double"), F.lit(0.0)))
        * (F.col("no") / F.nullif(F.col("to").cast("double"),
                                  F.lit(0.0)))))
    return (j.agg(F.first("tf").alias("n_f"), F.first("to").alias("n_o"),
                  bc.alias("bc"))
             .select(F.col("n_f").cast("long").alias("n_finished"),
                     F.col("n_o").cast("long").alias("n_open"),
                     F.round(F.sqrt(1.0 - F.col("bc")), 6)
                      .alias("hellinger"),
                     F.round(-F.log(F.nullif(F.col("bc"), F.lit(0.0))),
                             6).alias("bhattacharyya")))

HELLINGER_SQL = """
WITH cells AS (
  SELECT CAST(least(floor(o_totalprice / 50000), 9) AS INT) AS bin,
         sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS nf,
         sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS no
  FROM orders WHERE o_orderstatus IN ('F', 'O')
  GROUP BY 1
), tot AS (SELECT sum(nf) AS tf, sum(no) AS to_ FROM cells),
agg AS (
  SELECT any_value(tf) AS tf, any_value(to_) AS to_,
         sum(sqrt((nf / nullif(CAST(tf AS DOUBLE), 0))
                  * (no / nullif(CAST(to_ AS DOUBLE), 0)))) AS bc
  FROM cells CROSS JOIN tot
)
SELECT CAST(tf AS BIGINT) AS n_finished,
       CAST(to_ AS BIGINT) AS n_open,
       round(sqrt(1.0 - bc), 6) AS hellinger,
       round(-ln(nullif(bc, 0)), 6) AS bhattacharyya
FROM agg
"""


# --------------------------------------------------------------------------
# A149. Deming regression (errors-in-variables, λ=1; Deming 1943) —
# the method-comparison fit the reference's lm can't express: both
# variables carry noise (chars vs words as length proxies). Closed form
# from ONE fused moment scan: β = (syy − λsxx + √((syy−λsxx)² +
# 4λsxy²)) / (2sxy).
# --------------------------------------------------------------------------

def deming_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # chars vs words: both are noisy measurements of document length
    # (the genuine errors-in-variables setting); r ≈ 0.998 on this
    # corpus so the slope is well-conditioned, and x in char-hundreds
    # puts slope/intercept at O(1-100) — far above engine sum noise
    pairs = docs.select((F.col("n_chars") / 100.0).alias("x"),
                        F.size(F.split(F.trim("text"), r"\s+"))
                         .cast("double").alias("y"))
    g = pairs.agg(F.count(F.lit(1)).alias("n"),
                  F.avg("x").alias("mx"), F.avg("y").alias("my"),
                  F.covar_pop("x", "y").alias("sxy"),
                  F.var_pop("x").alias("sxx"),
                  F.var_pop("y").alias("syy"))
    d = F.col("syy") - F.col("sxx")
    # nullif: constant measurement columns zero sxy (and the norm
    # product) — the fit is undefined => NULL, never an ANSI abort
    beta = (d + F.sqrt(d * d + 4 * F.col("sxy") * F.col("sxy"))) \
        / F.nullif(2 * F.col("sxy"), F.lit(0.0))
    return g.select(F.col("n").cast("long").alias("n_rows"),
                    F.round(beta, 6).alias("deming_slope"),
                    F.round(F.col("my") - beta * F.col("mx"), 4)
                     .alias("deming_intercept"),
                    F.round(F.col("sxy")
                            / F.nullif(F.sqrt(F.col("sxx")
                                              * F.col("syy")),
                                       F.lit(0.0)), 6)
                     .alias("pearson_r"))

DEMING_SQL = r"""
WITH pairs AS (
  SELECT n_chars / 100.0 AS x,
         CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS y
  FROM documents
), g AS (
  SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my,
         covar_pop(x, y) AS sxy, var_pop(x) AS sxx, var_pop(y) AS syy
  FROM pairs
)
SELECT CAST(n AS BIGINT) AS n_rows,
       round(((syy - sxx) + sqrt((syy - sxx) * (syy - sxx)
                                 + 4 * sxy * sxy))
             / nullif(2 * sxy, 0), 6)
         AS deming_slope,
       round(my - ((syy - sxx) + sqrt((syy - sxx) * (syy - sxx)
                                      + 4 * sxy * sxy))
                  / nullif(2 * sxy, 0)
                  * mx, 4) AS deming_intercept,
       round(sxy / nullif(sqrt(sxx * syy), 0), 6) AS pearson_r
FROM g
"""


# --------------------------------------------------------------------------
# A150. Epidemiological 2×2 effect measures (risk ratio, odds ratio,
# risk difference, each with 95% log-CI; Katz 1978 / Woolf 1955) —
# the effect-size completion of A18h's z-test and A115's Fisher
# exact: exposure = negative account balance, outcome = BUILDING
# segment. One fused scan builds the table; everything else is
# scalar closed forms (1.959964 is the standard normal quantile, a
# fixed decimal constant in both engines).
# --------------------------------------------------------------------------

def epi_2x2_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    exp_ = F.col("c_acctbal") < 0
    out = F.col("c_mktsegment") == "BUILDING"
    g = c.agg(F.sum((exp_ & out).cast("long")).alias("a"),
              F.sum((exp_ & ~out).cast("long")).alias("b"),
              F.sum((~exp_ & out).cast("long")).alias("c"),
              F.sum((~exp_ & ~out).cast("long")).alias("d"))
    a, b, cc, d = (F.col("a").cast("double"), F.col("b").cast("double"),
                   F.col("c").cast("double"), F.col("d").cast("double"))
    z = 1.959964
    # nullif on every cell-derived denominator (and inside the logs):
    # an EMPTY 2x2 cell makes each measure undefined — degrade to NULL
    # instead of an ANSI DIVIDE_BY_ZERO / log(0) job abort
    nz = lambda e: F.nullif(e, F.lit(0.0))  # noqa: E731 — local guard
    rr = (a / nz(a + b)) / nz(cc / nz(cc + d))
    se_rr = F.sqrt(1 / nz(a) - 1 / nz(a + b) + 1 / nz(cc)
                   - 1 / nz(cc + d))
    orr = (a * d) / nz(b * cc)
    se_or = F.sqrt(1 / nz(a) + 1 / nz(b) + 1 / nz(cc) + 1 / nz(d))
    rd = a / nz(a + b) - cc / nz(cc + d)
    se_rd = F.sqrt(a * b / nz(F.pow(a + b, 3))
                   + cc * d / nz(F.pow(cc + d, 3)))
    return g.select(
        F.col("a").alias("n_exp_out"), F.col("b").alias("n_exp_noout"),
        F.col("c").alias("n_unexp_out"),
        F.col("d").alias("n_unexp_noout"),
        F.round(rr, 6).alias("risk_ratio"),
        F.round(F.exp(F.log(nz(rr)) - z * se_rr), 6).alias("rr_ci_lo"),
        F.round(F.exp(F.log(nz(rr)) + z * se_rr), 6).alias("rr_ci_hi"),
        F.round(orr, 6).alias("odds_ratio"),
        F.round(F.exp(F.log(nz(orr)) - z * se_or), 6).alias("or_ci_lo"),
        F.round(F.exp(F.log(nz(orr)) + z * se_or), 6).alias("or_ci_hi"),
        F.round(rd, 6).alias("risk_diff"),
        F.round(rd - z * se_rd, 6).alias("rd_ci_lo"),
        F.round(rd + z * se_rd, 6).alias("rd_ci_hi"))

EPI_2X2_SQL = """
WITH g AS (
  SELECT sum(CASE WHEN c_acctbal < 0 AND c_mktsegment = 'BUILDING'
             THEN 1 ELSE 0 END) AS a,
         sum(CASE WHEN c_acctbal < 0 AND c_mktsegment <> 'BUILDING'
             THEN 1 ELSE 0 END) AS b,
         sum(CASE WHEN c_acctbal >= 0 AND c_mktsegment = 'BUILDING'
             THEN 1 ELSE 0 END) AS c,
         sum(CASE WHEN c_acctbal >= 0 AND c_mktsegment <> 'BUILDING'
             THEN 1 ELSE 0 END) AS d
  FROM customer
), m AS (
  SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
         CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
         (a / nullif(CAST(a + b AS DOUBLE), 0))
           / nullif(c / nullif(CAST(c + d AS DOUBLE), 0), 0) AS rr,
         sqrt(1.0 / nullif(a, 0) - 1.0 / nullif(a + b, 0)
              + 1.0 / nullif(c, 0) - 1.0 / nullif(c + d, 0)) AS serr,
         (a * CAST(d AS DOUBLE)) / nullif(b * CAST(c AS DOUBLE), 0)
           AS orr,
         sqrt(1.0 / nullif(a, 0) + 1.0 / nullif(b, 0)
              + 1.0 / nullif(c, 0) + 1.0 / nullif(d, 0)) AS seor,
         a / nullif(CAST(a + b AS DOUBLE), 0)
           - c / nullif(CAST(c + d AS DOUBLE), 0) AS rd,
         sqrt(a * CAST(b AS DOUBLE)
                / nullif(pow(CAST(a + b AS DOUBLE), 3), 0)
              + c * CAST(d AS DOUBLE)
                / nullif(pow(CAST(c + d AS DOUBLE), 3), 0))
           AS serd
  FROM g
)
SELECT a AS n_exp_out, b AS n_exp_noout, c AS n_unexp_out,
       d AS n_unexp_noout,
       round(rr, 6) AS risk_ratio,
       round(exp(ln(nullif(rr, 0)) - 1.959964 * serr), 6) AS rr_ci_lo,
       round(exp(ln(nullif(rr, 0)) + 1.959964 * serr), 6) AS rr_ci_hi,
       round(orr, 6) AS odds_ratio,
       round(exp(ln(nullif(orr, 0)) - 1.959964 * seor), 6) AS or_ci_lo,
       round(exp(ln(nullif(orr, 0)) + 1.959964 * seor), 6) AS or_ci_hi,
       round(rd, 6) AS risk_diff,
       round(rd - 1.959964 * serd, 6) AS rd_ci_lo,
       round(rd + 1.959964 * serd, 6) AS rd_ci_hi
FROM m
"""


# --------------------------------------------------------------------------
# A151. Quadratic-weighted Cohen's kappa (Cohen 1968) between two
# ORDINAL raters — the ordinal upgrade of A119's plain kappa: rater A
# = the order-priority level (its numeral prefix), rater B = a fixed
# price band. κw = 1 − Σ(i−j)²O_ij / Σ(i−j)²E_ij over the ≤5×5
# contingency table; one fused scan builds it, margins ride window
# sums over the bounded cell table.
# --------------------------------------------------------------------------

def weighted_kappa_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    ra = (F.substring("o_orderpriority", 1, 1).cast("int") - 1)
    rb = F.least(F.floor(F.col("o_totalprice") / 100000), F.lit(4)) \
        .cast("int")
    cells = (o.groupBy(ra.alias("i"), rb.alias("j"))
              .agg(F.count(F.lit(1)).alias("n")))
    wi = Window.partitionBy("i")
    wj = Window.partitionBy("j")
    wall = Window.partitionBy()
    t = (cells.withColumn("ri", F.sum("n").over(wi))
              .withColumn("cj", F.sum("n").over(wj))
              .withColumn("nn", F.sum("n").over(wall)))
    d2 = (F.col("i") - F.col("j")) * (F.col("i") - F.col("j"))
    agg = t.agg(F.first("nn").alias("n_total"),
                F.sum(d2 * F.col("n")).alias("wo"),
                F.sum(d2 * F.col("ri").cast("double") * F.col("cj")
                      / F.col("nn")).alias("we"))
    return agg.select(
        F.col("n_total").cast("long").alias("n_orders"),
        F.round(F.col("wo").cast("double"), 2).alias("weighted_observed"),
        F.round("we", 2).alias("weighted_expected"),
        F.round(1.0 - F.col("wo") / F.col("we"), 6)
         .alias("weighted_kappa"))

WEIGHTED_KAPPA_SQL = """
WITH cells AS (
  SELECT CAST(substring(o_orderpriority, 1, 1) AS INT) - 1 AS i,
         CAST(least(floor(o_totalprice / 100000), 4) AS INT) AS j,
         count(*) AS n
  FROM orders GROUP BY 1, 2
), t AS (
  SELECT i, j, n,
         sum(n) OVER (PARTITION BY i) AS ri,
         sum(n) OVER (PARTITION BY j) AS cj,
         sum(n) OVER () AS nn
  FROM cells
), agg AS (
  SELECT any_value(nn) AS n_total,
         sum((i - j) * (i - j) * n) AS wo,
         sum((i - j) * (i - j) * ri * CAST(cj AS DOUBLE) / nn) AS we
  FROM t
)
SELECT CAST(n_total AS BIGINT) AS n_orders,
       round(CAST(wo AS DOUBLE), 2) AS weighted_observed,
       round(we, 2) AS weighted_expected,
       round(1.0 - wo / we, 6) AS weighted_kappa
FROM agg
"""


# --------------------------------------------------------------------------
# A152. Gehan-Wilcoxon weighted log-rank (Gehan 1965; weight = the
# at-risk count, so EARLY churn differences dominate — the companion
# reading of A141's unweighted log-rank on the same md5 A/B arms).
# Identical two-strata life-table plan; only the weight in the O/E/V
# sums changes.
# --------------------------------------------------------------------------

def gehan_wilcoxon_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    mx = ev.agg(F.max(F.to_date("ts")).alias("m"))
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    wlead = Window.partitionBy("user_id").orderBy("d")
    g = ud.withColumn("nxt", F.lead("d").over(wlead))
    arm = (F.substring(F.md5(F.concat(F.lit("arm:"),
                                      F.col("user_id").cast("string"))),
                       1, 1) < "8").cast("int")
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
                          .alias("churned"),
                         arm.alias("b")))
    counts = (per_user.groupBy("dur")
              .agg(F.sum(F.col("churned") * F.col("b")).alias("d1"),
                   F.sum((1 - F.col("churned")) * F.col("b")).alias("c1"),
                   F.sum(F.col("churned") * (1 - F.col("b"))).alias("d0"),
                   F.sum((1 - F.col("churned")) * (1 - F.col("b")))
                    .alias("c0"))
              .localCheckpoint(eager=True))
    tot = counts.agg((F.sum("d1") + F.sum("c1")).alias("n1_total"),
                     (F.sum("d0") + F.sum("c0")).alias("n0_total"))
    cum = (stats.range_cumsum(counts, "dur", ["d1", "c1", "d0", "c0"])
           .crossJoin(F.broadcast(tot))
           .withColumn("n1at", F.col("n1_total")
                       - (F.col("cum_d1") + F.col("cum_c1"))
                       + F.col("d1") + F.col("c1"))
           .withColumn("n0at", F.col("n0_total")
                       - (F.col("cum_d0") + F.col("cum_c0"))
                       + F.col("d0") + F.col("c0")))
    d = F.col("d1") + F.col("d0")
    nat = (F.col("n1at") + F.col("n0at")).cast("double")
    wgt = nat  # Gehan weight = at-risk count
    ok = (d > 0) & (F.col("n1at") + F.col("n0at") > 1)
    agg = (cum.where(ok)
              .agg(F.first("n1_total").alias("n_arm_a"),
                   F.first("n0_total").alias("n_arm_b"),
                   F.sum(wgt * F.col("d1")).alias("wo1"),
                   F.sum(wgt * d * F.col("n1at") / nat).alias("we1"),
                   F.sum(F.when(ok, wgt * wgt * d
                                * (F.col("n1at") / nat)
                                * (F.col("n0at") / nat)
                                * (nat - d) / (nat - 1))
                          .otherwise(F.lit(0.0))).alias("v")))
    z = F.when(F.col("v") > 0,
               (F.col("wo1") - F.col("we1")) / F.sqrt(F.col("v")))
    return agg.select(
        F.col("n_arm_a").cast("long").alias("n_arm_a"),
        F.col("n_arm_b").cast("long").alias("n_arm_b"),
        F.round("wo1", 2).alias("weighted_observed_a"),
        F.round("we1", 4).alias("weighted_expected_a"),
        F.round(z, 4).alias("z_stat"),
        F.round(z * z, 4).alias("chi2_stat"))

GEHAN_SQL = """
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
                        THEN ld END) IS NOT NULL)::INT AS churned,
         (substring(md5('arm:' || CAST(user_id AS VARCHAR)), 1, 1)
          < '8')::INT AS b
  FROM f CROSS JOIN mx
), counts AS (
  SELECT dur,
         sum(churned * b) AS d1, sum((1 - churned) * b) AS c1,
         sum(churned * (1 - b)) AS d0,
         sum((1 - churned) * (1 - b)) AS c0
  FROM per_user GROUP BY 1
), tot AS (SELECT sum(d1) + sum(c1) AS n1_total,
                  sum(d0) + sum(c0) AS n0_total FROM counts),
cum AS (
  SELECT dur, d1, d0, n1_total, n0_total,
         n1_total - (sum(d1) OVER w + sum(c1) OVER w) + d1 + c1 AS n1at,
         n0_total - (sum(d0) OVER w + sum(c0) OVER w) + d0 + c0 AS n0at
  FROM counts CROSS JOIN tot
  WINDOW w AS (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), agg AS (
  SELECT any_value(n1_total) AS n_arm_a,
         any_value(n0_total) AS n_arm_b,
         sum((n1at + n0at) * d1) AS wo1,
         sum((n1at + n0at) * (d1 + d0) * n1at
             / CAST(n1at + n0at AS DOUBLE)) AS we1,
         sum(CAST(n1at + n0at AS DOUBLE) * (n1at + n0at)
             * (d1 + d0) * (n1at / CAST(n1at + n0at AS DOUBLE))
             * (n0at / CAST(n1at + n0at AS DOUBLE))
             * (n1at + n0at - d1 - d0)
             / CAST(n1at + n0at - 1 AS DOUBLE)) AS v
  FROM cum WHERE d1 + d0 > 0 AND n1at + n0at > 1
)
SELECT CAST(n_arm_a AS BIGINT) AS n_arm_a,
       CAST(n_arm_b AS BIGINT) AS n_arm_b,
       round(CAST(wo1 AS DOUBLE), 2) AS weighted_observed_a,
       round(we1, 4) AS weighted_expected_a,
       round(CASE WHEN v > 0 THEN (wo1 - we1) / sqrt(v) END, 4)
         AS z_stat,
       round(CASE WHEN v > 0 THEN (wo1 - we1) * (wo1 - we1) / v END, 4)
         AS chi2_stat
FROM agg
"""


# --------------------------------------------------------------------------
# A153. Brier-score decomposition (Murphy 1973): reliability −
# resolution + uncertainty, on A110's score/bin construction — the
# three-way reading of WHY the Brier score is what it is. Per-bin
# sums ride the same single scan; the identity Brier = REL − RES +
# UNC holds exactly for bin-averaged forecasts and within-rounding
# here (per-bin mean p̄ stands in for each p).
# --------------------------------------------------------------------------

def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    z = F.lit(-2.0) + F.col("o_totalprice") * F.lit(1e-5)
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    y = (F.col("o_orderstatus") == "F").cast("int")
    binned = o.select(
        F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(9))
         .cast("int").alias("bin"),
        score.alias("p"), y.alias("y"))
    bins = (binned.groupBy("bin")
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.avg("p").alias("pb"),
                       F.avg(F.col("y").cast("double")).alias("ob")))
    tot = bins.agg(F.sum("n").alias("nn"),
                   (F.sum(F.col("ob") * F.col("n")) / F.sum("n"))
                   .alias("obar"))
    j = bins.crossJoin(F.broadcast(tot))
    rel = F.sum(F.col("n") * (F.col("pb") - F.col("ob"))
                * (F.col("pb") - F.col("ob"))) / F.first("nn")
    res = F.sum(F.col("n") * (F.col("ob") - F.col("obar"))
                * (F.col("ob") - F.col("obar"))) / F.first("nn")
    unc = F.first(F.col("obar") * (1.0 - F.col("obar")))
    agg = j.agg(F.first("nn").alias("n"), rel.alias("rel"),
                res.alias("res"), unc.alias("unc"))
    return agg.select(
        F.col("n").cast("long").alias("n_orders"),
        F.round("rel", 6).alias("reliability"),
        F.round("res", 6).alias("resolution"),
        F.round("unc", 6).alias("uncertainty"),
        F.round(F.col("rel") - F.col("res") + F.col("unc"), 6)
         .alias("brier_from_decomposition"))

BRIER_DECOMP_SQL = """
WITH s AS (
  SELECT CAST(least(floor(o_totalprice / 50000), 9) AS INT) AS bin,
         round(1.0 / (1.0 + exp(-(-2.0 + o_totalprice * 1e-5))), 6) AS p,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
), bins AS (
  SELECT bin, count(*) AS n, avg(p) AS pb,
         avg(CAST(y AS DOUBLE)) AS ob
  FROM s GROUP BY 1
), tot AS (
  SELECT sum(n) AS nn, sum(ob * n) / sum(n) AS obar FROM bins
), agg AS (
  SELECT any_value(nn) AS n,
         sum(n * (pb - ob) * (pb - ob)) / any_value(nn) AS rel,
         sum(n * (ob - obar) * (ob - obar)) / any_value(nn) AS res,
         any_value(obar * (1.0 - obar)) AS unc
  FROM bins CROSS JOIN tot
)
SELECT CAST(n AS BIGINT) AS n_orders,
       round(rel, 6) AS reliability,
       round(res, 6) AS resolution,
       round(unc, 6) AS uncertainty,
       round(rel - res + unc, 6) AS brier_from_decomposition
FROM agg
"""


# --------------------------------------------------------------------------
# A154. Paired sign test (the distribution-free floor under A136's
# Wilcoxon — uses only signs, so it is valid under ANY asymmetric
# alternative): realized peak unit price vs catalog retail price per
# part, normal approximation with continuity correction. One
# aggregate over the A136 pair construction.
# --------------------------------------------------------------------------

def sign_test_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (li.join(p, li.l_partkey == p.p_partkey)
               .groupBy("p_partkey", "p_retailprice")
               .agg(F.max(F.col("l_extendedprice") / F.col("l_quantity"))
                     .alias("peak"))
               .select((F.col("peak") - F.col("p_retailprice"))
                       .alias("d"))
               .where(F.col("d") != 0))
    g = pairs.agg(F.count(F.lit(1)).alias("n"),
                  F.sum((F.col("d") > 0).cast("long")).alias("npos"))
    n = F.col("n").cast("double")
    z = (F.col("npos") - n / 2
         - F.when(F.col("npos") > n / 2, 0.5)
            .when(F.col("npos") < n / 2, -0.5).otherwise(0.0)) \
        / F.sqrt(n / 4.0)
    return g.select(F.col("n").cast("long").alias("n_pairs"),
                    F.col("npos").cast("long").alias("n_positive"),
                    F.round(F.col("npos") / n, 6).alias("frac_positive"),
                    F.round(z, 4).alias("z_stat"))

SIGN_TEST_SQL = """
WITH pairs AS (
  SELECT max(l.l_extendedprice / l.l_quantity) - p.p_retailprice AS d
  FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
  GROUP BY p.p_partkey, p.p_retailprice
), nz AS (SELECT d FROM pairs WHERE d <> 0),
g AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS npos
  FROM nz
)
SELECT CAST(n AS BIGINT) AS n_pairs,
       CAST(npos AS BIGINT) AS n_positive,
       round(npos / n, 6) AS frac_positive,
       round((npos - n / 2
              - CASE WHEN npos > n / 2 THEN 0.5
                     WHEN npos < n / 2 THEN -0.5 ELSE 0.0 END)
             / sqrt(n / 4.0), 4) AS z_stat
FROM g
"""


# --------------------------------------------------------------------------
# A155. Cochran-Mantel-Haenszel stratified 2×2 test (Mantel-Haenszel
# 1959) + MH pooled odds ratio: does high order value associate with
# finished status CONSISTENTLY across priority strata (the
# confounder-adjusted view A115's single-table Fisher can't give)?
# One fused scan builds all strata cells; the CMH sums are ≤#strata
# algebra.
# --------------------------------------------------------------------------

def cmh_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    exp_ = F.col("o_totalprice") > 150000
    out = F.col("o_orderstatus") == "F"
    cells = (o.groupBy("o_orderpriority")
              .agg(F.sum((exp_ & out).cast("long")).alias("a"),
                   F.sum((exp_ & ~out).cast("long")).alias("b"),
                   F.sum((~exp_ & out).cast("long")).alias("c"),
                   F.sum((~exp_ & ~out).cast("long")).alias("d")))
    a, b, cc, d = (F.col("a").cast("double"), F.col("b").cast("double"),
                   F.col("c").cast("double"), F.col("d").cast("double"))
    nk = a + b + cc + d
    # nullif: a singleton stratum zeroes nk−1, and degenerate margins
    # (single-class corpus) zero the pooled variance / denominator
    # sums — the statistics are undefined => NULL, never an ANSI abort
    ek = (a + b) * (a + cc) / nk
    vk = ((a + b) * (cc + d) * (a + cc) * (b + d)
          / F.nullif(nk * nk * (nk - 1), F.lit(0.0)))
    agg = cells.agg(F.count(F.lit(1)).alias("k_strata"),
                    F.sum(a).alias("sa"), F.sum(ek).alias("se"),
                    F.sum(vk).alias("sv"),
                    F.sum(a * d / nk).alias("srn"),
                    F.sum(b * cc / nk).alias("srd"))
    num = F.abs(F.col("sa") - F.col("se")) - 0.5
    return agg.select(
        F.col("k_strata").cast("int").alias("k_strata"),
        F.round(F.col("sa"), 2).alias("sum_observed"),
        F.round("se", 4).alias("sum_expected"),
        F.round(num * num / F.nullif(F.col("sv"), F.lit(0.0)), 4)
         .alias("cmh_chi2"),
        F.round(F.col("srn") / F.nullif(F.col("srd"), F.lit(0.0)), 6)
         .alias("mh_odds_ratio"))

CMH_SQL = """
WITH cells AS (
  SELECT o_orderpriority,
         CAST(sum(CASE WHEN o_totalprice > 150000
                  AND o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS DOUBLE) AS a,
         CAST(sum(CASE WHEN o_totalprice > 150000
                  AND o_orderstatus <> 'F' THEN 1 ELSE 0 END)
              AS DOUBLE) AS b,
         CAST(sum(CASE WHEN o_totalprice <= 150000
                  AND o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS DOUBLE) AS c,
         CAST(sum(CASE WHEN o_totalprice <= 150000
                  AND o_orderstatus <> 'F' THEN 1 ELSE 0 END)
              AS DOUBLE) AS d
  FROM orders GROUP BY 1
), agg AS (
  SELECT count(*) AS k_strata,
         sum(a) AS sa,
         sum((a + b) * (a + c) / (a + b + c + d)) AS se,
         sum((a + b) * (c + d) * (a + c) * (b + d)
             / nullif((a + b + c + d) * (a + b + c + d)
                * (a + b + c + d - 1), 0)) AS sv,
         sum(a * d / (a + b + c + d)) AS srn,
         sum(b * c / (a + b + c + d)) AS srd
  FROM cells
)
SELECT CAST(k_strata AS INT) AS k_strata,
       round(sa, 2) AS sum_observed,
       round(se, 4) AS sum_expected,
       round((abs(sa - se) - 0.5) * (abs(sa - se) - 0.5)
             / nullif(sv, 0), 4)
         AS cmh_chi2,
       round(srn / nullif(srd, 0), 6) AS mh_odds_ratio
FROM agg
"""


# --------------------------------------------------------------------------
# A157. ANOVA effect sizes + intraclass correlation for the A18
# one-way design (acctbal ~ mktsegment): η² (Pearson 1911),
# less-biased ω² (Hays 1963), and ICC(1,1) (Shrout-Fleiss 1979) —
# the "how MUCH does the factor matter" companion to A18's F. All
# from ONE fused group-moment scan; k̄ uses the unequal-group-size
# harmonic adjustment n0 = (N − Σn²/N)/(k−1).
# --------------------------------------------------------------------------

def anova_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    g = (c.groupBy("c_mktsegment")
          .agg(F.count(F.lit(1)).alias("n"),
               F.sum(F.col("c_acctbal").cast("double")).alias("s"),
               F.sum(F.col("c_acctbal").cast("double")
                     * F.col("c_acctbal")).alias("ss")))
    agg = g.agg(F.count(F.lit(1)).alias("k"),
                F.sum("n").alias("nn"),
                F.sum("s").alias("ts"), F.sum("ss").alias("tss"),
                F.sum(F.col("s") * F.col("s") / F.col("n")).alias("sb"),
                F.sum(F.col("n") * F.col("n")).alias("sn2"))
    nn = F.col("nn").cast("double")
    k = F.col("k").cast("double")
    sst = F.col("tss") - F.col("ts") * F.col("ts") / nn
    ssb = F.col("sb") - F.col("ts") * F.col("ts") / nn
    ssw = sst - ssb
    # nullif on every ratio: a constant column zeroes SST (and the
    # variance components) — every effect size is undefined => NULL,
    # never an ANSI DIVIDE_BY_ZERO job abort
    msb = ssb / F.nullif(k - 1, F.lit(0.0))
    msw = ssw / F.nullif(nn - k, F.lit(0.0))
    n0 = (nn - F.col("sn2") / nn) / F.nullif(k - 1, F.lit(0.0))
    icc = (msb - msw) / F.nullif(msb + (n0 - 1) * msw, F.lit(0.0))
    omega = (ssb - (k - 1) * msw) / F.nullif(sst + msw, F.lit(0.0))
    return agg.select(
        F.col("k").cast("int").alias("k_groups"),
        F.col("nn").cast("long").alias("n"),
        F.round(ssb / F.nullif(sst, F.lit(0.0)), 6).alias("eta_squared"),
        F.round(omega, 6).alias("omega_squared"),
        F.round(icc, 6).alias("icc_1_1"))

ANOVA_EFFECT_SQL = """
WITH g AS (
  SELECT c_mktsegment, count(*) AS n,
         sum(CAST(c_acctbal AS DOUBLE)) AS s,
         sum(CAST(c_acctbal AS DOUBLE) * c_acctbal) AS ss
  FROM customer GROUP BY 1
), agg AS (
  SELECT CAST(count(*) AS DOUBLE) AS k, CAST(sum(n) AS DOUBLE) AS nn,
         sum(s) AS ts, sum(ss) AS tss,
         sum(s * s / n) AS sb, sum(CAST(n AS DOUBLE) * n) AS sn2
  FROM g
), m AS (
  SELECT k, nn,
         tss - ts * ts / nn AS sst,
         sb - ts * ts / nn AS ssb,
         (tss - ts * ts / nn) - (sb - ts * ts / nn) AS ssw,
         (sb - ts * ts / nn) / nullif(k - 1, 0) AS msb,
         ((tss - ts * ts / nn) - (sb - ts * ts / nn))
           / nullif(nn - k, 0) AS msw,
         (nn - sn2 / nn) / nullif(k - 1, 0) AS n0
  FROM agg
)
SELECT CAST(k AS INT) AS k_groups, CAST(nn AS BIGINT) AS n,
       round(ssb / nullif(sst, 0), 6) AS eta_squared,
       round((ssb - (k - 1) * msw) / nullif(sst + msw, 0), 6)
         AS omega_squared,
       round((msb - msw) / nullif(msb + (n0 - 1) * msw, 0), 6) AS icc_1_1
FROM m
"""


# --------------------------------------------------------------------------
# A158. Stratified Bernoulli sample + Horvitz-Thompson total (Horvitz-
# Thompson 1952): deterministic md5 inclusion at per-priority rates,
# HT total = Σ y_i/π_i per stratum, with the Bernoulli-design SE
# Σ y²(1−π)/π². The full-population comparison column makes the
# estimator's coverage auditable in-query. Seed-free md5 inclusion =
# the repo's standard engine-portable randomization.
# --------------------------------------------------------------------------

_HT_RATES = {"1-URGENT": 0.5, "2-HIGH": 0.25, "3-MEDIUM": 0.125,
             "4-NOT SPECIFIED": 0.125, "5-LOW": 0.25}


def stratified_ht_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    rate = F.create_map(*[F.lit(x) for kv in _HT_RATES.items()
                          for x in kv])[F.col("o_orderpriority")]
    # md5 first 4 hex chars → uniform int in [0, 65536)
    u = F.conv(F.substring(F.md5(F.concat(
        F.lit("ht:"), F.col("o_orderkey").cast("string"))), 1, 4),
        16, 10).cast("int")
    d = (o.select("o_orderpriority",
                  F.col("o_totalprice").cast("double").alias("y"),
                  rate.alias("pi"), u.alias("u"))
          .withColumn("take", (F.col("u") < F.col("pi") * 65536)
                      .cast("int")))
    g = (d.groupBy("o_orderpriority")
          .agg(F.count(F.lit(1)).alias("n_stratum"),
               F.sum("take").alias("n_sampled"),
               F.sum(F.col("take") * F.col("y") / F.col("pi"))
                .alias("ht_total"),
               F.sum(F.col("take") * F.col("y") * F.col("y")
                     * (1 - F.col("pi")) / (F.col("pi") * F.col("pi")))
                .alias("v"),
               F.sum("y").alias("true_total")))
    return (g.select("o_orderpriority", "n_stratum", "n_sampled",
                     F.round("ht_total", 2).alias("ht_total"),
                     F.round(F.sqrt("v"), 2).alias("ht_se"),
                     F.round("true_total", 2).alias("true_total"),
                     F.round((F.col("ht_total") - F.col("true_total"))
                             / F.sqrt("v"), 4).alias("z_error"))
             .orderBy("o_orderpriority"))

HT_ESTIMATE_SQL = """
WITH d AS (
  SELECT o_orderpriority, CAST(o_totalprice AS DOUBLE) AS y,
         CASE o_orderpriority
           WHEN '1-URGENT' THEN 0.5 WHEN '2-HIGH' THEN 0.25
           WHEN '3-MEDIUM' THEN 0.125
           WHEN '4-NOT SPECIFIED' THEN 0.125 ELSE 0.25 END AS pi,
         ((strpos('0123456789abcdef',
                  substring(md5('ht:' || CAST(o_orderkey AS VARCHAR)),
                            1, 1)) - 1) * 4096
          + (strpos('0123456789abcdef',
                    substring(md5('ht:' || CAST(o_orderkey AS VARCHAR)),
                              2, 1)) - 1) * 256
          + (strpos('0123456789abcdef',
                    substring(md5('ht:' || CAST(o_orderkey AS VARCHAR)),
                              3, 1)) - 1) * 16
          + (strpos('0123456789abcdef',
                    substring(md5('ht:' || CAST(o_orderkey AS VARCHAR)),
                              4, 1)) - 1)) AS u
  FROM orders
), t AS (
  SELECT *, CASE WHEN u < pi * 65536 THEN 1 ELSE 0 END AS take FROM d
), g AS (
  SELECT o_orderpriority, count(*) AS n_stratum,
         sum(take) AS n_sampled,
         sum(take * y / pi) AS ht_total,
         sum(take * y * y * (1 - pi) / (pi * pi)) AS v,
         sum(y) AS true_total
  FROM t GROUP BY 1
)
SELECT o_orderpriority, n_stratum,
       CAST(n_sampled AS BIGINT) AS n_sampled,
       round(ht_total, 2) AS ht_total,
       round(sqrt(v), 2) AS ht_se,
       round(true_total, 2) AS true_total,
       round((ht_total - true_total) / sqrt(v), 4) AS z_error
FROM g ORDER BY o_orderpriority
"""


# --------------------------------------------------------------------------
# A159. Distribution-free median CI via binomial order statistics
# (the textbook exact-coverage interval — no resampling, unlike A82's
# bootstrap): the (l, u) order-statistic ranks come from the normal
# approximation to Binomial(n, ½); the two order statistics are then
# READ OFF the distinct-value cumulative table via range_cumsum —
# never a global sort.
# --------------------------------------------------------------------------

def median_ci_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math
    o = load_table(spark, sf_dir, "orders")
    # NULL values carry no rank: without this filter a NULL group
    # would inflate n and shift every order statistic (code-review
    # r09 — the oracle CTE filters identically)
    vals = (o.where(F.col("o_totalprice").isNotNull())
             .groupBy(F.col("o_totalprice").cast("double").alias("v"))
             .agg(F.count(F.lit(1)).alias("t")))
    cum = stats.range_cumsum(vals, "v", ["t"]).localCheckpoint(eager=True)
    n = cum.agg(F.sum("t")).collect()[0][0]
    schema = ("n long, median double, rank_lo long, rank_hi long, "
              "ci_lo double, ci_hi double")
    if not n:
        # empty / all-NULL input: the hardened NULL-row contract the
        # approx twin already follows (n=0, NULL statistics)
        return local_df(
            spark, [(0, None, None, None, None, None)], schema)
    z = 1.959964
    lo = int(math.floor(n / 2.0 - z * math.sqrt(n) / 2.0))
    hi = int(math.ceil(1 + n / 2.0 + z * math.sqrt(n) / 2.0))
    lo, hi = max(lo, 1), min(hi, n)
    med_k1 = (n + 1) // 2
    med_k2 = (n + 2) // 2
    # ONE conditional aggregate reads all four order statistics off
    # the checkpointed cumulative table (optimization round 10 — this
    # was four separate kth() collect jobs; min-ignores-NULL makes
    # min(when(cum_t >= k, v)) identical to the filtered min)
    r4 = cum.agg(
        F.min(F.when(F.col("cum_t") >= lo, F.col("v"))).alias("lo"),
        F.min(F.when(F.col("cum_t") >= hi, F.col("v"))).alias("hi"),
        F.min(F.when(F.col("cum_t") >= med_k1, F.col("v"))).alias("m1"),
        F.min(F.when(F.col("cum_t") >= med_k2, F.col("v"))).alias("m2"),
    ).collect()[0]
    row_lo, row_hi, m1, m2 = r4["lo"], r4["hi"], r4["m1"], r4["m2"]
    return local_df(
        spark,
        [(int(n), round((m1 + m2) / 2.0, 4), int(lo), int(hi),
          round(row_lo, 4), round(row_hi, 4))], schema)

MEDIAN_CI_SQL = """
WITH vals AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS v, count(*) AS t
  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
), cum AS (
  SELECT v, t, sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW) AS cum_t
  FROM vals
), nn AS (SELECT CAST(sum(t) AS BIGINT) AS n FROM vals),
ks AS (
  SELECT n,
         greatest(CAST(floor(n / 2.0 - 1.959964 * sqrt(n) / 2.0)
                       AS BIGINT), 1) AS lo,
         CAST(least(CAST(ceil(1 + n / 2.0 + 1.959964 * sqrt(n) / 2.0)
                         AS BIGINT), n) AS BIGINT) AS hi,
         (n + 1) // 2 AS k1, (n + 2) // 2 AS k2
  FROM nn
)
SELECT CAST(coalesce(n, 0) AS BIGINT) AS n,
       round(((SELECT min(v) FROM cum WHERE cum_t >= k1)
              + (SELECT min(v) FROM cum WHERE cum_t >= k2)) / 2.0, 4)
         AS median,
       CASE WHEN n IS NULL THEN NULL ELSE lo END AS rank_lo,
       CASE WHEN n IS NULL THEN NULL ELSE hi END AS rank_hi,
       round((SELECT min(v) FROM cum WHERE cum_t >= lo), 4) AS ci_lo,
       round((SELECT min(v) FROM cum WHERE cum_t >= hi), 4) AS ci_hi
FROM ks
"""


# --------------------------------------------------------------------------
# A159b. Approximate median CI via the GK sketch (VERDICT r03 #4 —
# the 100 TB path for A159): the exact form's distinct-value
# cumulative table is O(rows) on a continuous column; this reads the
# SAME binomial order-statistic ranks off ONE percentile_approx pass
# (mergeable sketch state, rank error ≤ n/accuracy by the GK
# guarantee — at accuracy 10000 the rank slack is well inside the
# ~z·√n/2 half-width of the interval itself for n ≥ ~4·(10⁴/z)²·...,
# i.e. any production n). NO SQL oracle by design: DuckDB's
# approx_quantile is a different sketch (t-digest), so estimates
# differ engine-to-engine — the driver records rows-only, and
# tests/test_round4.py bound-checks every output against the exact
# A159 at two SFs (approx median must land inside the exact CI; the
# approx CI endpoints must bracket the exact median). Follows the
# `catalog_profile_approx` rows-only pattern.
# --------------------------------------------------------------------------

def median_ci_approx_order_value_detail(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    import math
    acc = 10000
    o = load_table(spark, sf_dir, "orders")
    d = o.select(F.col("o_totalprice").cast("double").alias("v")) \
         .where(F.col("v").isNotNull())
    n = d.count()
    schema = ("n long, median_approx double, rank_lo long, rank_hi long, "
              "ci_lo_approx double, ci_hi_approx double, accuracy long")
    if n == 0:
        # empty-input hardening: degrade to a one-row all-NULL frame
        # (same NULL-propagation contract as the exact A159 and
        # lda_two_class_df) instead of dividing by n below
        return local_df(
            spark, [(0, None, None, None, None, None, acc)], schema)
    z = 1.959964
    lo = max(int(math.floor(n / 2.0 - z * math.sqrt(n) / 2.0)), 1)
    hi = min(int(math.ceil(1 + n / 2.0 + z * math.sqrt(n) / 2.0)), n)
    fracs = [lo / n, 0.5, hi / n]
    row = d.agg(F.percentile_approx("v", fracs, acc).alias("q")) \
           .collect()[0]["q"]
    return local_df(
        spark,
        [(int(n), round(row[1], 4), int(lo), int(hi),
          round(row[0], 4), round(row[2], 4), acc)], schema)


def median_ci_approx_order_value(spark: SparkSession, sf_dir: str, *,
                                 audit: bool = True) -> DataFrame:
    """A159b bound-as-oracle form (VERDICT r07 #1, the B31 pattern):
    the GK estimates themselves are engine-specific (DuckDB uses a
    t-digest) so they are no longer EMITTED; instead the query emits
    the exact A159 audit columns (DuckDB-recomputable) plus the two
    in-query booleans tests/test_round4.py has asserted at every SF:
    the GK median must land inside the exact order-statistic CI, and
    the GK CI must contain the exact median (GK rank slack n/accuracy
    sits far inside the ~z*sqrt(n)/2 half-width for n < ~1e8 — the
    driver/bench regime; at 100 TB the audit columns are dropped and
    the `_detail` form above is the product). A sketch drifting out of
    either band now FAILS the driver's value hash."""
    if not audit:
        return median_ci_approx_order_value_detail(spark, sf_dir)
    ap = median_ci_approx_order_value_detail(spark, sf_dir).collect()[0]
    schema = ("n long, rank_lo long, rank_hi long, median_exact double, "
              "ci_lo_exact double, ci_hi_exact double, "
              "approx_median_in_ci boolean, "
              "approx_ci_brackets_median boolean, accuracy long")
    # empty-input guard BEFORE the exact call (code-review r08): the
    # exact median_ci_order_value raises on n=0 (math.floor(None/2)),
    # so gate on the detail's hardened n — same NULL-row contract
    if not ap["n"]:
        return local_df(
            spark,
            [(0, None, None, None, None, None, None, None,
              ap["accuracy"])], schema)
    ex = median_ci_order_value(spark, sf_dir).collect()[0]
    in_ci = bool(ex["ci_lo"] <= ap["median_approx"] <= ex["ci_hi"])
    brackets = bool(ap["ci_lo_approx"] <= ex["median"]
                    <= ap["ci_hi_approx"])
    return local_df(
        spark,
        [(int(ex["n"]), int(ex["rank_lo"]), int(ex["rank_hi"]),
          float(ex["median"]), float(ex["ci_lo"]), float(ex["ci_hi"]),
          in_ci, brackets, int(ap["accuracy"]))], schema)


MEDIAN_CI_APPROX_SQL = """
WITH vals AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS v, count(*) AS t
  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
), cum AS (
  SELECT v, t, sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW) AS cum_t
  FROM vals
), nn AS (SELECT CAST(sum(t) AS BIGINT) AS n FROM vals),
ks AS (
  SELECT n,
         greatest(CAST(floor(n / 2.0 - 1.959964 * sqrt(n) / 2.0)
                       AS BIGINT), 1) AS lo,
         CAST(least(CAST(ceil(1 + n / 2.0 + 1.959964 * sqrt(n) / 2.0)
                         AS BIGINT), n) AS BIGINT) AS hi,
         (n + 1) // 2 AS k1, (n + 2) // 2 AS k2
  FROM nn
)
SELECT CAST(coalesce(n, 0) AS BIGINT) AS n,
       CASE WHEN n IS NULL THEN NULL ELSE lo END AS rank_lo,
       CASE WHEN n IS NULL THEN NULL ELSE hi END AS rank_hi,
       round(((SELECT min(v) FROM cum WHERE cum_t >= k1)
              + (SELECT min(v) FROM cum WHERE cum_t >= k2)) / 2.0, 4)
         AS median_exact,
       round((SELECT min(v) FROM cum WHERE cum_t >= lo), 4)
         AS ci_lo_exact,
       round((SELECT min(v) FROM cum WHERE cum_t >= hi), 4)
         AS ci_hi_exact,
       CASE WHEN n IS NULL THEN NULL ELSE TRUE END
         AS approx_median_in_ci,
       CASE WHEN n IS NULL THEN NULL ELSE TRUE END
         AS approx_ci_brackets_median,
       10000 AS accuracy
FROM ks
"""


# --------------------------------------------------------------------------
# A160. OLS leverage audit (hat values h_i = 1/n + (x−x̄)²/Sxx for the
# simple regression design): how many rows exceed the 2p/n
# high-leverage rule, the max leverage, and the exact-identity check
# mean(h) = p/n (p = 2). One moment pass + one codegen re-scan —
# the influence-diagnostics companion of A121's Cook's distance.
# --------------------------------------------------------------------------

def leverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(F.col("l_quantity").cast("double").alias("x"))
    mv = d.agg(F.count(F.lit(1)).alias("n"), F.avg("x").alias("mx"),
               (F.var_pop("x") * F.count(F.lit(1))).alias("sxx"))
    j = d.crossJoin(F.broadcast(mv))
    # nullif: a constant x zeroes Sxx — leverage undefined => NULL
    h = 1.0 / F.col("n") + (F.col("x") - F.col("mx")) \
        * (F.col("x") - F.col("mx")) / F.nullif(F.col("sxx"),
                                                F.lit(0.0))
    thr = 2.0 * 2.0 / F.col("n")
    return (j.agg(F.first("n").alias("nn"),
                  F.sum((h > thr).cast("long")).alias("n_high"),
                  F.max(h).alias("hmax"),
                  F.avg(h).alias("hmean"))
             .select(F.col("nn").cast("long").alias("n"),
                     F.col("n_high").alias("n_high_leverage"),
                     F.round("hmax", 8).alias("max_leverage"),
                     F.round("hmean", 8).alias("mean_leverage"),
                     F.round(F.col("hmean") * F.col("nn"), 4)
                      .alias("mean_times_n")))

LEVERAGE_SQL = """
WITH d AS (SELECT CAST(l_quantity AS DOUBLE) AS x FROM lineitem),
mv AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, avg(x) AS mx,
         var_pop(x) * count(*) AS sxx
  FROM d
), j AS (
  SELECT n, 1.0 / n + (x - mx) * (x - mx) / nullif(sxx, 0) AS h
  FROM d CROSS JOIN mv
)
SELECT CAST(any_value(n) AS BIGINT) AS n,
       CAST(sum(CASE WHEN h > 4.0 / n THEN 1 ELSE 0 END)
            AS BIGINT) AS n_high_leverage,
       round(max(h), 8) AS max_leverage,
       round(avg(h), 8) AS mean_leverage,
       round(avg(h) * any_value(n), 4) AS mean_times_n
FROM j
"""


# --------------------------------------------------------------------------
# A161. Cohen's h for two proportions (Cohen 1988, arcsine effect
# size — the MAGNITUDE companion of A18h's two-proportion z-test,
# which only gives significance): h = 2·asin√p₁ − 2·asin√p₂ for the
# finished-order rate of urgent vs low priority. One fused scan.
# --------------------------------------------------------------------------

def cohens_h_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    isf = (F.col("o_orderstatus") == "F").cast("double")
    g = o.agg(
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1.0)
               .otherwise(0.0)).alias("n1"),
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", isf)
               .otherwise(0.0)).alias("k1"),
        F.sum(F.when(F.col("o_orderpriority") == "5-LOW", 1.0)
               .otherwise(0.0)).alias("n2"),
        F.sum(F.when(F.col("o_orderpriority") == "5-LOW", isf)
               .otherwise(0.0)).alias("k2"))
    # nullif: an absent priority arm zeroes its n — p (and h)
    # undefined => NULL, never an ANSI DIVIDE_BY_ZERO job abort
    p1 = F.col("k1") / F.nullif(F.col("n1"), F.lit(0.0))
    p2 = F.col("k2") / F.nullif(F.col("n2"), F.lit(0.0))
    h = 2 * F.asin(F.sqrt(p1)) - 2 * F.asin(F.sqrt(p2))
    return g.select(
        F.col("n1").cast("long").alias("n_urgent"),
        F.col("n2").cast("long").alias("n_low"),
        F.round(p1, 6).alias("p_urgent_finished"),
        F.round(p2, 6).alias("p_low_finished"),
        F.round(h, 6).alias("cohens_h"))

COHENS_H_SQL = """
WITH g AS (
  SELECT sum(CASE WHEN o_orderpriority = '1-URGENT'
             THEN 1.0 ELSE 0.0 END) AS n1,
         sum(CASE WHEN o_orderpriority = '1-URGENT'
                  AND o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END) AS k1,
         sum(CASE WHEN o_orderpriority = '5-LOW'
             THEN 1.0 ELSE 0.0 END) AS n2,
         sum(CASE WHEN o_orderpriority = '5-LOW'
                  AND o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END) AS k2
  FROM orders
)
SELECT CAST(n1 AS BIGINT) AS n_urgent, CAST(n2 AS BIGINT) AS n_low,
       round(k1 / nullif(n1, 0), 6) AS p_urgent_finished,
       round(k2 / nullif(n2, 0), 6) AS p_low_finished,
       round(2 * asin(sqrt(k1 / nullif(n1, 0)))
             - 2 * asin(sqrt(k2 / nullif(n2, 0))), 6)
         AS cohens_h
FROM g
"""


# --------------------------------------------------------------------------
# A163. Principal-component regression (reference R:575-621, the
# 주성분 회귀 모형 section — the one reference modeling section
# without a registry twin until round 6; VERDICT r05 #5): PCA on the
# TRAIN fold's standardized features (the A22 machinery — one fused
# covariance scan, driver-side k×k eigh), OLS of the target on the
# top-2 PC scores (the A21 Gram pass — the scores are codegen'd
# linear maps, so the Gram scan streams, nothing materializes), then
# deterministic holdout scoring with 4-dp coefficients and the A23
# metrics aggregate. Output is ONE row at any scale; total cost is
# three scans of fixed-size sufficient statistics. The split is the
# same pmod(orderkey, 5) hash as score_holdout / rf_score_holdout so
# all three holdout families are comparable side by side.
#
# Oracle: expected-parquet (the A22 discipline) — the eigenvectors
# come from driver-side eigh, not SQL-expressible; determinism across
# execution geometries is audited by scripts/check_expected.py. The
# metrics are sign-invariant in the PCs (a flipped eigenvector flips
# the matching OLS coefficient; predictions are unchanged).
# --------------------------------------------------------------------------

def pcr_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deliberately COLLINEAR predictors (qty and its net/taxed
    # variants): PCR's reference use-case is regression under the
    # multicollinearity its VIF section diagnoses (R:527, 575-621) —
    # the top-2 PCs absorb >99.9% of the variance with well-separated
    # eigenvalues (λ ≈ [3.0, 1.0, 2e-3, 4e-4] at the driver SFs), so
    # component ORDER is robust to execution-geometry FP noise and the
    # expected-parquet oracle is stable
    li = (load_table(spark, sf_dir, "lineitem")
          .withColumn("qty_net", F.col("l_quantity")
                      * (1 - F.col("l_discount")))
          .withColumn("qty_taxed", F.col("l_quantity")
                      * (1 + F.col("l_tax"))))
    xs = ["l_quantity", "qty_net", "qty_taxed", "l_discount"]
    y, k = "l_extendedprice", 2
    train = li.where(F.pmod(F.col("l_orderkey"), F.lit(5)) != 0)
    vals, vecs, means, stds = ml.pca_fit(train, xs, scale=True)

    def pc_expr(pc: int):
        expr = F.lit(0.0)
        for i, c in enumerate(xs):
            expr = expr + ((F.col(c) - float(means[i])) / float(stds[i])
                           ) * float(vecs[i, pc])
        return expr

    scores = train.select(F.col(y),
                          *[pc_expr(i).alias(f"pc{i + 1}")
                            for i in range(k)])
    fit = ml.ols_fit(scores, [f"pc{i + 1}" for i in range(k)], y)
    b = [round(fit["intercept"], 4)] + [round(fit[f"coef_pc{i + 1}"], 4)
                                        for i in range(k)]
    pred = F.lit(b[0])
    for i in range(k):
        pred = pred + F.lit(b[i + 1]) * pc_expr(i)
    test = li.where(F.pmod(F.col("l_orderkey"), F.lit(5)) == 0)
    explained = float(vals[:k].sum() / vals.sum())
    m = ml.eval_metrics(test, y, pred)
    # r2 sits at ~0 on this synthetic data (corr(qty, price) ≈ 0.003
    # by generator design — score_holdout shares this) and the rounded
    # value can land on IEEE −0.0 under one summation order and +0.0
    # under another; normalize with + 0.0 (round-5 standing rule for
    # near-zero rounded outputs)
    return m.select(F.col("n").alias("n_test"),
                    F.lit(k).alias("k_components"),
                    F.lit(round(explained, 4)).alias("explained_ratio"),
                    "rmse", "mape",
                    (F.col("r2") + F.lit(0.0)).alias("r2"))


# --------------------------------------------------------------------------
# Registry entries: key -> (builder, DuckDB oracle SQL). The package
# __init__ merges every module's QUERIES into REGISTRY; a new query is
# added here, next to its builder.
# --------------------------------------------------------------------------

QUERIES = {
    "dagostino_k2_price": (dagostino_k2_price, DAGOSTINO_SQL),
    "dunn_posthoc_segments": (dunn_posthoc_segments, DUNN_SQL),
    "jonckheere_trend_qty": (jonckheere_trend_qty, JONCKHEERE_SQL),
    "logrank_churn_ab": (logrank_churn_ab, LOGRANK_SQL),
    "ad_ksample_priority": (ad_ksample_priority, AD_KSAMPLE_SQL),
    "ad_ksample_approx_priority": (ad_ksample_approx_priority,
                                   AD_KSAMPLE_APPROX_SQL),
    "white_test_hetero": (white_test_hetero, WHITE_TEST_SQL),
    "lda_returnflag": (lda_returnflag, LDA_SQL),
    "quantile_reg_90": (quantile_reg_90, QUANTILE_REG_SQL),
    "pivot_multi_metrics": (pivot_multi_metrics, PIVOT_MULTI_SQL),
    "hosmer_lemeshow_status": (hosmer_lemeshow_status,
                               HOSMER_LEMESHOW_SQL),
    "hellinger_order_value": (hellinger_order_value, HELLINGER_SQL),
    "deming_regression": (deming_regression, DEMING_SQL),
    "epi_2x2_measures": (epi_2x2_measures, EPI_2X2_SQL),
    "weighted_kappa_orders": (weighted_kappa_orders, WEIGHTED_KAPPA_SQL),
    "gehan_wilcoxon_churn": (gehan_wilcoxon_churn, GEHAN_SQL),
    "brier_decomposition": (brier_decomposition, BRIER_DECOMP_SQL),
    "sign_test_price": (sign_test_price, SIGN_TEST_SQL),
    "cmh_orders": (cmh_orders, CMH_SQL),
    "anova_effect_sizes": (anova_effect_sizes, ANOVA_EFFECT_SQL),
    "stratified_ht_estimate": (stratified_ht_estimate, HT_ESTIMATE_SQL),
    "median_ci_order_value": (median_ci_order_value, MEDIAN_CI_SQL),
    # r08 bound-as-oracle upgrade (VERDICT r07 #1): exact A159 audit
    # columns + in-band booleans, DuckDB-hash-checked
    "median_ci_approx_order_value": (median_ci_approx_order_value,
                                     MEDIAN_CI_APPROX_SQL),
    "leverage_audit": (leverage_audit, LEVERAGE_SQL),
    "cohens_h_priority": (cohens_h_priority, COHENS_H_SQL),
    "pcr_holdout": (pcr_holdout, _expected_sql("pcr_holdout")),
}
