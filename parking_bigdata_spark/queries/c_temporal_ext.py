"""Query registry — c_temporal_ext module: round-3 late additions
(batches 14+), split out of c_temporal.py. The ``QUERIES`` dict at
the end pairs every builder here with its DuckDB oracle."""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..operators import stats
from .c_temporal import _daily_counts


# --------------------------------------------------------------------------
# C52. Cross-correlation function between the two daily series (count
# vs mean event value) at lags -3..+3 — does activity LEAD value or
# follow it? (Box-Jenkins CCF identification step.) Both series come
# out of ONE distributed count-by-day; the lag expansion and corr run
# on the calendar-bounded aggregate (≤ days·7 rows), never on raw
# events.
# --------------------------------------------------------------------------

def ccf_count_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    day = F.datediff(F.to_date("ts"), F.lit("1995-01-01").cast("date"))
    daily = (ev.groupBy(day.alias("d"))
               .agg(F.count(F.lit(1)).alias("n"),
                    F.avg(F.col("value").cast("double")).alias("v")))
    a, b = daily.alias("a"), daily.alias("b")
    lagged = (a.select("d", "n",
                       F.explode(F.sequence(F.lit(-3), F.lit(3)))
                        .alias("lag_k"))
               .join(b, F.col("b.d") == F.col("a.d") + F.col("lag_k")))
    # safe_corr: a constant count (or value) series has zero variance
    # — the CCF is undefined => NULL, never an ANSI abort
    return (lagged.groupBy("lag_k")
                  .agg(F.count(F.lit(1)).alias("n_pairs"),
                       F.round(stats.safe_corr(
                           F.col("a.n").cast("double"),
                           F.col("b.v")), 4).alias("ccf"))
                  .orderBy("lag_k"))

CCF_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS d,
         count(*) AS n, avg(CAST(value AS DOUBLE)) AS v
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), ks AS (SELECT CAST(unnest(generate_series(-3, 3)) AS INT) AS lag_k)
SELECT lag_k, CAST(count(*) AS BIGINT) AS n_pairs,
       round(covar_samp(a.n, b.v)
             / nullif(stddev_samp(a.n) * stddev_samp(b.v), 0), 4) AS ccf
FROM daily a CROSS JOIN ks JOIN daily b ON b.d = a.d + lag_k
GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# C53. Granger-causality F-test (Granger 1969), lag-1: does yesterday's
# event COUNT improve today's mean-value prediction beyond yesterday's
# value alone? Restricted (y ~ y₋₁) and full (y ~ y₋₁ + x₋₁) OLS both
# collapse to closed determinant forms of ONE fused product-sum
# aggregate over the calendar-bounded lag join — the A21/C33
# normal-equation discipline, no driver solve.
# --------------------------------------------------------------------------

def granger_count_to_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    day = F.datediff(F.to_date("ts"), F.lit("1995-01-01").cast("date"))
    daily = (ev.groupBy(day.alias("d"))
               .agg(F.count(F.lit(1)).cast("double").alias("x"),
                    F.avg(F.col("value").cast("double")).alias("y")))
    cur, lag = daily.alias("cur"), daily.alias("lag")
    rows = (cur.join(lag, F.col("lag.d") == F.col("cur.d") - 1)
               .select(F.col("cur.y").alias("y"),
                       F.col("lag.y").alias("yl"),
                       F.col("lag.x").alias("xl")))
    g = rows.agg(F.count(F.lit(1)).alias("n"),
                 F.avg("y").alias("my"), F.avg("yl").alias("m1"),
                 F.avg("xl").alias("m2"),
                 F.avg(F.col("y") * F.col("y")).alias("ryy"),
                 F.avg(F.col("yl") * F.col("yl")).alias("r11"),
                 F.avg(F.col("xl") * F.col("xl")).alias("r22"),
                 F.avg(F.col("yl") * F.col("xl")).alias("r12"),
                 F.avg(F.col("y") * F.col("yl")).alias("r1y"),
                 F.avg(F.col("y") * F.col("xl")).alias("r2y"))
    n = F.col("n").cast("double")
    syy = F.col("ryy") - F.col("my") * F.col("my")
    s11 = F.col("r11") - F.col("m1") * F.col("m1")
    s22 = F.col("r22") - F.col("m2") * F.col("m2")
    s12 = F.col("r12") - F.col("m1") * F.col("m2")
    s1y = F.col("r1y") - F.col("m1") * F.col("my")
    s2y = F.col("r2y") - F.col("m2") * F.col("my")
    # nullif on every closed-form denominator: constant series zero
    # s11 / the determinant / the residual MS — the fit is undefined
    # => NULL, never an ANSI DIVIDE_BY_ZERO job abort
    rss_r = syy - s1y * s1y / F.nullif(s11, F.lit(0.0))
    det = F.nullif(s11 * s22 - s12 * s12, F.lit(0.0))
    b1 = (s1y * s22 - s2y * s12) / det
    b2 = (s2y * s11 - s1y * s12) / det
    rss_f = syy - b1 * s1y - b2 * s2y
    fstat = (rss_r - rss_f) / F.nullif(rss_f / F.nullif(n - 3,
                                                        F.lit(0.0)),
                                       F.lit(0.0))
    return g.select(F.col("n").cast("long").alias("n_obs"),
                    F.round(b2 * n, 6).alias("lag_count_coef_scaled"),
                    F.round(rss_r * n, 4).alias("rss_restricted"),
                    F.round(rss_f * n, 4).alias("rss_full"),
                    F.round(fstat, 4).alias("f_stat"))

GRANGER_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS d,
         CAST(count(*) AS DOUBLE) AS x, avg(CAST(value AS DOUBLE)) AS y
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), rows_t AS (
  SELECT cur.y AS y, lag.y AS yl, lag.x AS xl
  FROM daily cur JOIN daily lag ON lag.d = cur.d - 1
), g AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         avg(y) AS my, avg(yl) AS m1, avg(xl) AS m2,
         avg(y * y) AS ryy, avg(yl * yl) AS r11, avg(xl * xl) AS r22,
         avg(yl * xl) AS r12, avg(y * yl) AS r1y, avg(y * xl) AS r2y
  FROM rows_t
), s AS (
  SELECT n,
         ryy - my * my AS syy, r11 - m1 * m1 AS s11,
         r22 - m2 * m2 AS s22, r12 - m1 * m2 AS s12,
         r1y - m1 * my AS s1y, r2y - m2 * my AS s2y
  FROM g
), fit AS (
  SELECT n, syy, s1y, s11,
         (s1y * s22 - s2y * s12)
           / nullif(s11 * s22 - s12 * s12, 0) AS b1,
         (s2y * s11 - s1y * s12)
           / nullif(s11 * s22 - s12 * s12, 0) AS b2,
         s2y
  FROM s
)
SELECT CAST(n AS BIGINT) AS n_obs,
       round(b2 * n, 6) AS lag_count_coef_scaled,
       round((syy - s1y * s1y / nullif(s11, 0)) * n, 4)
         AS rss_restricted,
       round((syy - b1 * s1y - b2 * s2y) * n, 4) AS rss_full,
       round(((syy - s1y * s1y / nullif(s11, 0))
              - (syy - b1 * s1y - b2 * s2y))
             / nullif((syy - b1 * s1y - b2 * s2y)
                      / nullif(n - 3, 0), 0), 4) AS f_stat
FROM fit
"""


# --------------------------------------------------------------------------
# C54. Pettitt changepoint test (Pettitt 1979) on the daily count
# series — the rank-based (distribution-free) companion of C26's CUSUM
# and the binseg scan: K = max_t |2·S_t − t(N+1)| where S_t is the
# running sum of time-ordered ranks. Ranks come off the
# distinct-value table (tie-averaged, range-partitioned) and the
# running sum rides range_cumsum over the ≤#days calendar table; the
# argmax tie-breaks deterministically on the earliest day.
# --------------------------------------------------------------------------

def pettitt_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_counts(spark, sf_dir).localCheckpoint(eager=True)
    vals = daily.groupBy("n").agg(F.count(F.lit(1)).alias("t"))
    ranked = stats.tie_avg_ranks(vals, "n", "t")
    dr = (daily.join(ranked.select("n", "avg_rank"), "n")
               .select("d", F.col("avg_rank").alias("r"))
               .withColumn("one", F.lit(1)))
    cum = stats.range_cumsum(dr, "d", ["r", "one"])
    tot = daily.agg(F.count(F.lit(1)).alias("n_days"))
    u = (cum.crossJoin(F.broadcast(tot))
            .select("d", "n_days",
                    (2.0 * F.col("cum_r")
                     - F.col("cum_one") * (F.col("n_days") + 1))
                    .alias("u_t")))
    best = (u.orderBy(F.abs("u_t").desc(), "d").limit(1))
    nn = F.col("n_days").cast("double")
    return best.select(
        F.col("n_days").cast("long").alias("n_days"),
        F.col("d").cast("long").alias("changepoint_day"),
        F.round(F.abs("u_t"), 2).alias("k_stat"),
        F.round(F.exp(-6.0 * F.col("u_t") * F.col("u_t")
                      / (nn * nn * nn + nn * nn)), 6).alias("p_approx"))

PETTITT_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS d,
         count(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), ranked AS (
  SELECT d,
         rank() OVER (ORDER BY n)
           + (count(*) OVER (PARTITION BY n) - 1) / 2.0 AS r
  FROM daily
), cum AS (
  SELECT d,
         sum(r) OVER w AS cum_r,
         CAST(count(*) OVER w AS DOUBLE) AS t,
         CAST(count(*) OVER () AS DOUBLE) AS n_days
  FROM ranked
  WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), u AS (
  SELECT d, n_days, 2.0 * cum_r - t * (n_days + 1) AS u_t
  FROM cum
)
SELECT CAST(n_days AS BIGINT) AS n_days,
       CAST(d AS BIGINT) AS changepoint_day,
       round(abs(u_t), 2) AS k_stat,
       round(exp(-6.0 * u_t * u_t
                 / (n_days * n_days * n_days + n_days * n_days)), 6)
         AS p_approx
FROM u ORDER BY abs(u_t) DESC, d LIMIT 1
"""


# --------------------------------------------------------------------------
# C55. Periodogram of the daily count series (Schuster 1898): spectral
# power at candidate periods 2..14 days — the frequency-sweep
# generalization of C33's fixed weekly harmonic (which period IS the
# season?). Centered values fan out over the bounded period grid in
# one codegen explode; each power is two fused trig sums over the
# calendar-bounded series. Power is variance-normalized so the
# rounding scale is data-size-independent.
# --------------------------------------------------------------------------

def periodogram_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math
    daily = _daily_counts(spark, sf_dir)
    mv = daily.agg(F.avg(F.col("n").cast("double")).alias("mu"),
                   F.count(F.lit(1)).alias("nd"),
                   F.var_pop(F.col("n").cast("double")).alias("s2"))
    x = F.col("n").cast("double") - F.col("mu")
    theta = 2.0 * math.pi * F.col("d") / F.col("period")
    per = (daily.crossJoin(F.broadcast(mv))
                .select("d", "n", "mu", "nd", "s2",
                        F.explode(F.sequence(F.lit(2), F.lit(14)))
                         .alias("period"))
                .groupBy("period")
                .agg(F.first("nd").alias("nd"), F.first("s2").alias("s2"),
                     F.sum(x * F.cos(theta)).alias("sc"),
                     F.sum(x * F.sin(theta)).alias("ss")))
    # nullif: a constant series has zero variance — normalized power
    # is undefined => NULL, never an ANSI DIVIDE_BY_ZERO job abort
    power = ((F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss"))
             / F.nullif(F.col("nd") * F.col("s2"), F.lit(0.0)))
    return (per.select("period",
                       F.col("nd").cast("long").alias("n_days"),
                       F.round(power, 4).alias("power_norm"))
               .orderBy("period"))

PERIODOGRAM_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS d,
         count(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), mv AS (
  SELECT avg(n) AS mu, CAST(count(*) AS DOUBLE) AS nd,
         var_pop(n) AS s2
  FROM daily
), grid AS (SELECT CAST(unnest(generate_series(2, 14)) AS INT) AS period)
SELECT period, CAST(nd AS BIGINT) AS n_days,
       round((pow(sum((n - mu) * cos(2 * pi() * d / period)), 2)
              + pow(sum((n - mu) * sin(2 * pi() * d / period)), 2))
             / nullif(nd * s2, 0), 4) AS power_norm
FROM daily CROSS JOIN mv CROSS JOIN grid
GROUP BY period, nd, s2
ORDER BY period
"""


# --------------------------------------------------------------------------
# C56. Interarrival-time exponential fit + KS goodness-of-fit: are
# per-user inter-event gaps memoryless (Poisson-process check —
# companion of C42 burstiness, which only reports the CV)? λ is the
# closed-form MLE (1/mean), rounded to 9 dp on BOTH engines before it
# enters exp(); the KS statistic compares the ECDF (both step sides)
# against 1−exp(−λg) on the distinct-gap table via range_cumsum —
# never a corpus-wide sort.
# --------------------------------------------------------------------------

def interarrival_exp_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (ev.select("user_id", "ts", "event_id",
                      F.lag("ts").over(w).alias("prev"))
              .where(F.col("prev").isNotNull())
              # exact integer microsecond difference, ONE deterministic
              # /1e6 — identical doubles in both engines (unix_timestamp
              # would truncate sub-second parts Spark-side only)
              .select(((F.unix_micros("ts") - F.unix_micros("prev"))
                       / F.lit(1000000.0)).alias("g"))
              .where(F.col("g") > 0))
    dist = (gaps.groupBy("g").agg(F.count(F.lit(1)).alias("t"))
                .localCheckpoint(eager=True))
    mv = dist.agg(F.sum("t").alias("n_gaps"),
                  F.round(F.sum("t")
                          / F.sum(F.col("g") * F.col("t")), 9)
                   .alias("lam"))
    cum = (stats.range_cumsum(dist, "g", ["t"])
           .crossJoin(F.broadcast(mv)))
    cdf = 1.0 - F.exp(-F.col("lam") * F.col("g"))
    nn = F.col("n_gaps").cast("double")
    dev = F.greatest(F.abs(F.col("cum_t") / nn - cdf),
                     F.abs((F.col("cum_t") - F.col("t")) / nn - cdf))
    return (cum.agg(F.first("n_gaps").alias("ng"),
                    F.first("lam").alias("l"),
                    F.max(dev).alias("ks"))
               .select(F.col("ng").cast("long").alias("n_gaps"),
                       F.round("l", 9).alias("lambda_per_sec"),
                       F.round("ks", 4).alias("ks_stat")))

INTERARRIVAL_SQL = """
WITH gaps AS (
  SELECT (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id)))
         / 1000000.0 AS g
  FROM events WHERE ts IS NOT NULL
), nz AS (SELECT g FROM gaps WHERE g > 0),
dist AS (SELECT g, count(*) AS t FROM nz GROUP BY 1),
mv AS (SELECT sum(t) AS n_gaps,
              round(sum(t) / sum(g * t), 9) AS lam FROM dist),
cum AS (
  SELECT g, t, n_gaps, lam,
         sum(t) OVER (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum_t
  FROM dist CROSS JOIN mv
)
SELECT CAST(any_value(n_gaps) AS BIGINT) AS n_gaps,
       round(any_value(lam), 9) AS lambda_per_sec,
       round(max(greatest(
         abs(cum_t / CAST(n_gaps AS DOUBLE) - (1 - exp(-lam * g))),
         abs((cum_t - t) / CAST(n_gaps AS DOUBLE)
             - (1 - exp(-lam * g))))), 4) AS ks_stat
FROM cum
"""


# --------------------------------------------------------------------------
# C57. AR(2) autoregression via Yule-Walker equations (Yule 1927,
# Walker 1931) on the daily count series — the parametric fit the
# C24 ACF identifies: φ₁ = r₁(1−r₂)/(1−r₁²), φ₂ = (r₂−r₁²)/(1−r₁²),
# innovation variance c₀(1 − φ₁r₁ − φ₂r₂). Autocovariances are two
# fused lag-join sums over the calendar-bounded aggregate with the
# FULL-series mean/variance (the standard biased estimator, ÷n).
# --------------------------------------------------------------------------

def ar2_yule_walker_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_counts(spark, sf_dir).localCheckpoint(eager=True)
    mv = daily.agg(F.avg(F.col("n").cast("double")).alias("mu"),
                   F.var_pop(F.col("n").cast("double")).alias("c0"),
                   F.count(F.lit(1)).alias("nd"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (a.select("d", "n",
                      F.explode(F.sequence(F.lit(1), F.lit(2)))
                       .alias("k"))
              .join(b, F.col("b.d") == F.col("a.d") + F.col("k"))
              .crossJoin(F.broadcast(mv)))
    ck = (pairs.groupBy("k")
               .agg((F.sum((F.col("a.n") - F.col("mu"))
                           * (F.col("b.n") - F.col("mu")))
                     / F.first(F.col("nd").cast("double"))).alias("c")))
    wide = (ck.crossJoin(F.broadcast(mv))
              .groupBy("nd", "mu", "c0")
              .agg(F.max(F.when(F.col("k") == 1, F.col("c"))).alias("c1"),
                   F.max(F.when(F.col("k") == 2, F.col("c"))).alias("c2")))
    # nullif: a constant series zeroes c0 (and |r1| = 1 zeroes the
    # Yule-Walker denominator) — the fit is undefined => NULL, never
    # an ANSI DIVIDE_BY_ZERO job abort
    r1 = F.col("c1") / F.nullif(F.col("c0"), F.lit(0.0))
    r2 = F.col("c2") / F.nullif(F.col("c0"), F.lit(0.0))
    phi1 = r1 * (1 - r2) / F.nullif(1 - r1 * r1, F.lit(0.0))
    phi2 = (r2 - r1 * r1) / F.nullif(1 - r1 * r1, F.lit(0.0))
    return wide.select(
        F.col("nd").cast("long").alias("n_days"),
        F.round(r1, 6).alias("r1"),
        F.round(r2, 6).alias("r2"),
        F.round(phi1, 6).alias("phi1"),
        F.round(phi2, 6).alias("phi2"),
        F.round(F.col("c0") * (1 - phi1 * r1 - phi2 * r2), 4)
         .alias("innovation_var"))

AR2_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS d,
         count(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), mv AS (
  SELECT avg(n) AS mu, var_pop(n) AS c0,
         CAST(count(*) AS DOUBLE) AS nd
  FROM daily
), ck AS (
  SELECT k, sum((a.n - mu) * (b.n - mu)) / any_value(nd) AS c
  FROM daily a
  CROSS JOIN (SELECT CAST(unnest(generate_series(1, 2)) AS INT) AS k)
  JOIN daily b ON b.d = a.d + k
  CROSS JOIN mv
  GROUP BY k
), wide AS (
  SELECT nd, c0,
         max(CASE WHEN k = 1 THEN c END) AS c1,
         max(CASE WHEN k = 2 THEN c END) AS c2
  FROM ck CROSS JOIN mv GROUP BY nd, c0
), r AS (SELECT nd, c0, c1 / nullif(c0, 0) AS r1,
                c2 / nullif(c0, 0) AS r2 FROM wide)
SELECT CAST(nd AS BIGINT) AS n_days,
       round(r1, 6) AS r1, round(r2, 6) AS r2,
       round(r1 * (1 - r2) / nullif(1 - r1 * r1, 0), 6) AS phi1,
       round((r2 - r1 * r1) / nullif(1 - r1 * r1, 0), 6) AS phi2,
       round(c0 * (1 - (r1 * (1 - r2) / nullif(1 - r1 * r1, 0)) * r1
                   - ((r2 - r1 * r1) / nullif(1 - r1 * r1, 0)) * r2), 4)
         AS innovation_var
FROM r
"""


# --------------------------------------------------------------------------
# C58. Weekend-vs-weekday activity lift + Welch t — the operational
# readout behind C29's heatmap. Day-of-week comes from the absolute
# day index mod 7 (1995-01-01 is a Sunday: 0=Sun, 6=Sat) — pure
# integer arithmetic, immune to engine/locale dayofweek conventions.
# --------------------------------------------------------------------------

def weekend_lift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_counts(spark, sf_dir)
    wknd = (F.col("d") % 7).isin(0, 6)
    g = (daily.groupBy(wknd.cast("int").alias("is_weekend"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.avg(F.col("n").cast("double")).alias("m"),
                   F.var_samp(F.col("n").cast("double")).alias("v")))
    a = g.where(F.col("is_weekend") == 1).select(
        F.col("n").alias("nw"), F.col("m").alias("mw"),
        F.col("v").alias("vw"))
    b = g.where(F.col("is_weekend") == 0).select(
        F.col("n").alias("nd"), F.col("m").alias("md"),
        F.col("v").alias("vd"))
    se2 = F.col("vw") / F.col("nw") + F.col("vd") / F.col("nd")
    # nullif: two constant arms zero the pooled SE (and a zero weekday
    # mean zeroes the lift denominator) — undefined => NULL, never an
    # ANSI DIVIDE_BY_ZERO job abort
    return (a.crossJoin(b)
             .select(F.col("nw").cast("long").alias("n_weekend_days"),
                     F.col("nd").cast("long").alias("n_weekday_days"),
                     F.round("mw", 4).alias("mean_weekend"),
                     F.round("md", 4).alias("mean_weekday"),
                     F.round(F.col("mw") / F.nullif(F.col("md"),
                                                    F.lit(0.0)), 4)
                      .alias("lift"),
                     F.round((F.col("mw") - F.col("md"))
                             / F.nullif(F.sqrt(se2), F.lit(0.0)), 4)
                      .alias("welch_t")))

WEEKEND_LIFT_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS d,
         count(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), g AS (
  SELECT CASE WHEN d % 7 IN (0, 6) THEN 1 ELSE 0 END AS is_weekend,
         count(*) AS n, avg(n) AS m, var_samp(n) AS v
  FROM daily GROUP BY 1
)
SELECT CAST(a.n AS BIGINT) AS n_weekend_days,
       CAST(b.n AS BIGINT) AS n_weekday_days,
       round(a.m, 4) AS mean_weekend,
       round(b.m, 4) AS mean_weekday,
       round(a.m / nullif(b.m, 0), 4) AS lift,
       round((a.m - b.m) / nullif(sqrt(a.v / a.n + b.v / b.n), 0), 4)
         AS welch_t
FROM g a CROSS JOIN g b
WHERE a.is_weekend = 1 AND b.is_weekend = 0
"""


# --------------------------------------------------------------------------
# C59. Lognormal fit of session durations (the canonical dwell-time
# model): gap-based 30-min sessions (B13's construction), durations
# in exact integer microseconds → seconds, lognormal MLE μ̂ = mean of
# logs, σ̂ = sd of logs (closed form), plus the implied-vs-actual
# mean ratio as the in-query goodness check (exp(μ+σ²/2)/x̄ ≈ 1 iff
# lognormal fits). Zero-duration (single-event) sessions are excluded
# — log undefined — and reported.
# --------------------------------------------------------------------------

def session_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sess = (ev.withColumn("us", us)
              .withColumn("sess_id",
                          F.sum(new_sess).over(
                              w.rowsBetween(Window.unboundedPreceding, 0)))
              .groupBy("user_id", "sess_id")
              .agg(((F.max("us") - F.min("us")) / F.lit(1000000.0))
                   .alias("dur")))
    pos = sess.where(F.col("dur") > 0)
    agg = pos.agg(F.count(F.lit(1)).alias("n_sessions"),
                  F.avg(F.log("dur")).alias("mu"),
                  F.stddev_samp(F.log("dur")).alias("sigma"),
                  F.avg("dur").alias("actual_mean"))
    zero = sess.where(F.col("dur") <= 0).agg(
        F.count(F.lit(1)).alias("n_single_event"))
    implied = F.exp(F.col("mu") + F.col("sigma") * F.col("sigma") / 2)
    return (agg.crossJoin(F.broadcast(zero))
               .select(F.col("n_sessions").cast("long").alias("n_sessions"),
                       F.col("n_single_event").cast("long")
                        .alias("n_single_event"),
                       F.round("mu", 6).alias("mu_log_s"),
                       F.round("sigma", 6).alias("sigma_log_s"),
                       F.round("actual_mean", 4).alias("actual_mean_s"),
                       F.round(implied / F.col("actual_mean"), 4)
                        .alias("implied_over_actual")))

SESSION_LOGNORM_SQL = """
WITH g AS (
  SELECT user_id, ts, event_id, epoch_us(ts) AS us,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                      > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, us,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM g
), sess AS (
  SELECT user_id, sess_id,
         (max(us) - min(us)) / 1000000.0 AS dur
  FROM s GROUP BY 1, 2
), pos AS (
  SELECT count(*) AS n_sessions, avg(ln(dur)) AS mu,
         stddev_samp(ln(dur)) AS sigma, avg(dur) AS actual_mean
  FROM sess WHERE dur > 0
), z AS (SELECT count(*) AS n_single FROM sess WHERE dur <= 0)
SELECT CAST(n_sessions AS BIGINT) AS n_sessions,
       CAST(n_single AS BIGINT) AS n_single_event,
       round(mu, 6) AS mu_log_s,
       round(sigma, 6) AS sigma_log_s,
       round(actual_mean, 4) AS actual_mean_s,
       round(exp(mu + sigma * sigma / 2) / actual_mean, 4)
         AS implied_over_actual
FROM pos CROSS JOIN z
"""


# --------------------------------------------------------------------------
# C60. Haar wavelet detail energy at dyadic scales 2/4/8 days — the
# multi-resolution complement of C55's periodogram (WHERE in time the
# variance lives, by scale band). Each scale's detail coefficient per
# complete 2s-day block is (Σ first s − Σ second s)/√(2s); blocks
# come from integer day-index arithmetic (no windows at all), one
# bounded groupBy per plan.
# --------------------------------------------------------------------------

def wavelet_energy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_counts(spark, sf_dir)
    ex = (daily.select("d", "n",
                       F.explode(F.array(F.lit(2), F.lit(4), F.lit(8)))
                        .alias("s")))
    blk = (ex.groupBy("s", (F.col("d") - (F.col("d") % (2 * F.col("s"))))
                           .alias("block"))
             .agg(F.count(F.lit(1)).alias("nd"),
                  F.sum(F.when(F.col("d") % (2 * F.col("s")) < F.col("s"),
                               F.col("n")).otherwise(0)).alias("s1"),
                  F.sum(F.when(F.col("d") % (2 * F.col("s")) >= F.col("s"),
                               F.col("n")).otherwise(0)).alias("s2")))
    coef = ((F.col("s1") - F.col("s2")).cast("double")
            / F.sqrt(2.0 * F.col("s")))
    return (blk.where(F.col("nd") == 2 * F.col("s"))
               .groupBy("s")
               .agg(F.count(F.lit(1)).alias("n_blocks"),
                    F.round(F.sum(coef * coef), 4).alias("detail_energy"))
               .select(F.col("s").cast("int").alias("scale_days"),
                       "n_blocks", "detail_energy")
               .orderBy("scale_days"))

WAVELET_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS d,
         count(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), ex AS (
  SELECT d, n, s FROM daily
  CROSS JOIN (SELECT unnest([2, 4, 8]) AS s)
), blk AS (
  SELECT s, d - (d % (2 * s)) AS block, count(*) AS nd,
         sum(CASE WHEN d % (2 * s) < s THEN n ELSE 0 END) AS s1,
         sum(CASE WHEN d % (2 * s) >= s THEN n ELSE 0 END) AS s2
  FROM ex GROUP BY 1, 2
)
SELECT CAST(s AS INT) AS scale_days, count(*) AS n_blocks,
       round(sum(((s1 - s2) / sqrt(2.0 * s))
                 * ((s1 - s2) / sqrt(2.0 * s))), 4) AS detail_energy
FROM blk WHERE nd = 2 * s
GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# C61. Partial autocorrelation function, lags 1-3 (Durbin-Levinson
# closed forms) — the AR-order identification companion of C24's ACF
# and C57's AR(2): φ11 = r1, φ22 = (r2−r1²)/(1−r1²), φ33 by the
# explicit order-3 Yule-Walker Cramer solve. Autocovariances are one
# fused lag-join aggregate over the calendar table; everything after
# is scalar algebra on identical inputs.
# --------------------------------------------------------------------------

def pacf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_counts(spark, sf_dir).localCheckpoint(eager=True)
    mv = daily.agg(F.avg(F.col("n").cast("double")).alias("mu"),
                   F.var_pop(F.col("n").cast("double")).alias("c0"),
                   F.count(F.lit(1)).alias("nd"))
    a, b = daily.alias("a"), daily.alias("b")
    ck = (a.select("d", "n",
                   F.explode(F.sequence(F.lit(1), F.lit(3))).alias("k"))
           .join(b, F.col("b.d") == F.col("a.d") + F.col("k"))
           .crossJoin(F.broadcast(mv))
           .groupBy("k")
           .agg((F.sum((F.col("a.n") - F.col("mu"))
                       * (F.col("b.n") - F.col("mu")))
                 / F.first(F.col("nd").cast("double"))).alias("c")))
    wide = (ck.crossJoin(F.broadcast(mv))
              .groupBy("nd", "c0")
              .agg(*[F.max(F.when(F.col("k") == k, F.col("c")))
                     .alias(f"c{k}") for k in (1, 2, 3)]))
    # nullif: a constant series zeroes c0 (and |r1| = 1 zeroes the
    # Durbin-Levinson denominators) — PACF undefined => NULL, never an
    # ANSI DIVIDE_BY_ZERO job abort
    r1 = F.col("c1") / F.nullif(F.col("c0"), F.lit(0.0))
    r2 = F.col("c2") / F.nullif(F.col("c0"), F.lit(0.0))
    r3 = F.col("c3") / F.nullif(F.col("c0"), F.lit(0.0))
    p1 = r1
    p2 = (r2 - r1 * r1) / F.nullif(1 - r1 * r1, F.lit(0.0))
    # order-3 Yule-Walker: φ33 = det(R3 with col3 → r)/det(R3), R3 the
    # symmetric Toeplitz correlation matrix [1 r1 r2; r1 1 r1; r2 r1 1]
    det3 = (1 * (1 - r1 * r1) - r1 * (r1 - r1 * r2)
            + r2 * (r1 * r1 - r2))
    # column-3 replacement [[1,r1,r1],[r1,1,r2],[r2,r1,r3]], expanded
    # along the first row — identical parenthesization in the oracle
    num3 = (1 * (r3 - r2 * r1) - r1 * (r1 * r3 - r2 * r2)
            + r1 * (r1 * r1 - r2))
    p3 = num3 / F.nullif(det3, F.lit(0.0))
    return wide.select(
        F.col("nd").cast("long").alias("n_days"),
        F.round(p1, 6).alias("pacf_1"),
        F.round(p2, 6).alias("pacf_2"),
        F.round(p3, 6).alias("pacf_3"))

PACF_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS d,
         count(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), mv AS (
  SELECT avg(n) AS mu, var_pop(n) AS c0,
         CAST(count(*) AS DOUBLE) AS nd
  FROM daily
), ck AS (
  SELECT k, sum((a.n - mu) * (b.n - mu)) / any_value(nd) AS c
  FROM daily a
  CROSS JOIN (SELECT CAST(unnest(generate_series(1, 3)) AS INT) AS k)
  JOIN daily b ON b.d = a.d + k
  CROSS JOIN mv
  GROUP BY k
), wide AS (
  SELECT nd, c0,
         max(CASE WHEN k = 1 THEN c END) AS c1,
         max(CASE WHEN k = 2 THEN c END) AS c2,
         max(CASE WHEN k = 3 THEN c END) AS c3
  FROM ck CROSS JOIN mv GROUP BY nd, c0
), r AS (
  SELECT nd, c1 / nullif(c0, 0) AS r1, c2 / nullif(c0, 0) AS r2,
         c3 / nullif(c0, 0) AS r3 FROM wide
)
SELECT CAST(nd AS BIGINT) AS n_days,
       round(r1, 6) AS pacf_1,
       round((r2 - r1 * r1) / nullif(1 - r1 * r1, 0), 6) AS pacf_2,
       round((1 * (r3 - r2 * r1) - r1 * (r1 * r3 - r2 * r2)
              + r1 * (r1 * r1 - r2))
             / nullif(1 * (1 - r1 * r1) - r1 * (r1 - r1 * r2)
                + r2 * (r1 * r1 - r2), 0), 6) AS pacf_3
FROM r
"""


# --------------------------------------------------------------------------
# C62. Breusch-Godfrey LM test, lag 1, on the daily-trend residuals —
# the serial-correlation member of the residual-diagnostics family
# (A18b has Durbin-Watson; BG is its regression-form generalization):
# fit n ~ d, regress e_t on (d_t, e_{t−1}), LM = (n−1)·R². The lag
# join is calendar-keyed (d−1), everything on the bounded daily table.
# --------------------------------------------------------------------------

def breusch_godfrey_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (_daily_counts(spark, sf_dir)
             .select(F.col("d").cast("double").alias("d"),
                     F.col("n").cast("double").alias("y"))
             .localCheckpoint(eager=True))
    # nullif: a single-day series zeroes var(d) — the slope (and the
    # dependent statistic) is undefined => NULL, never an ANSI abort
    fit = daily.agg((F.covar_pop("d", "y")
                     / F.nullif(F.var_pop("d"), F.lit(0.0))).alias("b"),
                    F.avg("y").alias("my"), F.avg("d").alias("md"))
    e = (daily.crossJoin(F.broadcast(fit))
              .select("d", (F.col("y") - (F.col("my") + F.col("b")
                                          * (F.col("d") - F.col("md"))))
                      .alias("e")))
    cur, lag = e.alias("cur"), e.alias("lag")
    rows = (cur.join(lag, F.col("lag.d") == F.col("cur.d") - 1)
               .select(F.col("cur.e").alias("u"),
                       F.col("cur.d").alias("z1"),
                       F.col("lag.e").alias("z2")))
    g = rows.agg(F.count(F.lit(1)).alias("n"),
                 F.avg("u").alias("mu"), F.avg("z1").alias("m1"),
                 F.avg("z2").alias("m2"),
                 F.avg(F.col("u") * F.col("u")).alias("ruu"),
                 F.avg(F.col("z1") * F.col("z1")).alias("r11"),
                 F.avg(F.col("z2") * F.col("z2")).alias("r22"),
                 F.avg(F.col("z1") * F.col("z2")).alias("r12"),
                 F.avg(F.col("u") * F.col("z1")).alias("r1u"),
                 F.avg(F.col("u") * F.col("z2")).alias("r2u"))
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
    return g.select(F.col("n").cast("long").alias("n_obs"),
                    F.round(b2, 6).alias("lag_resid_coef"),
                    F.round(r2, 6).alias("r2_aux"),
                    F.round(F.col("n") * r2, 4).alias("bg_lm"))

BREUSCH_GODFREY_SQL = """
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1995-01-01', CAST(ts AS DATE))
              AS DOUBLE) AS d,
         CAST(count(*) AS DOUBLE) AS y
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), fit AS (
  SELECT covar_pop(d, y) / nullif(var_pop(d), 0) AS b,
         avg(y) AS my, avg(d) AS md
  FROM daily
), e AS (
  SELECT d, y - (my + b * (d - md)) AS e FROM daily CROSS JOIN fit
), rows_t AS (
  SELECT cur.e AS u, cur.d AS z1, lag.e AS z2
  FROM e cur JOIN e lag ON lag.d = cur.d - 1
), g AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         avg(u) AS mu, avg(z1) AS m1, avg(z2) AS m2,
         avg(u * u) AS ruu, avg(z1 * z1) AS r11, avg(z2 * z2) AS r22,
         avg(z1 * z2) AS r12, avg(u * z1) AS r1u, avg(u * z2) AS r2u
  FROM rows_t
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
SELECT CAST(n AS BIGINT) AS n_obs,
       round(b2, 6) AS lag_resid_coef,
       round((b1 * s1u + b2 * s2u) / nullif(suu, 0), 6) AS r2_aux,
       round(n * (b1 * s1u + b2 * s2u) / nullif(suu, 0), 4) AS bg_lm
FROM fit2
"""


# --------------------------------------------------------------------------
# C63. Spectral entropy of the daily series (forecastability index —
# white noise → entropy 1, a pure cycle → 0): C55's periodogram
# powers at periods 2..14, normalized to a distribution, Shannon
# entropy over it scaled by ln(#frequencies). Same bounded trig-sum
# plan; one row out.
# --------------------------------------------------------------------------

def spectral_entropy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math
    daily = _daily_counts(spark, sf_dir)
    mv = daily.agg(F.avg(F.col("n").cast("double")).alias("mu"),
                   F.count(F.lit(1)).alias("nd"))
    x = F.col("n").cast("double") - F.col("mu")
    theta = 2.0 * math.pi * F.col("d") / F.col("period")
    per = (daily.crossJoin(F.broadcast(mv))
                .select("d", "n", "mu", "nd",
                        F.explode(F.sequence(F.lit(2), F.lit(14)))
                         .alias("period"))
                .groupBy("period")
                .agg((F.sum(x * F.cos(theta)) * F.sum(x * F.cos(theta))
                      + F.sum(x * F.sin(theta)) * F.sum(x * F.sin(theta)))
                     .alias("pw")))
    tot = per.agg(F.sum("pw").alias("tp"), F.count(F.lit(1)).alias("nf"))
    # nullif: a constant series has zero total spectral power — the
    # distribution (and its entropy) is undefined => NULL, never an
    # ANSI DIVIDE_BY_ZERO job abort
    p = F.col("pw") / F.nullif(F.col("tp"), F.lit(0.0))
    ent = (per.crossJoin(F.broadcast(tot))
              .agg(F.first("nf").alias("nf"),
                   F.sum(-p * F.log(p)).alias("h")))
    return ent.select(
        F.col("nf").cast("int").alias("n_frequencies"),
        F.round("h", 6).alias("entropy_nats"),
        F.round(F.col("h") / F.log(F.col("nf").cast("double")), 6)
         .alias("spectral_entropy_norm"))

SPECTRAL_ENTROPY_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS d,
         count(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), mv AS (SELECT avg(n) AS mu FROM daily),
per AS (
  SELECT period,
         pow(sum((n - mu) * cos(2 * pi() * d / period)), 2)
         + pow(sum((n - mu) * sin(2 * pi() * d / period)), 2) AS pw
  FROM daily CROSS JOIN mv
  CROSS JOIN (SELECT CAST(unnest(generate_series(2, 14)) AS INT)
              AS period)
  GROUP BY period
), tot AS (SELECT sum(pw) AS tp, count(*) AS nf FROM per)
SELECT CAST(any_value(nf) AS INT) AS n_frequencies,
       round(sum(-(pw / nullif(tp, 0)) * ln(pw / nullif(tp, 0))), 6)
         AS entropy_nats,
       round(sum(-(pw / nullif(tp, 0)) * ln(pw / nullif(tp, 0)))
             / ln(CAST(any_value(nf) AS DOUBLE)), 6)
         AS spectral_entropy_norm
FROM per CROSS JOIN tot
"""


# --------------------------------------------------------------------------
# C64. Engle's ARCH LM test, lag 1 (Engle 1982) — volatility
# clustering in the daily series: regress squared detrended residuals
# on their own lag, LM = n·R². The volatility companion of C62's
# Breusch-Godfrey (which tests the residual LEVEL); same
# calendar-keyed lag join, closed simple-regression R².
# --------------------------------------------------------------------------

def arch_lm_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (_daily_counts(spark, sf_dir)
             .select(F.col("d").cast("double").alias("d"),
                     F.col("n").cast("double").alias("y"))
             .localCheckpoint(eager=True))
    # nullif: a single-day series zeroes var(d) — the slope (and the
    # dependent statistic) is undefined => NULL, never an ANSI abort
    fit = daily.agg((F.covar_pop("d", "y")
                     / F.nullif(F.var_pop("d"), F.lit(0.0))).alias("b"),
                    F.avg("y").alias("my"), F.avg("d").alias("md"))
    e2 = (daily.crossJoin(F.broadcast(fit))
               .select("d", F.pow(F.col("y") - (F.col("my") + F.col("b")
                                                * (F.col("d") - F.col("md"))),
                                  2).alias("u")))
    cur, lag = e2.alias("cur"), e2.alias("lag")
    rows = (cur.join(lag, F.col("lag.d") == F.col("cur.d") - 1)
               .select(F.col("cur.u").alias("u"),
                       F.col("lag.u").alias("ul")))
    # safe_corr: constant squared residuals have zero variance — the
    # LM statistic is undefined => NULL, never an ANSI abort
    g = rows.agg(F.count(F.lit(1)).alias("n"),
                 stats.safe_corr("u", "ul").alias("r"))
    return g.select(F.col("n").cast("long").alias("n_obs"),
                    F.round("r", 6).alias("lag1_corr_sq_resid"),
                    F.round(F.col("n") * F.col("r") * F.col("r"), 4)
                     .alias("arch_lm"))

ARCH_LM_SQL = """
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1995-01-01', CAST(ts AS DATE))
              AS DOUBLE) AS d,
         CAST(count(*) AS DOUBLE) AS y
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), fit AS (
  SELECT covar_pop(d, y) / nullif(var_pop(d), 0) AS b,
         avg(y) AS my, avg(d) AS md
  FROM daily
), e2 AS (
  SELECT d, pow(y - (my + b * (d - md)), 2) AS u
  FROM daily CROSS JOIN fit
), rows_t AS (
  SELECT cur.u AS u, lag.u AS ul
  FROM e2 cur JOIN e2 lag ON lag.d = cur.d - 1
), g AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                covar_samp(u, ul)
                  / nullif(stddev_samp(u) * stddev_samp(ul), 0) AS r
         FROM rows_t)
SELECT CAST(n AS BIGINT) AS n_obs,
       round(r, 6) AS lag1_corr_sq_resid,
       round(n * r * r, 4) AS arch_lm
FROM g
"""


# --------------------------------------------------------------------------
# C65. Month-over-month population stability index of the order-value
# distribution (the TEMPORAL drift monitor — B26's PSI watches
# sources; this watches time, the standard model-monitoring setup):
# PSI of each month's value-band mix against the PREVIOUS month.
# Bands are fixed-width (deterministic); the month×band grid is
# calendar-bounded, the month self-join is on the tiny aggregate.
# Laplace-smoothed shares so empty bands stay finite.
# --------------------------------------------------------------------------

def psi_monthly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (load_table(spark, sf_dir, "orders")
         .where(F.col("o_orderdate").isNotNull()))
    month = F.trunc("o_orderdate", "month")
    band = F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(9))
    cells = (o.groupBy(month.alias("m"), band.alias("b"))
              .agg(F.count(F.lit(1)).alias("n")))
    tot = cells.groupBy("m").agg(F.sum("n").alias("nm"))
    grid = (tot.crossJoin(F.broadcast(
                cells.select("b").distinct()))
               .join(cells, ["m", "b"], "left")
               .withColumn("n", F.coalesce("n", F.lit(0)))
               .withColumn("p", (F.col("n") + 0.5)
                           / (F.col("nm") + 5.0)))
    cur, prev = grid.alias("cur"), grid.alias("prev")
    j = cur.join(prev, (F.col("prev.m") == F.add_months(F.col("cur.m"), -1))
                 & (F.col("prev.b") == F.col("cur.b")))
    term = ((F.col("cur.p") - F.col("prev.p"))
            * F.log(F.col("cur.p") / F.col("prev.p")))
    return (j.groupBy(F.date_format(F.col("cur.m"), "yyyy-MM")
                       .alias("month"))
             .agg(F.first(F.col("cur.nm")).alias("n_orders"),
                  F.round(F.sum(term), 6).alias("psi_vs_prev_month"))
             .orderBy("month"))

PSI_MONTHLY_SQL = """
WITH cells AS (
  SELECT date_trunc('month', o_orderdate) AS m,
         least(floor(o_totalprice / 50000), 9) AS b,
         count(*) AS n
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
), tot AS (SELECT m, sum(n) AS nm FROM cells GROUP BY 1),
grid AS (
  SELECT t.m, bb.b, t.nm, coalesce(c.n, 0) AS n,
         (coalesce(c.n, 0) + 0.5) / (t.nm + 5.0) AS p
  FROM tot t CROSS JOIN (SELECT DISTINCT b FROM cells) bb
  LEFT JOIN cells c ON c.m = t.m AND c.b = bb.b
)
SELECT strftime(cur.m, '%Y-%m') AS month,
       CAST(any_value(cur.nm) AS BIGINT) AS n_orders,
       round(sum((cur.p - prev.p) * ln(cur.p / prev.p)), 6)
         AS psi_vs_prev_month
FROM grid cur JOIN grid prev
  ON prev.m = cur.m - INTERVAL 1 MONTH AND prev.b = cur.b
GROUP BY cur.m ORDER BY month
"""


# --------------------------------------------------------------------------
# C66. Records test for trend (Foster-Stuart family): the count of
# strict running-maximum days in the daily series vs the iid
# expectation H_n (harmonic number) — a distribution-free trend
# check next to C44's Mann-Kendall. The running max is computed with
# the range-partition + broadcast-prefix construction (per-partition
# cummax in parallel, #partitions-bounded offset frame) — never a
# single-task global window.
# --------------------------------------------------------------------------

def records_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_counts(spark, sf_dir)
    d = (daily.repartitionByRange(F.col("d"))
              .withColumn("__pid", F.spark_partition_id()))
    wl = (Window.partitionBy("__pid").orderBy("d")
          .rowsBetween(Window.unboundedPreceding, -1))
    local = d.withColumn("__prevmax", F.max("n").over(wl)) \
             .localCheckpoint(eager=True)  # pin ONE evaluation (__pid
    # offset-join class fix, round 5 — see stats.tie_avg_ranks)
    wo = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    off = (local.groupBy("__pid").agg(F.max("n").alias("__t"))
           .withColumn("__offmax", F.max("__t").over(wo)))
    j = local.join(F.broadcast(off.select("__pid", "__offmax")), "__pid")
    prev = F.greatest(F.coalesce("__prevmax", F.lit(float("-inf"))),
                      F.coalesce("__offmax", F.lit(float("-inf"))))
    agg = j.agg(F.count(F.lit(1)).alias("n_days"),
                F.sum((F.col("n") > prev).cast("int")).alias("n_records"))
    row = agg.collect()[0]
    nd, nr = row["n_days"], row["n_records"]
    h = sum(1.0 / k for k in range(1, nd + 1))
    h2 = sum(1.0 / (k * k) for k in range(1, nd + 1))
    var = h - h2
    z = (nr - h) / (var ** 0.5) if var > 0 else None
    spark_ = spark
    return spark_.createDataFrame(
        [(int(nd), int(nr), round(h, 4),
          round(z, 4) if z is not None else None)],
        "n_days long, n_records long, expected_records double, "
        "z_stat double")

RECORDS_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS d,
         count(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), rm AS (
  SELECT d, n,
         max(n) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING) AS prevmax
  FROM daily
), cnt AS (
  SELECT count(*) AS nd,
         sum(CASE WHEN prevmax IS NULL OR n > prevmax
             THEN 1 ELSE 0 END) AS nr
  FROM rm
), h AS (
  SELECT sum(1.0 / k) AS h1, sum(1.0 / (k * k)) AS h2
  FROM (SELECT unnest(range(1, (SELECT nd FROM cnt) + 1)) AS k)
)
SELECT CAST(nd AS BIGINT) AS n_days, CAST(nr AS BIGINT) AS n_records,
       round(h1, 4) AS expected_records,
       round((nr - h1) / sqrt(h1 - h2), 4) AS z_stat
FROM cnt CROSS JOIN h
"""


# --------------------------------------------------------------------------
# C67. Event-type co-occurrence within sessions (support + lift over
# B13's gap sessions — the behavioral twin of A78's order-basket
# lift): which event types appear in the SAME session more often
# than independence predicts? Session ids ride the per-user
# cumulative-break window; everything after the distinct
# (session, type) shuffle is an |event-types|²-bounded join.
# --------------------------------------------------------------------------

def session_event_cooccurrence(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1) \
        .otherwise(0)
    st = (ev.withColumn("sess",
                        F.sum(new_sess).over(
                            w.rowsBetween(Window.unboundedPreceding, 0)))
            .select("user_id", "sess", "event_type").distinct()
            .localCheckpoint(eager=True))
    nsess = st.select("user_id", "sess").distinct().count()
    per = st.groupBy("event_type").agg(F.count(F.lit(1)).alias("nt"))
    a = st.select("user_id", "sess", F.col("event_type").alias("ta"))
    b = st.select("user_id", "sess", F.col("event_type").alias("tb"))
    pairs = (a.join(b, ["user_id", "sess"])
              .where(F.col("ta") < F.col("tb"))
              .groupBy("ta", "tb").agg(F.count(F.lit(1)).alias("n_both")))
    pa = per.select(F.col("event_type").alias("ta"),
                    F.col("nt").alias("na"))
    pb = per.select(F.col("event_type").alias("tb"),
                    F.col("nt").alias("nb"))
    j = pairs.join(F.broadcast(pa), "ta").join(F.broadcast(pb), "tb")
    ns = float(nsess)
    lift = (F.col("n_both") / F.lit(ns)) \
        / ((F.col("na") / F.lit(ns)) * (F.col("nb") / F.lit(ns)))
    return (j.select(F.col("ta").alias("type_a"),
                     F.col("tb").alias("type_b"),
                     "n_both",
                     F.round(F.col("n_both") / F.lit(ns), 6)
                      .alias("support"),
                     F.round(lift, 4).alias("lift"))
             .orderBy("type_a", "type_b"))

SESSION_COOC_SQL = """
WITH g AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                      > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT DISTINCT user_id, event_type,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess
  FROM g
), ns AS (SELECT CAST(count(DISTINCT (user_id, sess)) AS DOUBLE) AS n
          FROM s),
per AS (SELECT event_type, count(*) AS nt FROM s GROUP BY 1),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*) AS n_both
  FROM s a JOIN s b ON a.user_id = b.user_id AND a.sess = b.sess
  WHERE a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_both,
       round(n_both / n, 6) AS support,
       round((n_both / n) / ((pa.nt / n) * (pb.nt / n)), 4) AS lift
FROM pairs CROSS JOIN ns
JOIN per pa ON pa.event_type = type_a
JOIN per pb ON pb.event_type = type_b
ORDER BY type_a, type_b
"""


# --------------------------------------------------------------------------
# C68. Hour-of-day concentration per event type: Shannon entropy of
# each type's 24-bucket hourly profile (normalized by ln 24) plus its
# peak hour — which behaviors are clock-driven? Hour comes from the
# absolute microsecond timestamp (engine-timezone-free integer
# arithmetic); the profile table is |types|×24.
# --------------------------------------------------------------------------

def hourly_entropy_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    hour = F.floor(F.unix_micros("ts") / F.lit(3600 * 1_000_000)) % 24
    cells = (ev.groupBy("event_type", hour.cast("int").alias("h"))
               .agg(F.count(F.lit(1)).alias("c")))
    tot = cells.groupBy("event_type").agg(F.sum("c").alias("nt"))
    j = cells.join(tot, "event_type")
    p = F.col("c") / F.col("nt").cast("double")
    wpk = Window.partitionBy("event_type").orderBy(F.desc("c"), "h")
    ent = (j.groupBy("event_type")
            .agg(F.first("nt").alias("n_events"),
                 F.round(F.sum(-p * F.log(p)) / math.log(24.0), 6)
                  .alias("hourly_entropy_norm")))
    peak = (j.withColumn("__r", F.row_number().over(wpk))
             .where(F.col("__r") == 1)
             .select("event_type", F.col("h").alias("peak_hour"),
                     F.round(F.col("c") / F.col("nt").cast("double"), 6)
                      .alias("peak_hour_share")))
    return (ent.join(peak, "event_type")
               .select("event_type",
                       F.col("n_events").cast("long").alias("n_events"),
                       "hourly_entropy_norm", "peak_hour",
                       "peak_hour_share")
               .orderBy("event_type"))

HOURLY_ENTROPY_SQL = """
WITH cells AS (
  SELECT event_type,
         CAST(floor(epoch_us(ts) / 3600000000.0) % 24 AS INT) AS h,
         count(*) AS c
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), tot AS (SELECT event_type, sum(c) AS nt FROM cells GROUP BY 1),
j AS (SELECT cells.*, nt FROM cells JOIN tot USING (event_type)),
ent AS (
  SELECT event_type, any_value(nt) AS n_events,
         round(sum(-(c / CAST(nt AS DOUBLE))
                   * ln(c / CAST(nt AS DOUBLE))) / ln(24.0), 6)
           AS hourly_entropy_norm
  FROM j GROUP BY 1
), peak AS (
  SELECT event_type, h AS peak_hour,
         round(c / CAST(nt AS DOUBLE), 6) AS peak_hour_share
  FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY c DESC, h) AS r FROM j)
  WHERE r = 1
)
SELECT event_type, CAST(n_events AS BIGINT) AS n_events,
       hourly_entropy_norm, peak_hour, peak_hour_share
FROM ent JOIN peak USING (event_type)
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# C69. Repeat-purchase cadence: exact quantiles of per-user gaps
# between consecutive PURCHASE events (the replenishment-cycle
# readout behind C40's LTV). Gaps are exact integer microseconds →
# days; quantiles use the exact interpolated percentile on the gap
# multiset (identical definition in both engines).
# --------------------------------------------------------------------------

def purchase_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("ts").isNotNull()
                 & (F.col("event_type") == "purchase")))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_days = ((F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
                / F.lit(86400.0 * 1_000_000)).alias("g")
    gaps = (ev.select("user_id", gap_days)
              .where(F.col("g").isNotNull()))
    return gaps.agg(
        F.countDistinct("user_id").cast("long")
         .alias("n_repeat_purchasers"),
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.round(F.percentile("g", F.lit(0.5)), 4)
         .alias("median_gap_days"),
        F.round(F.percentile("g", F.lit(0.9)), 4).alias("p90_gap_days"),
        F.round(F.avg("g"), 4).alias("mean_gap_days"))

PURCHASE_CADENCE_SQL = """
WITH p AS (
  SELECT user_id, ts, event_id FROM events
  WHERE ts IS NOT NULL AND event_type = 'purchase'
), gaps AS (
  SELECT user_id,
         (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id)))
         / 86400000000.0 AS g
  FROM p
), nz AS (SELECT user_id, g FROM gaps WHERE g IS NOT NULL)
SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_repeat_purchasers,
       CAST(count(*) AS BIGINT) AS n_gaps,
       round(quantile_cont(g, 0.5), 4) AS median_gap_days,
       round(quantile_cont(g, 0.9), 4) AS p90_gap_days,
       round(avg(g), 4) AS mean_gap_days
FROM nz
"""


# --------------------------------------------------------------------------
# C70. Kendall's W coefficient of concordance over week×dow blocks
# (Kendall-Babington Smith 1939): W = Q/(n(k−1)) — the EFFECT-SIZE
# normalization of C51's Friedman Q (how strongly do weeks agree on
# the weekly shape, 0..1). Identical complete-week rank construction
# (7-row per-week windows, scale-safe by construction).
# --------------------------------------------------------------------------

def kendalls_w_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = (ev.groupBy(F.to_date("ts").alias("day"))
               .agg(F.count(F.lit(1)).cast("double").alias("y")))
    d = daily.select(
        "y", F.weekofyear("day").alias("wk"),
        F.year("day").alias("yr"),
        ((F.dayofweek("day") + 5) % 7 + 1).alias("dow"))
    blocks = (d.groupBy("yr", "wk")
                .agg(F.count(F.lit(1)).alias("ndays")))
    full = d.join(F.broadcast(blocks.where(F.col("ndays") == 7)
                              .select("yr", "wk")), ["yr", "wk"])
    wb = Window.partitionBy("yr", "wk").orderBy("y", "dow")
    ranked = full.withColumn("r", F.row_number().over(wb))
    per_dow = ranked.groupBy("dow").agg(F.sum("r").alias("rsum"))
    tot = ranked.agg(F.countDistinct("yr", "wk").alias("n"))
    k = 7
    n = F.max("n").cast("double")
    q = (per_dow.crossJoin(F.broadcast(tot))
         .agg(F.max("n").alias("n_blocks"),
              (12.0 / (n * k * (k + 1))
               * F.sum(F.col("rsum") * F.col("rsum"))
               - 3.0 * n * (k + 1)).alias("__q")))
    return q.select(
        F.col("n_blocks").cast("long").alias("n_blocks"),
        F.lit(k).alias("k_treatments"),
        F.round("__q", 4).alias("friedman_q"),
        F.round(F.col("__q") / (F.col("n_blocks") * (k - 1)), 6)
         .alias("kendalls_w"))

KENDALLS_W_SQL = """
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
), per_dow AS (SELECT dow, sum(r) AS rsum FROM ranked GROUP BY 1),
tot AS (SELECT count(*) AS n FROM blocks),
q AS (
  SELECT any_value(n) AS n_blocks,
         12.0 / (any_value(n) * 7 * 8) * sum(rsum * rsum)
         - 3.0 * any_value(n) * 8 AS qq
  FROM per_dow CROSS JOIN tot
)
SELECT CAST(n_blocks AS BIGINT) AS n_blocks,
       7 AS k_treatments,
       round(qq, 4) AS friedman_q,
       round(qq / (n_blocks * 6), 6) AS kendalls_w
FROM q
"""


# --------------------------------------------------------------------------
# C71. Conversion rate by session depth (the engagement-funnel
# readout: do longer sessions convert more?): B13's gap sessions
# bucketed by event count; per bucket, the share of sessions
# containing a purchase. Session stats collapse in the same per-user
# window pass; the bucket table is ≤#buckets rows.
# --------------------------------------------------------------------------

def conversion_by_session_depth(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1) \
        .otherwise(0)
    sess = (ev.withColumn("sess",
                          F.sum(new_sess).over(
                              w.rowsBetween(Window.unboundedPreceding,
                                            0)))
              .groupBy("user_id", "sess")
              .agg(F.count(F.lit(1)).alias("depth"),
                   F.max((F.col("event_type") == "purchase")
                         .cast("int")).alias("converted")))
    bucket = (F.when(F.col("depth") == 1, "1")
               .when(F.col("depth") <= 2, "2")
               .when(F.col("depth") <= 4, "3-4")
               .when(F.col("depth") <= 8, "5-8")
               .otherwise("9+"))
    return (sess.groupBy(bucket.alias("depth_bucket"))
                .agg(F.count(F.lit(1)).alias("n_sessions"),
                     F.sum("converted").alias("n_converted"),
                     F.round(F.avg(F.col("converted").cast("double")), 6)
                      .alias("conversion_rate"))
                .orderBy("depth_bucket"))

CONVERSION_DEPTH_SQL = """
WITH g AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                      > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, event_type,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess
  FROM g
), sess AS (
  SELECT user_id, sess, count(*) AS depth,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM s GROUP BY 1, 2
), b AS (
  SELECT CASE WHEN depth = 1 THEN '1' WHEN depth <= 2 THEN '2'
              WHEN depth <= 4 THEN '3-4' WHEN depth <= 8 THEN '5-8'
              ELSE '9+' END AS depth_bucket,
         converted
  FROM sess
)
SELECT depth_bucket, count(*) AS n_sessions,
       CAST(sum(converted) AS BIGINT) AS n_converted,
       round(avg(CAST(converted AS DOUBLE)), 6) AS conversion_rate
FROM b GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# C72. Generalized ESD multi-outlier test, 3 rounds (Rosner 1983) on
# the daily count series — the multi-outlier upgrade of C34's
# single-Grubbs: each round reports the most extreme remaining day's
# studentized deviation and removes it. Each round is one bounded
# aggregate + one deterministic argmax (|z| DESC, day ASC) over the
# ≤#days table; the oracle unrolls the same three rounds as CTEs.
# --------------------------------------------------------------------------

def generalized_esd_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_counts(spark, sf_dir).localCheckpoint(eager=True)
    rows = []
    cur = daily
    for r in range(1, 4):
        mv = cur.agg(F.avg(F.col("n").cast("double")).alias("mu"),
                     F.stddev_samp(F.col("n").cast("double")).alias("sd"))
        # nullif: a constant remaining series has sd = 0 — R undefined
        # => NULL row (desc NULLs sort last in both engines, so the
        # deterministic d-asc tiebreak picks the same day)
        top = (cur.crossJoin(F.broadcast(mv))
                  .withColumn("__z", F.abs(F.col("n") - F.col("mu"))
                              / F.nullif(F.col("sd"), F.lit(0.0)))
                  .orderBy(F.desc("__z"), "d").limit(1)
                  .collect()[0])
        rows.append((r, int(top["d"]), int(top["n"]),
                     round(float(top["__z"]), 4)
                     if top["__z"] is not None else None))
        cur = cur.where(F.col("d") != int(top["d"]))
    return spark.createDataFrame(
        rows, "round int, day_index long, count long, r_stat double")

ESD_SQL = """
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', CAST(ts AS DATE)) AS d,
         count(*) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), m1 AS (SELECT avg(n) AS mu, stddev_samp(n) AS sd FROM daily),
t1 AS (
  SELECT d, n, abs(n - mu) / nullif(sd, 0) AS z FROM daily CROSS JOIN m1
  ORDER BY z DESC, d LIMIT 1
), d2 AS (SELECT * FROM daily WHERE d <> (SELECT d FROM t1)),
m2 AS (SELECT avg(n) AS mu, stddev_samp(n) AS sd FROM d2),
t2 AS (
  SELECT d, n, abs(n - mu) / nullif(sd, 0) AS z FROM d2 CROSS JOIN m2
  ORDER BY z DESC, d LIMIT 1
), d3 AS (SELECT * FROM d2 WHERE d <> (SELECT d FROM t2)),
m3 AS (SELECT avg(n) AS mu, stddev_samp(n) AS sd FROM d3),
t3 AS (
  SELECT d, n, abs(n - mu) / nullif(sd, 0) AS z FROM d3 CROSS JOIN m3
  ORDER BY z DESC, d LIMIT 1
)
SELECT 1 AS round, CAST(d AS BIGINT) AS day_index,
       CAST(n AS BIGINT) AS count, round(z, 4) AS r_stat FROM t1
UNION ALL
SELECT 2, CAST(d AS BIGINT), CAST(n AS BIGINT), round(z, 4) FROM t2
UNION ALL
SELECT 3, CAST(d AS BIGINT), CAST(n AS BIGINT), round(z, 4) FROM t3
"""


# --------------------------------------------------------------------------
# C73. Retention half-life (exponential-decay fit to the pooled
# retention curve — the single-number summary of C13's cohort
# matrix): pooled retention r(w) = active users at offset w / cohort
# size, log-linear fit ln r ~ w over offsets ≥ 1 (closed simple-OLS
# form on the ≤#weeks curve), half-life = −ln 2 / slope.
# --------------------------------------------------------------------------

def retention_half_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id")
    d = (ev.withColumn("first_ts", F.min("ts").over(w))
           .select("user_id",
                   F.date_format(F.date_trunc("week", "first_ts"),
                                 "yyyy-MM-dd").alias("cw"),
                   ((F.datediff(F.date_trunc("week", "ts").cast("date"),
                                F.date_trunc("week", "first_ts")
                                .cast("date")) / 7)
                    .cast("long").alias("wo"))))
    cells = (d.groupBy("cw", "wo")
              .agg(F.countDistinct("user_id").alias("nu")))
    base = (cells.where(F.col("wo") == 0)
                 .select(F.col("cw").alias("cwb"),
                         F.col("nu").alias("n0")))
    curve = (cells.join(base, cells.cw == base.cwb)
                  .groupBy("wo")
                  .agg(F.sum("nu").alias("active"),
                       F.sum("n0").alias("base")))
    pts = (curve.where(F.col("wo") >= 1)
                .select(F.col("wo").cast("double").alias("x"),
                        F.log(F.col("active")
                              / F.col("base").cast("double")).alias("y")))
    # a one-offset curve has var(x)=0: propagate NULL (matching the
    # oracle's CASE) instead of an ANSI divide-by-zero
    g = pts.agg(F.count(F.lit(1)).alias("n"),
                F.covar_pop("x", "y").alias("cxy"),
                F.var_pop("x").alias("vx"))
    # try_divide, not CASE: common-subexpression elimination hoists a
    # CASE-guarded division out of its branch under ANSI (the logrank
    # lesson); try_divide yields NULL exactly like the oracle's CASE
    slope = F.try_divide(F.col("cxy"), F.col("vx"))
    hl = F.try_divide(F.lit(-0.6931471805599453), slope)
    return g.select(F.col("n").cast("int").alias("n_offsets"),
                    F.round(slope, 6).alias("log_decay_slope"),
                    F.round(hl, 4).alias("half_life_weeks"))

RETENTION_HL_SQL = """
WITH d AS (
  SELECT user_id, ts, min(ts) OVER (PARTITION BY user_id) AS first_ts
  FROM events WHERE ts IS NOT NULL
), g AS (
  SELECT user_id,
         strftime(date_trunc('week', first_ts), '%Y-%m-%d') AS cw,
         CAST(datediff('day', CAST(date_trunc('week', first_ts) AS DATE),
                       CAST(date_trunc('week', ts) AS DATE)) / 7
              AS BIGINT) AS wo
  FROM d
), cells AS (
  SELECT cw, wo, count(DISTINCT user_id) AS nu FROM g GROUP BY 1, 2
), base AS (SELECT cw, nu AS n0 FROM cells WHERE wo = 0),
curve AS (
  SELECT wo, sum(nu) AS active, sum(n0) AS base
  FROM cells JOIN base USING (cw)
  GROUP BY 1
), pts AS (
  SELECT CAST(wo AS DOUBLE) AS x,
         ln(active / CAST(base AS DOUBLE)) AS y
  FROM curve WHERE wo >= 1
), f AS (
  SELECT count(*) AS n,
         CASE WHEN var_pop(x) > 0
              THEN covar_pop(x, y) / var_pop(x) END AS slope
  FROM pts
)
SELECT CAST(n AS INT) AS n_offsets,
       round(slope, 6) AS log_decay_slope,
       round(-0.6931471805599453 / slope, 4) AS half_life_weeks
FROM f
"""


# --------------------------------------------------------------------------
# C74. Wilson score intervals for per-event-type reach (Wilson 1927 —
# the CI that stays inside [0,1], unlike the Wald interval A18h
# implies): share of users who ever fired each event type, with 95%
# Wilson bounds. One distinct shuffle; closed forms per type.
# --------------------------------------------------------------------------

def wilson_ci_event_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    nu = ev.agg(F.countDistinct("user_id").alias("nu"))
    per = (ev.select("event_type", "user_id").distinct()
             .groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("k")))
    z = 1.959964
    j = per.crossJoin(F.broadcast(nu))
    n = F.col("nu").cast("double")
    p = F.col("k") / n
    den = 1 + z * z / n
    ctr = (p + z * z / (2 * n)) / den
    hw = z / den * F.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
    return (j.select("event_type",
                     F.col("k").cast("long").alias("n_users_reached"),
                     F.col("nu").cast("long").alias("n_users_total"),
                     F.round(p, 6).alias("reach"),
                     F.round(ctr - hw, 6).alias("wilson_lo"),
                     F.round(ctr + hw, 6).alias("wilson_hi"))
             .orderBy("event_type"))

WILSON_CI_SQL = """
WITH nu AS (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS nu
            FROM events WHERE ts IS NOT NULL),
per AS (
  SELECT event_type, count(DISTINCT user_id) AS k
  FROM events WHERE ts IS NOT NULL GROUP BY 1
)
SELECT event_type,
       CAST(k AS BIGINT) AS n_users_reached,
       CAST(nu AS BIGINT) AS n_users_total,
       round(k / nu, 6) AS reach,
       round(((k / nu + 1.959964 * 1.959964 / (2 * nu))
              - 1.959964 * sqrt((k / nu) * (1 - k / nu) / nu
                                + 1.959964 * 1.959964
                                  / (4 * nu * nu)))
             / (1 + 1.959964 * 1.959964 / nu), 6) AS wilson_lo,
       round(((k / nu + 1.959964 * 1.959964 / (2 * nu))
              + 1.959964 * sqrt((k / nu) * (1 - k / nu) / nu
                                + 1.959964 * 1.959964
                                  / (4 * nu * nu)))
             / (1 + 1.959964 * 1.959964 / nu), 6) AS wilson_hi
FROM per CROSS JOIN nu
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# C75. Newey-West (HAC, lag 1) trend inference for the daily linear
# fit (Newey-West 1987): the naive OLS slope SE understates
# uncertainty when residuals autocorrelate (C62/C64 test exactly
# that); the Bartlett-weighted lag-1 correction fixes the t-stat.
# Var(β̂) = (Σv²)⁻²[Σv²e² + 2·½·Σ vₜeₜvₜ₋₁eₜ₋₁], v = d − d̄ — one
# moment pass + one calendar-keyed lag join on the bounded daily
# table.
# --------------------------------------------------------------------------

def newey_west_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (_daily_counts(spark, sf_dir)
             .select(F.col("d").cast("double").alias("d"),
                     F.col("n").cast("double").alias("y"))
             .localCheckpoint(eager=True))
    # nullif: a single-day series zeroes var(d) — the slope (and the
    # dependent statistic) is undefined => NULL, never an ANSI abort
    fit = daily.agg((F.covar_pop("d", "y")
                     / F.nullif(F.var_pop("d"), F.lit(0.0))).alias("b"),
                    F.avg("y").alias("my"), F.avg("d").alias("md"))
    ve = (daily.crossJoin(F.broadcast(fit))
               .select("d", F.col("b").alias("b"),
                       (F.col("d") - F.col("md")).alias("v"),
                       (F.col("y") - (F.col("my") + F.col("b")
                                      * (F.col("d") - F.col("md"))))
                       .alias("e")))
    cur, lag = ve.alias("cur"), ve.alias("lag")
    cross = (cur.join(lag, F.col("lag.d") == F.col("cur.d") - 1)
                .agg(F.sum(F.col("cur.v") * F.col("cur.e")
                           * F.col("lag.v") * F.col("lag.e"))
                      .alias("s1")))
    base = ve.agg(F.count(F.lit(1)).alias("n"),
                  F.first("b").alias("b"),
                  F.sum(F.col("v") * F.col("v")).alias("svv"),
                  F.sum(F.col("v") * F.col("v") * F.col("e") * F.col("e"))
                   .alias("s0"))
    j = base.crossJoin(F.broadcast(cross))
    # nullif: a single-day series zeroes Σv² and zero residuals zero
    # the HAC variance — SEs/t undefined => NULL, never an ANSI abort
    svv2 = F.nullif(F.col("svv") * F.col("svv"), F.lit(0.0))
    var_hac = (F.col("s0") + 2 * 0.5 * F.col("s1")) / svv2
    var_naive = F.col("s0") / svv2
    return j.select(
        F.col("n").cast("long").alias("n_days"),
        F.round("b", 6).alias("slope"),
        F.round(F.sqrt(var_naive), 6).alias("se_white"),
        F.round(F.sqrt(var_hac), 6).alias("se_newey_west"),
        F.round(F.col("b") / F.nullif(F.sqrt(var_hac), F.lit(0.0)), 4)
         .alias("t_hac"))

NEWEY_WEST_SQL = """
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1995-01-01', CAST(ts AS DATE))
              AS DOUBLE) AS d,
         CAST(count(*) AS DOUBLE) AS y
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), fit AS (
  SELECT covar_pop(d, y) / nullif(var_pop(d), 0) AS b,
         avg(y) AS my, avg(d) AS md
  FROM daily
), ve AS (
  SELECT d, b, d - md AS v, y - (my + b * (d - md)) AS e
  FROM daily CROSS JOIN fit
), cross_t AS (
  SELECT sum(cur.v * cur.e * lag.v * lag.e) AS s1
  FROM ve cur JOIN ve lag ON lag.d = cur.d - 1
), base AS (
  SELECT count(*) AS n, any_value(b) AS b,
         sum(v * v) AS svv, sum(v * v * e * e) AS s0
  FROM ve
)
SELECT CAST(n AS BIGINT) AS n_days,
       round(b, 6) AS slope,
       round(sqrt(s0 / nullif(svv * svv, 0)), 6) AS se_white,
       round(sqrt((s0 + s1) / nullif(svv * svv, 0)), 6)
         AS se_newey_west,
       round(b / nullif(sqrt((s0 + s1) / nullif(svv * svv, 0)), 0), 4)
         AS t_hac
FROM base CROSS JOIN cross_t
"""


# --------------------------------------------------------------------------
# Registry entries: key -> (builder, DuckDB oracle SQL). The package
# __init__ merges every module's QUERIES into REGISTRY; a new query is
# added here, next to its builder.
# --------------------------------------------------------------------------

QUERIES = {
    "ar2_yule_walker_daily": (ar2_yule_walker_daily, AR2_SQL),
    "ccf_count_value": (ccf_count_value, CCF_SQL),
    "granger_count_to_value": (granger_count_to_value, GRANGER_SQL),
    "pettitt_changepoint_daily": (pettitt_changepoint_daily, PETTITT_SQL),
    "periodogram_daily": (periodogram_daily, PERIODOGRAM_SQL),
    "interarrival_exp_ks": (interarrival_exp_ks, INTERARRIVAL_SQL),
    "weekend_lift_daily": (weekend_lift_daily, WEEKEND_LIFT_SQL),
    "session_lognormal_fit": (session_lognormal_fit, SESSION_LOGNORM_SQL),
    "wavelet_energy_daily": (wavelet_energy_daily, WAVELET_SQL),
    "pacf_daily": (pacf_daily, PACF_SQL),
    "breusch_godfrey_daily": (breusch_godfrey_daily,
                              BREUSCH_GODFREY_SQL),
    "spectral_entropy_daily": (spectral_entropy_daily,
                               SPECTRAL_ENTROPY_SQL),
    "arch_lm_daily": (arch_lm_daily, ARCH_LM_SQL),
    "psi_monthly_orders": (psi_monthly_orders, PSI_MONTHLY_SQL),
    "records_trend_daily": (records_trend_daily, RECORDS_SQL),
    "session_event_cooccurrence": (session_event_cooccurrence,
                                   SESSION_COOC_SQL),
    "hourly_entropy_by_type": (hourly_entropy_by_type,
                               HOURLY_ENTROPY_SQL),
    "purchase_cadence": (purchase_cadence, PURCHASE_CADENCE_SQL),
    "kendalls_w_dow": (kendalls_w_dow, KENDALLS_W_SQL),
    "conversion_by_session_depth": (conversion_by_session_depth,
                                    CONVERSION_DEPTH_SQL),
    "generalized_esd_daily": (generalized_esd_daily, ESD_SQL),
    "retention_half_life": (retention_half_life, RETENTION_HL_SQL),
    "wilson_ci_event_reach": (wilson_ci_event_reach, WILSON_CI_SQL),
    "newey_west_trend": (newey_west_trend, NEWEY_WEST_SQL),
}
