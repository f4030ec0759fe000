"""Round-4 additions (VERDICT r03 next-round asks).

#4 approx twins for the exact-ECDF family: each approx form is
bound-checked against its exact counterpart at TWO SFs — the
`catalog_profile_approx` discipline (the rows-only/looser oracle is
earned by an in-test bracket against the exact machinery).
#5 streaming batch twins: the registered queries call the streaming
builders; parity with the batch-native plans is asserted here (the
stream-drain parity itself lives in test_streaming.py).
#7 rf_holdout_metrics: the bounded-output twin must agree with metrics
recomputed from the full rf_score_holdout frame.
"""

from __future__ import annotations

import pytest

from parking_bigdata_spark.queries.a_stats import (
    ks_approx_order_value_priority, ks_order_value_priority,
    rf_holdout_metrics, rf_score_holdout)
from parking_bigdata_spark.queries.a_stats_ext import (
    ad_ksample_approx_priority, ad_ksample_priority,
    median_ci_approx_order_value_detail, median_ci_order_value)
from parking_bigdata_spark.queries.b_llm import (
    stream_hopping_windows_batch, stream_session_windows_batch)

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


@pytest.mark.parametrize("sf", SFS)
def test_ks_approx_brackets_exact(spark, sf):
    """The grid evaluations are exact ECDF values at the edges, so
    d_approx <= d_exact <= d_upper must hold EXACTLY (modulo the 4-dp
    output rounding)."""
    exact = ks_order_value_priority(spark, sf).collect()[0]
    ap = ks_approx_order_value_priority(spark, sf).collect()[0]
    assert ap["n_urgent"] == exact["n_urgent"]
    assert ap["n_low"] == exact["n_low"]
    assert ap["ks_d_approx"] - 1e-4 <= exact["ks_d"] <= ap["ks_d_upper"] + 1e-4
    # the bracket must also be useful, not vacuous
    assert ap["ks_d_upper"] - ap["ks_d_approx"] < 0.05


@pytest.mark.parametrize("sf", SFS)
def test_ad_ksample_approx_close_to_exact(spark, sf):
    """Binned A2akN converges to the exact statistic as the grid grows;
    at G=256 it must sit within 2% on the driver SFs (measured ~0.7%)."""
    exact = ad_ksample_priority(spark, sf).collect()[0]
    ap = ad_ksample_approx_priority(spark, sf).collect()[0]
    assert ap["n"] == exact["n"] and ap["k_groups"] == exact["k_groups"]
    rel = abs(ap["a2_akn_approx"] - exact["a2_akn"]) / max(1.0,
                                                           abs(exact["a2_akn"]))
    assert rel < 0.02, (ap["a2_akn_approx"], exact["a2_akn"])


@pytest.mark.parametrize("sf", SFS)
def test_median_ci_approx_within_exact_interval(spark, sf):
    """GK rank error (<= n/accuracy) is far inside the ~z*sqrt(n)/2
    half-width of the order-statistic CI, so the approx median must
    land inside the exact CI and the approx CI must contain the exact
    median; the rank targets themselves are identical."""
    exact = median_ci_order_value(spark, sf).collect()[0]
    ap = median_ci_approx_order_value_detail(spark, sf).collect()[0]
    assert ap["n"] == exact["n"]
    assert ap["rank_lo"] == exact["rank_lo"]
    assert ap["rank_hi"] == exact["rank_hi"]
    assert exact["ci_lo"] <= ap["median_approx"] <= exact["ci_hi"]
    assert ap["ci_lo_approx"] <= exact["median"] <= ap["ci_hi_approx"]


def test_stream_batch_twins_match_native_batch_plans(spark, sf_dir):
    """The registered twins run the STREAMING builders on static input;
    they must agree with independently-written batch plans."""
    from pyspark.sql import functions as F
    from parking_bigdata_spark.io import load_table

    ev = load_table(spark, sf_dir, "events")
    # session windows vs a plain batch session_window aggregation
    twin = {tuple(r) for r in
            stream_session_windows_batch(spark, sf_dir).collect()}
    native = {tuple(r) for r in
              (ev.groupBy(F.session_window("ts", "30 minutes").alias("w"),
                          "user_id")
                 .agg(F.count(F.lit(1)).alias("n_events"),
                      F.round(F.sum("value"), 4).alias("sum_value"))
                 .select("user_id",
                         F.unix_micros("w.start").alias("sess_start_us"),
                         F.unix_micros("w.end").alias("sess_end_us"),
                         "n_events", "sum_value")).collect()}
    assert twin == native and len(twin) > 0
    # hopping windows: every event lands in exactly 2 one-hour windows
    hop = stream_hopping_windows_batch(spark, sf_dir)
    total = hop.agg(F.sum("n_events")).collect()[0][0]
    assert total == 2 * ev.count()


def test_grouped_quantiles_approx_within_rank_tolerance(spark, sf_dir):
    """The sketch-only scale path (the switch the exact operators'
    docstrings promise at 100 TB) must agree with the exact
    bracket-refine within the GK rank guarantee."""
    from parking_bigdata_spark.io import load_table
    from parking_bigdata_spark.operators import stats as S

    li = load_table(spark, sf_dir, "lineitem")
    exact = {r["l_returnflag"]: (r["p25"], r["p50"], r["p75"])
             for r in S.grouped_quantiles(
                 li, "l_returnflag", "l_extendedprice",
                 [0.25, 0.5, 0.75], ["p25", "p50", "p75"]).collect()}
    approx = {r["l_returnflag"]: (r["p25"], r["p50"], r["p75"])
              for r in S.grouped_quantiles_approx(
                  li, "l_returnflag", "l_extendedprice",
                  [0.25, 0.5, 0.75], ["p25", "p50", "p75"]).collect()}
    assert approx.keys() == exact.keys()
    for g in exact:
        for e, a in zip(exact[g], approx[g]):
            assert abs(a - e) / max(1.0, abs(e)) < 0.02, (g, e, a)


def test_rf_holdout_metrics_match_scored_frame(spark, sf_dir):
    from pyspark.sql import functions as F
    scored = rf_score_holdout(spark, sf_dir)
    m = rf_holdout_metrics(spark, sf_dir).collect()[0]
    assert m["n"] == scored.count()
    y, p = F.col("actual"), F.col("predicted")
    chk = scored.agg(
        F.round(F.sqrt(F.avg((y - p) * (y - p))), 4).alias("rmse")).collect()[0]
    assert abs(m["rmse"] - chk["rmse"]) < 1e-9
    # at sf0.001 the depth-4 forest can land marginally below the mean
    # predictor on the tiny holdout (r2 ~ -0.002); the metric contract
    # is finiteness + agreement with the scored frame, not model skill
    assert -0.1 < m["r2"] <= 1.0 and m["rmse"] > 0.0
