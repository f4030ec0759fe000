"""Round-7 additions (VERDICT r06 next-round asks #2/#3): GK
proof-bracket twins for the exact-quantile family, each bound-checked
against its exact counterpart at THREE SFs, and the redesigned
sketch_hll_union value contract (exact audit count + in-band boolean).

Containment is the PROVABLE property (the ±4/accuracy probe cushion —
the same guarantee stats.grouped_quantiles' exact refine is built on);
point-estimate closeness is the empirical property measured at the
driver SFs and asserted with slack.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from parking_bigdata_spark.queries.a_core import outlier_fences
from parking_bigdata_spark.queries.a_scale_twins import (
    funnel_latency_approx_quantiles_detail, mad_approx_price_by_flag_detail,
    outlier_fences_approx_detail, quantile_summary_approx_detail,
    rfm_bounds_approx_detail, trimmed_mean_approx_price_detail,
    winsorized_approx_price_stats_detail)
from parking_bigdata_spark.queries.a_stats import (
    trimmed_mean_price, winsorized_price_stats)
from parking_bigdata_spark.queries.b_llm import sketch_hll_union
from parking_bigdata_spark.queries.c_temporal import (
    funnel_latency_quantiles, quantile_summary)
from parking_bigdata_spark.io import load_table
from parking_bigdata_spark.operators import stats

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
       "/root/testdata/sf0.1"]


def _one(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0]


@pytest.mark.parametrize("sf", SFS)
def test_trimmed_mean_approx_brackets_and_drift(spark, sf):
    exact = {r["l_returnflag"]: r
             for r in trimmed_mean_price(spark, sf).collect()}
    ap = {r["l_returnflag"]: r
          for r in trimmed_mean_approx_price_detail(spark, sf).collect()}
    assert set(ap) == set(exact)
    li = load_table(spark, sf, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").cast("double").alias("v"))
    cuts = {r["l_returnflag"]: r
            for r in stats.grouped_quantiles(
                li, "l_returnflag", "v", [0.1, 0.9],
                ["c10", "c90"]).collect()}
    for flag, row in ap.items():
        e, c = exact[flag], cuts[flag]
        assert row["c10_lo"] <= c["c10"] <= row["c10_hi"], flag
        assert row["c90_lo"] <= c["c90"] <= row["c90_hi"], flag
        assert row["n"] == e["n"], flag
        # the GK cutoffs shift ≤ ~8n/accuracy boundary rows in/out of
        # the average — well under 0.5% in value on these columns
        rel = abs(row["trimmed_mean_approx"] - e["trimmed_mean_price"]) \
            / e["trimmed_mean_price"]
        assert rel < 5e-3, (flag, rel)


@pytest.mark.parametrize("sf", SFS)
def test_winsorized_approx_brackets_and_drift(spark, sf):
    exact = {r["l_returnflag"]: r
             for r in winsorized_price_stats(spark, sf).collect()}
    ap = {r["l_returnflag"]: r
          for r in winsorized_approx_price_stats_detail(spark, sf).collect()}
    assert set(ap) == set(exact)
    for flag, row in ap.items():
        e = exact[flag]
        # the exact query emits its p01/p99 — containment is direct
        assert row["p01_lo"] <= e["p01"] <= row["p01_hi"], flag
        assert row["p99_lo"] <= e["p99"] <= row["p99_hi"], flag
        assert row["n"] == e["n"], flag
        assert abs(row["winsorized_mean_approx"] - e["winsorized_mean"]) \
            / e["winsorized_mean"] < 5e-3, flag
        assert abs(row["winsorized_sd_approx"] - e["winsorized_sd"]) \
            / e["winsorized_sd"] < 1e-2, flag
        # clamp decisions flip only between bracket edges
        assert abs(row["n_clamped"] - e["n_clamped"]) \
            <= max(4, 0.002 * e["n"]), flag


@pytest.mark.parametrize("sf", SFS)
def test_outlier_fences_approx_brackets_and_drift(spark, sf):
    exact = {r["c_mktsegment"]: r
             for r in outlier_fences(spark, sf).collect()}
    ap = {r["c_mktsegment"]: r
          for r in outlier_fences_approx_detail(spark, sf).collect()}
    assert set(ap) == set(exact)
    cust = load_table(spark, sf, "customer").select(
        "c_mktsegment", F.col("c_acctbal").cast("double").alias("v"))
    quarts = {r["c_mktsegment"]: r
              for r in stats.grouped_quantiles(
                  cust, "c_mktsegment", "v", [0.25, 0.75],
                  ["q1", "q3"]).collect()}
    for seg, row in ap.items():
        e, qs = exact[seg], quarts[seg]
        assert row["q1_lo"] <= qs["q1"] <= row["q1_hi"], seg
        assert row["q3_lo"] <= qs["q3"] <= row["q3_hi"], seg
        # theorem-derived drift bound: approx AND exact quartiles both
        # lie inside their brackets (GK monotone in fraction +
        # containment proof), and the fences are linear in them —
        # fence_lo = 2.5·q1 − 1.5·q3, fence_hi = 2.5·q3 − 1.5·q1
        w1 = row["q1_hi"] - row["q1_lo"]
        w3 = row["q3_hi"] - row["q3_lo"]
        assert abs(row["fence_lo_approx"] - e["fence_lo"]) \
            <= 2.5 * w1 + 1.5 * w3 + 1e-3, seg
        assert abs(row["fence_hi_approx"] - e["fence_hi"]) \
            <= 1.5 * w1 + 2.5 * w3 + 1e-3, seg
        assert abs(row["n_outliers"] - e["n_outliers"]) <= 10, seg


@pytest.mark.parametrize("sf", SFS)
def test_quantile_summary_approx_brackets(spark, sf):
    exact = {r["o_orderpriority"]: r
             for r in quantile_summary(spark, sf).collect()}
    ap = {r["o_orderpriority"]: r
          for r in quantile_summary_approx_detail(spark, sf).collect()}
    assert set(ap) == set(exact)
    for pri, row in ap.items():
        e = exact[pri]
        assert row["lo"] == e["lo"] and row["hi"] == e["hi"], pri
        for p in ("p25", "p50", "p75", "p95"):
            assert row[f"{p}_lo"] <= e[p] <= row[f"{p}_hi"], (pri, p)
            # theorem bound: approx and exact both live in the bracket
            w = row[f"{p}_hi"] - row[f"{p}_lo"]
            assert abs(row[f"{p}_approx"] - e[p]) <= w + 2e-4, (pri, p)


@pytest.mark.parametrize("sf", SFS)
def test_rfm_bounds_approx_brackets(spark, sf):
    """The twin emits A80's only rows-state stage (the R/F/M cut
    points); exact bounds recomputed here with the exact machinery on
    the same melted metric frame."""
    from parking_bigdata_spark.functions import money
    orders = load_table(spark, sf, "orders")
    ref = orders.agg(F.max("o_orderdate").alias("rd"))
    pc = (orders.groupBy("o_custkey")
          .agg(F.max("o_orderdate").alias("last_o"),
               F.count(F.lit(1)).alias("freq"),
               F.sum(money("o_totalprice")).alias("mon_dec"))
          .crossJoin(F.broadcast(ref))
          .select(F.col("freq").cast("double").alias("freq"),
                  F.col("mon_dec").cast("double").alias("mon"),
                  F.datediff(F.to_date("rd"), F.to_date("last_o"))
                   .cast("double").alias("rec")))
    melted = pc.select(
        F.explode(F.map_from_arrays(
            F.array(F.lit("rec"), F.lit("freq"), F.lit("mon")),
            F.array("rec", "freq", "mon"))).alias("metric", "__v"))
    exact = {r["metric"]: r
             for r in stats.grouped_quantiles(
                 melted, "metric", "__v", [0.25, 0.5, 0.75],
                 ["q1", "q2", "q3"]).collect()}
    ap = {r["metric"]: r
          for r in rfm_bounds_approx_detail(spark, sf).collect()}
    assert set(ap) == {"rec", "freq", "mon"} == set(exact)
    for m, row in ap.items():
        for q in ("q1", "q2", "q3"):
            assert row[f"{q}_lo"] <= exact[m][q] <= row[f"{q}_hi"], (m, q)


@pytest.mark.parametrize("sf", SFS)
def test_funnel_latency_approx_brackets(spark, sf):
    e = _one(funnel_latency_quantiles(spark, sf))
    a = _one(funnel_latency_approx_quantiles_detail(spark, sf))
    assert a["n_converted"] == e["n_converted"]
    assert a["p50_lo"] <= e["p50_s"] <= a["p50_hi"]
    assert a["p90_lo"] <= e["p90_s"] <= a["p90_hi"]
    # theorem bound: approx and exact both live in the bracket
    assert abs(a["p50_s_approx"] - e["p50_s"]) \
        <= a["p50_hi"] - a["p50_lo"] + 2e-4
    assert abs(a["p90_s_approx"] - e["p90_s"]) \
        <= a["p90_hi"] - a["p90_lo"] + 2e-4


@pytest.mark.parametrize("sf", SFS[:2])
def test_hll_union_contract_holds(spark, sf):
    """The redesigned B31 output: exact audit counts, and every
    hll_within_5pct boolean TRUE (this is what the DuckDB oracle now
    hash-checks at the driver gate — assert it independently here)."""
    rows = sketch_hll_union(spark, sf).collect()
    srcs = [r["source"] for r in rows]
    assert "__all__" in srcs and len(srcs) == len(set(srcs))
    for r in rows:
        assert r["hll_within_5pct"] is True, r["source"]
        assert r["n_distinct_exact"] > 0, r["source"]


def test_twin_probes_clamp_on_tiny_groups(spark, tmp_path):
    """Regression (in-round review): with the small-n probe floor,
    eps = 3/n exceeds 0.5 on groups under 6 non-null values — the
    probe fractions must CLAMP to [0, 1] (percentile_approx aborts on
    an out-of-range percentage), and brackets still contain the exact
    quantile (they collapse to group min/max)."""
    import pandas as pd
    d = str(tmp_path)
    pd.DataFrame({
        "l_orderkey": [1, 2, 3, 4, 5],
        "l_linenumber": [1] * 5,
        "l_quantity": [1.0, 2.0, 3.0, 4.0, 5.0],
        "l_extendedprice": [10.0, 20.0, 30.0, 40.0, 50.0],
        "l_discount": [0.0] * 5,
        "l_tax": [0.0] * 5,
        "l_returnflag": ["A", "A", "A", "R", "R"],
        "l_linestatus": ["F"] * 5,
        "l_shipdate": pd.to_datetime(["2024-01-02"] * 5).date,
        "l_partkey": [1, 2, 3, 4, 5],
        "l_suppkey": [1] * 5,
    }).to_parquet(d + "/lineitem.parquet", index=False)
    mad = {r["l_returnflag"]: r
           for r in mad_approx_price_by_flag_detail(spark, d).collect()}
    assert set(mad) == {"A", "R"}
    # A's exact median is 20; brackets collapse to [min, max]
    assert mad["A"]["med_lo"] <= 20.0 <= mad["A"]["med_hi"]
    assert mad["R"]["med_lo"] <= 45.0 <= mad["R"]["med_hi"]
    tm = {r["l_returnflag"]: r
          for r in trimmed_mean_approx_price_detail(spark, d).collect()}
    assert tm["A"]["c10_lo"] <= 10.0 and tm["A"]["c90_hi"] >= 30.0
