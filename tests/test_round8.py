"""Round-8 additions (VERDICT r07 next-round ask #1): the nine former
rows-only sketch twins now carry the B31 bound-as-oracle contract —
exact audit columns (DuckDB-recomputable) + in-query containment/bound
booleans. These tests assert, independently of the driver gate, that

* every boolean is TRUE at the driver SFs (what the DuckDB oracle
  hash-checks as a literal), and
* every exact audit column equals the exact counterpart query's value
  (the two computations share machinery but different code paths).

The engine-specific GK/HLL estimates live on in the `*_detail` forms,
which tests/test_round4-7.py keep bound-checking.
"""

from __future__ import annotations

import pytest

from parking_bigdata_spark import queries as Q
from parking_bigdata_spark.queries.a_core import outlier_fences
from parking_bigdata_spark.queries.a_stats import (
    mad_price_by_flag, winsorized_price_stats)
from parking_bigdata_spark.queries.a_stats2 import catalog_profile
from parking_bigdata_spark.queries.a_stats_ext import median_ci_order_value
from parking_bigdata_spark.queries.c_temporal import (
    funnel_latency_quantiles, quantile_summary)

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]

_BOOL_COLS = {
    "mad_approx_price_by_flag": ["med_in_bracket", "mad_in_bracket"],
    "trimmed_mean_approx_price": ["c10_in_bracket", "c90_in_bracket"],
    "winsorized_approx_price_stats": ["p01_in_bracket", "p99_in_bracket"],
    "outlier_fences_approx": ["q1_in_bracket", "q3_in_bracket"],
    "quantile_summary_approx": ["p25_in_bracket", "p50_in_bracket",
                                "p75_in_bracket", "p95_in_bracket"],
    "rfm_bounds_approx": ["q1_in_bracket", "q2_in_bracket",
                          "q3_in_bracket"],
    "funnel_latency_approx_quantiles": ["p50_in_bracket",
                                        "p90_in_bracket"],
    "median_ci_approx_order_value": ["approx_median_in_ci",
                                     "approx_ci_brackets_median"],
    "catalog_profile_approx": ["hll_within_5pct"],
}


@pytest.mark.parametrize("sf", SFS)
@pytest.mark.parametrize("name", sorted(_BOOL_COLS))
def test_bound_booleans_all_true(spark, sf, name):
    rows = Q.queries()[name](spark, sf).collect()
    assert rows, name
    for r in rows:
        for col in _BOOL_COLS[name]:
            assert r[col] is True, (name, col, r)


@pytest.mark.parametrize("sf", SFS)
def test_mad_audit_matches_exact(spark, sf):
    exact = {r["l_returnflag"]: r
             for r in mad_price_by_flag(spark, sf).collect()}
    aud = {r["l_returnflag"]: r
           for r in Q.queries()["mad_approx_price_by_flag"](
               spark, sf).collect()}
    assert set(aud) == set(exact)
    for flag, r in aud.items():
        assert r["median_price_exact"] == exact[flag]["median_price"], flag
        assert r["mad_exact"] == exact[flag]["mad"], flag


@pytest.mark.parametrize("sf", SFS)
def test_winsorized_audit_matches_exact(spark, sf):
    exact = {r["l_returnflag"]: r
             for r in winsorized_price_stats(spark, sf).collect()}
    aud = {r["l_returnflag"]: r
           for r in Q.queries()["winsorized_approx_price_stats"](
               spark, sf).collect()}
    assert set(aud) == set(exact)
    for flag, r in aud.items():
        e = exact[flag]
        assert r["n"] == e["n"], flag
        assert r["winsorized_mean_exact"] == e["winsorized_mean"], flag
        assert r["winsorized_sd_exact"] == e["winsorized_sd"], flag
        assert r["n_clamped_exact"] == e["n_clamped"], flag
        assert r["p01_exact"] == e["p01"] and r["p99_exact"] == e["p99"]


@pytest.mark.parametrize("sf", SFS)
def test_fences_audit_matches_exact(spark, sf):
    exact = {r["c_mktsegment"]: r
             for r in outlier_fences(spark, sf).collect()}
    aud = {r["c_mktsegment"]: r
           for r in Q.queries()["outlier_fences_approx"](
               spark, sf).collect()}
    assert set(aud) == set(exact)
    for seg, r in aud.items():
        e = exact[seg]
        assert r["fence_lo_exact"] == e["fence_lo"], seg
        assert r["fence_hi_exact"] == e["fence_hi"], seg
        assert r["n_outliers_exact"] == e["n_outliers"], seg


@pytest.mark.parametrize("sf", SFS)
def test_quantile_summary_audit_matches_exact(spark, sf):
    exact = {r["o_orderpriority"]: r
             for r in quantile_summary(spark, sf).collect()}
    aud = {r["o_orderpriority"]: r
           for r in Q.queries()["quantile_summary_approx"](
               spark, sf).collect()}
    assert set(aud) == set(exact)
    for pri, r in aud.items():
        e = exact[pri]
        assert r["lo"] == e["lo"] and r["hi"] == e["hi"], pri
        for p in ("p25", "p50", "p75", "p95"):
            assert r[f"{p}_exact"] == e[p], (pri, p)


@pytest.mark.parametrize("sf", SFS)
def test_funnel_audit_matches_exact(spark, sf):
    e = funnel_latency_quantiles(spark, sf).collect()[0]
    a = Q.queries()["funnel_latency_approx_quantiles"](
        spark, sf).collect()[0]
    assert a["n_converted"] == e["n_converted"]
    assert a["p50_exact"] == e["p50_s"]
    assert a["p90_exact"] == e["p90_s"]


@pytest.mark.parametrize("sf", SFS)
def test_median_ci_audit_matches_exact(spark, sf):
    e = median_ci_order_value(spark, sf).collect()[0]
    a = Q.queries()["median_ci_approx_order_value"](
        spark, sf).collect()[0]
    for pair in (("n", "n"), ("rank_lo", "rank_lo"),
                 ("rank_hi", "rank_hi"), ("median_exact", "median"),
                 ("ci_lo_exact", "ci_lo"), ("ci_hi_exact", "ci_hi")):
        assert a[pair[0]] == e[pair[1]], pair


@pytest.mark.parametrize("sf", SFS[:1])
def test_catalog_profile_audit_matches_exact(spark, sf):
    exact = {(r["table_name"], r["column_name"]): r
             for r in catalog_profile(spark, sf).collect()}
    aud = {(r["table_name"], r["column_name"]): r
           for r in Q.queries()["catalog_profile_approx"](
               spark, sf).collect()}
    assert set(aud) == set(exact) and len(aud) == 49
    for k, r in aud.items():
        e = exact[k]
        assert r["n_rows"] == e["n_rows"], k
        assert r["n_nulls"] == e["n_nulls"], k
        assert r["n_distinct_exact"] == e["n_distinct"], k


def test_registered_mad_contract_tiny_groups(spark, tmp_path):
    """The registered bound-as-oracle form under the small-n probe
    floor: on 2/3-row groups the brackets collapse toward [min, max]
    and the booleans must STILL be TRUE (the regression the r07 probe
    floor fixed, re-asserted through the r08 output shape)."""
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
    rows = {r["l_returnflag"]: r
            for r in Q.queries()["mad_approx_price_by_flag"](
                spark, d).collect()}
    assert rows["A"]["median_price_exact"] == 20.0
    assert rows["R"]["median_price_exact"] == 45.0
    for flag, r in rows.items():
        assert r["med_in_bracket"] and r["mad_in_bracket"], flag


def test_funnel_zero_conversions_both_engines_empty(spark, tmp_path):
    """Code-review r08: with zero completed funnels the Spark side
    emits 0 rows (empty single-group aggregation); the oracles must
    too (HAVING count(*) > 0) — exact AND approx."""
    import duckdb
    import pandas as pd
    d = str(tmp_path)
    pd.DataFrame({
        "event_id": [1, 2, 3, 4],
        "ts": pd.to_datetime(["2024-01-01 10:00", "2024-01-01 11:00",
                              "2024-01-02 10:00", "2024-01-02 11:00"]),
        "user_id": [1, 1, 2, 2],
        "event_type": ["view", "click", "view", "view"],  # no purchase
        "value": [1.0, 2.0, 3.0, 4.0],
    }).to_parquet(d + "/events.parquet", index=False)
    assert funnel_latency_quantiles(spark, d).count() == 0
    assert Q.queries()["funnel_latency_approx_quantiles"](
        spark, d).count() == 0
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{d}/events.parquet'")
    osql = Q.oracle_sql()
    assert len(con.execute(osql["funnel_latency_quantiles"]).df()) == 0
    assert len(con.execute(
        osql["funnel_latency_approx_quantiles"]).df()) == 0


def test_median_ci_contract_empty_orders(spark, tmp_path):
    """Code-review r08: the registered bound-as-oracle form must take
    the hardened NULL-row path on empty input BEFORE calling the
    exact A159 (which raises on n=0)."""
    import pandas as pd
    d = str(tmp_path)
    pd.DataFrame({
        "o_orderkey": pd.Series([], dtype="int64"),
        "o_custkey": pd.Series([], dtype="int64"),
        "o_orderstatus": pd.Series([], dtype="object"),
        "o_orderpriority": pd.Series([], dtype="object"),
        "o_totalprice": pd.Series([], dtype="float64"),
        "o_orderdate": pd.Series([], dtype="datetime64[us]"),
    }).to_parquet(d + "/orders.parquet", index=False)
    row = Q.queries()["median_ci_approx_order_value"](
        spark, d).collect()[0]
    assert row["n"] == 0
    assert row["median_exact"] is None
    assert row["approx_median_in_ci"] is None
    # ADVICE r08: the DuckDB oracle must mirror the same NULL-row
    # contract (n=0, NULL stats, NULL booleans) on the degenerate
    # empty table — not n=NULL with constant-TRUE booleans
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                f"'{d}/orders.parquet'")
    odf = con.execute(
        Q.oracle_sql()["median_ci_approx_order_value"]).df()
    assert len(odf) == 1
    orow = odf.iloc[0]
    assert orow["n"] == 0
    assert pd.isna(orow["rank_lo"]) and pd.isna(orow["rank_hi"])
    assert pd.isna(orow["median_exact"])
    assert pd.isna(orow["approx_median_in_ci"])
    assert pd.isna(orow["approx_ci_brackets_median"])
    assert orow["accuracy"] == 10000
