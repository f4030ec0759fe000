"""Round-9 hardening tests (VERDICT r08 asks + ADVICE r08).

Covers the unified audit-switch twin builders (#4) and the null-price
median-CI contracts.
"""


# ---------------------------------------------------------------------------
# VERDICT r08 #4: one builder per sketch twin with an audit switch —
# registered = audit=True (exact audit columns + containment booleans),
# audit=False = the 100 TB `_detail` product shape. The two tiers must
# come from the same plan prefix so they cannot drift apart.
# ---------------------------------------------------------------------------

def _twin_pairs():
    from parking_bigdata_spark.queries import (a_scale_twins as T,
                                               a_stats2 as S2,
                                               a_stats_ext as SE)
    return [
        (T, "mad_approx_price_by_flag"),
        (T, "trimmed_mean_approx_price"),
        (T, "winsorized_approx_price_stats"),
        (T, "outlier_fences_approx"),
        (T, "quantile_summary_approx"),
        (T, "rfm_bounds_approx"),
        (T, "funnel_latency_approx_quantiles"),
        (SE, "median_ci_approx_order_value"),
        (S2, "catalog_profile_approx"),
    ]


def test_audit_switch_false_is_the_detail_form(spark, sf_dir):
    """`fn(audit=False)` must be the `_detail` product: identical
    schema AND identical rows (both paths are deterministic)."""
    for mod, name in _twin_pairs():
        fn = getattr(mod, name)
        det = getattr(mod, name + "_detail")
        a = fn(spark, sf_dir, audit=False)
        b = det(spark, sf_dir)
        assert a.schema == b.schema, name
        ra = sorted(map(tuple, a.collect()))
        rb = sorted(map(tuple, b.collect()))
        assert ra == rb, name


def test_audit_switch_true_consumes_the_detail_plan(spark, sf_dir,
                                                    monkeypatch):
    """Structural prefix proof: the registered (audit=True) form must
    BUILD ON the same detail builder — monkeypatching the detail
    function and watching it fire during the audit build proves the
    sketch plan is the shared prefix, not a parallel reimplementation.
    catalog_profile_approx shares `_catalog_pool_rows` +
    `_CATALOG_COLUMNS` instead (its audit fuses exact+sketch into one
    aggregate), so there the scaffolding is the patched choke point."""
    calls = {}
    for mod, name in _twin_pairs():
        if name == "catalog_profile_approx":
            target, key = "_catalog_pool_rows", name
        else:
            target, key = name + "_detail", name
        orig = getattr(mod, target)
        calls[key] = 0

        def wrapper(*a, _orig=orig, _key=key, **kw):
            calls[_key] += 1
            return _orig(*a, **kw)

        monkeypatch.setattr(mod, target, wrapper)
        df = getattr(mod, name)(spark, sf_dir)  # audit=True default
        assert calls[key] >= 1, name
        # and the audit shape is a real DataFrame with rows at sf0.001
        assert df.count() >= 1, name


def test_audit_switch_registry_unchanged():
    """The registry keys keep the (spark, sf_dir) callable contract —
    the audit kwarg is keyword-only with default True, so the driver
    sees the bound-as-oracle shape unchanged."""
    import inspect
    from parking_bigdata_spark import queries as Q
    reg = Q.queries()
    for mod, name in _twin_pairs():
        sig = inspect.signature(getattr(mod, name))
        p = sig.parameters["audit"]
        assert p.kind is inspect.Parameter.KEYWORD_ONLY, name
        assert p.default is True, name
        assert name in reg, name


# ---------------------------------------------------------------------------
# Code-review r09 findings — regression pins.
# ---------------------------------------------------------------------------

def _null_orders_frame(d: str, prices):
    import pandas as pd
    n = len(prices)
    pd.DataFrame({
        "o_orderkey": range(1, n + 1),
        "o_custkey": [1] * n,
        "o_orderstatus": ["F"] * n,
        "o_orderpriority": ["1-URGENT"] * n,
        "o_totalprice": pd.array(prices, dtype="float64"),
        "o_orderdate": pd.to_datetime(["2024-01-01"] * n),
    }).to_parquet(d + "/orders.parquet", index=False)


def test_median_ci_all_null_prices_both_engines(spark, tmp_path):
    """Code-review r09: an orders table whose rows ALL have NULL
    o_totalprice must take the hardened n=0 NULL-row path in BOTH
    engines for the exact key AND the twin — the SQL previously
    grouped the NULL values (n=k, constant-TRUE booleans)."""
    import duckdb
    import pandas as pd
    from parking_bigdata_spark import queries as Q
    d = str(tmp_path)
    _null_orders_frame(d, [None, None, None])
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                f"'{d}/orders.parquet'")
    osql = Q.oracle_sql()
    ex = Q.queries()["median_ci_order_value"](spark, d).collect()[0]
    assert ex["n"] == 0 and ex["median"] is None
    assert ex["rank_lo"] is None
    oex = con.execute(osql["median_ci_order_value"]).df().iloc[0]
    assert oex["n"] == 0 and pd.isna(oex["median"])
    assert pd.isna(oex["rank_lo"])
    tw = Q.queries()["median_ci_approx_order_value"](
        spark, d).collect()[0]
    assert tw["n"] == 0 and tw["approx_median_in_ci"] is None
    otw = con.execute(osql["median_ci_approx_order_value"]).df().iloc[0]
    assert otw["n"] == 0 and pd.isna(otw["approx_median_in_ci"])


def test_median_ci_partial_null_prices_both_engines(spark, tmp_path):
    """NULL values carry no rank: n and every order statistic must
    come from the non-NULL values only, identically in both engines."""
    import duckdb
    from parking_bigdata_spark import queries as Q
    d = str(tmp_path)
    _null_orders_frame(d, [100.0, None, 300.0, 200.0, None])
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                f"'{d}/orders.parquet'")
    ex = Q.queries()["median_ci_order_value"](spark, d).collect()[0]
    assert ex["n"] == 3 and ex["median"] == 200.0
    oex = con.execute(
        Q.oracle_sql()["median_ci_order_value"]).df().iloc[0]
    assert oex["n"] == 3 and oex["median"] == 200.0
    assert (ex["rank_lo"], ex["rank_hi"]) == \
        (int(oex["rank_lo"]), int(oex["rank_hi"]))
    assert (ex["ci_lo"], ex["ci_hi"]) == \
        (oex["ci_lo"], oex["ci_hi"])
    tw = Q.queries()["median_ci_approx_order_value"](
        spark, d).collect()[0]
    assert tw["n"] == 3 and tw["median_exact"] == 200.0
    assert tw["approx_median_in_ci"] is True


def test_audit_acc_is_the_stats_constant():
    """Code-review r09: one constant governs the exact machinery's
    accuracy — the audit alias must BE stats.EXACT_QUANTILE_ACC, and
    it must never leak into emitted accuracy columns (those carry the
    detail forms' pinned sketch accuracy)."""
    from parking_bigdata_spark.operators import stats as S
    from parking_bigdata_spark.queries import a_scale_twins as T
    assert T._AUDIT_ACC is S.EXACT_QUANTILE_ACC
    assert T._GK_ACC == 10000  # sketch accuracy stays pinned


# ---------------------------------------------------------------------------
# Second code-review pass r09 — regression pins.
# ---------------------------------------------------------------------------

def test_exact_quantile_acc_knob_is_defensive():
    """A malformed or non-positive SPARK_GRAFT_EXACT_QUANTILE_ACC must
    degrade to the default, never crash the package import or later
    divide by zero."""
    from parking_bigdata_spark.operators.stats import _parse_acc
    assert _parse_acc(None) == 2000
    assert _parse_acc("500") == 500
    assert _parse_acc("2e3") == 2000
    assert _parse_acc("0") == 2000
    assert _parse_acc("-5") == 2000
    assert _parse_acc("garbage") == 2000
