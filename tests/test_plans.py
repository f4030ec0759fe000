"""Plan assertions (SURVEY.md §5): the scale-critical physical-plan
properties must hold — filter pushdown to the parquet scan, column
pruning, broadcast joins for dims, no stray shuffles.

These guard against regressions that correctness tests can't see: a
query can return identical rows while silently scanning every column or
shuffling a broadcastable dim.
"""

from __future__ import annotations

import pytest

from parking_bigdata_spark import queries as Q


def _plan(spark, sf_dir, name: str) -> str:
    df = Q.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushdown_and_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    # shipdate filter reaches the scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: orderkey/partkey/suppkey are never read
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln][0]
    assert "l_orderkey" not in scan and "l_partkey" not in scan
    # exactly one exchange (the groupBy) — partial agg happens map-side
    assert plan.count("Exchange") == 1


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "revenue_by_nation")
    # nation + region are explicitly broadcast; no sort-merge join of a dim
    assert plan.count("BroadcastHashJoin") >= 2


def test_weighted_avg_broadcasts_part(spark, sf_dir):
    plan = _plan(spark, sf_dir, "weighted_avg_price")
    assert "BroadcastHashJoin" in plan


def test_topk_single_shuffle(spark, sf_dir):
    # window over o_custkey: one exchange, no join
    plan = _plan(spark, sf_dir, "topk_orders_per_customer")
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_impute_group_mean_broadcast_stats(spark, sf_dir):
    # group stats are a tiny aggregate broadcast back — never an
    # unordered window (one WindowExec task per group) and never a
    # fact-to-fact sort-merge self-join
    plan = _plan(spark, sf_dir, "impute_group_mean")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_residual_diagnostics_no_global_window(spark, sf_dir):
    # the Durbin-Watson lag must run inside range partitions; a window
    # spec with no partition keys would funnel the fact through ONE task
    import re
    plan = _plan(spark, sf_dir, "residual_diagnostics")
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "__pid" in m.group(1), m.group(0)


def test_describe_single_aggregate_pass(spark, sf_dir):
    # moment stats fused into one aggregate pass; the quartile subtree
    # (bracket + refine over the unpivoted columns, r03) adds exactly
    # three more scans — never one job per column, and no sort-based
    # exact percentile aggregate (which would buffer every value)
    plan = _plan(spark, sf_dir, "describe_lineitem")
    assert plan.count("FileScan") <= 5
    assert "percentile_cont" not in plan.lower()


@pytest.mark.parametrize("name", ["text_quality", "token_count",
                                  "doc_fingerprint", "text_langid"])
def test_text_ops_are_pure_maps(spark, sf_dir, name):
    # text analysis must not shuffle — pure projections over the scan
    plan = _plan(spark, sf_dir, name)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python UDFs
    assert "ArrowEvalPython" not in plan  # not even pandas UDFs needed


def test_asof_join_single_shuffle(spark, sf_dir):
    # union + keyed window: exactly one Exchange (on the key), no
    # range/cross join anywhere in the plan
    plan = _plan(spark, sf_dir, "events_asof_purchase")
    assert plan.count("Exchange") == 1
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_rolling_and_cumsum_single_shuffle(spark, sf_dir):
    for name in ("events_rolling_avg", "customer_cumulative_spend"):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("Exchange") == 1, name


def _scans_python_rdd(df) -> bool:
    """Whether an RDD scan in ``df``'s plan (subqueries included) reads
    an RDD of Python objects: the list form of ``createDataFrame``,
    whose execution is a job through ``pyspark.daemon`` and forked
    Python workers. An RDD scan of an eager (local) checkpoint is
    fine: its lineage ends at the checkpoint, with no ``PythonRDD``."""
    root = df._jdf.queryExecution().analyzed()
    subs = root.subqueriesAll()
    for plan in [root] + [subs.apply(i) for i in range(subs.size())]:
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if (leaf.nodeName() == "LogicalRDD"
                    and "PythonRDD" in leaf.rdd().toDebugString()):
                return True
    return False


def test_plan_hygiene_all_queries(spark, sf_dir):
    """One pass over EVERY registry query's physical plan asserting the
    three global hygiene rules:

    1. no row-at-a-time Python UDFs (Arrow mapInPandas is the only
       sanctioned Python path);
    2. no DATA-SIZED global (partition-less) window — the r01 flaw
       class. Global windows are permitted only over (a) ``__pid``
       per-partition offset frames (≤ shuffle-partition-count rows, the
       tie_avg_ranks/range_cumsum construction) and (b) aggregated
       calendar series (weekly/daily keys — bounded by the calendar,
       not the data).
    3. no scan of a Python-object RDD (``Scan ExistingRDD`` over a
       ``PythonRDD``): driver-side rows become frames through
       ``io.local_df`` as a ``LocalTableScan``, which starts no Python
       worker.
    """
    import re
    # "decile": cumulative windows over a post-aggregation decile table
    # (exactly 10 rows by construction — quality_lift_table's cum-lift);
    # "lag_k": ljung_box_daily's cumulative Q over the 7-row lag table;
    # "__gbkt": the approx-ECDF uniform-grid bucket tables (<= 128/256
    # rows by construction — A18gb/A142b)
    allowed_global_order_cols = {"__pid", "wk", "d", "decile", "lag_k",
                                 "__gbkt"}
    python_rdd = []
    for name in Q.queries():
        df = Q.queries()[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if _scans_python_rdd(df):
            python_rdd.append(name)
        assert "BatchEvalPython" not in plan, f"{name} uses a Python UDF"
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            first = m.group(1).split(",")[0].strip()
            if " ASC" in first or " DESC" in first:  # order-only spec
                col = re.split(r"[# ]", first)[0]
                assert col in allowed_global_order_cols, (
                    f"{name}: data-sized global window over {first!r}")
    assert python_rdd == [], f"Python-RDD scans in {python_rdd}"


def test_sole_late_single_fact_shuffle(spark, sf_dir):
    # EXISTS/NOT-EXISTS decorrelated into windows: the fact side shuffles
    # once on l_orderkey (agg + both windows reuse it); orders joins in
    # without a second lineitem pass, supplier joins broadcast
    plan = _plan(spark, sf_dir, "sole_late_supplier")
    assert "BroadcastHashJoin" in plan
    assert plan.count("FileScan parquet") == 3  # lineitem, orders, supplier


def test_idle_rich_broadcast_threshold_and_anti(spark, sf_dir):
    plan = _plan(spark, sf_dir, "idle_rich_customers")
    # scalar threshold arrives broadcast; anti join on orders
    assert "BroadcastNestedLoopJoin" in plan
    assert "LeftAnti" in plan


def test_trailing_7d_single_shuffle(spark, sf_dir):
    # RANGE window rides one o_custkey exchange, no join
    plan = _plan(spark, sf_dir, "orders_trailing_7d")
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_outlier_fences_broadcasts_tiny_agg(spark, sf_dir):
    # percentile fences are a tiny agg broadcast back; the big side only
    # shuffles for its own group agg
    plan = _plan(spark, sf_dir, "outlier_fences")
    assert "BroadcastHashJoin" in plan


def test_heavy_hitter_takeordered_and_broadcast_total(spark, sf_dir):
    plan = _plan(spark, sf_dir, "heavy_hitter_custkeys")
    # top-k is a TakeOrdered (no global sort), total joins as broadcast
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_deterministic_sample_single_shuffle(spark, sf_dir):
    # md5 predicate is a pure row-local map: only the groupBy shuffles
    plan = _plan(spark, sf_dir, "deterministic_sample_orders")
    assert plan.count("Exchange") == 1


def test_snapshot_diff_full_outer_sort_merge(spark, sf_dir):
    plan = _plan(spark, sf_dir, "snapshot_diff_orders")
    assert "SortMergeJoin" in plan and "FullOuter" in plan


def test_spearman_rank_windows_are_partitioned(spark, sf_dir):
    # the distinct-value cumulative windows must be range-partitioned
    # (a near-unique double column has a rows-sized distinct table — a
    # global no-partition window would sort it on ONE task); only the
    # partition-offset windows (~#partitions rows) may be global.
    # Since the round-5 __pid pin, the cumulative window executes
    # inside the localCheckpoint job (the final query plan reads the
    # checkpointed RDD), so the assertion targets the PRE-checkpoint
    # frame — the plan that actually runs — built by the same
    # construction tie_avg_ranks checkpoints.
    import re
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from parking_bigdata_spark.io import load_table
    li = load_table(spark, sf_dir, "lineitem")
    for col in ("l_quantity", "l_extendedprice"):
        counts = li.groupBy(col).agg(F.count(F.lit(1)).alias("t"))
        d = (counts.repartitionByRange(F.col(col))
                   .withColumn("__pid", F.spark_partition_id()))
        wl = (Window.partitionBy("__pid").orderBy(col)
              .rowsBetween(Window.unboundedPreceding, 0))
        local = d.withColumn("__cum", F.sum("t").over(wl))
        plan = local._jdf.queryExecution().executedPlan().toString()
        assert re.search(rf"windowspecdefinition\(__pid#\d+, {col}", plan)
        assert "Exchange SinglePartition" not in plan
    # the final spearman plan keeps only tiny offset windows + the
    # 1-row corr aggregate as single-partition exchanges
    plan = _plan(spark, sf_dir, "spearman_qty_price")
    assert plan.count("Exchange SinglePartition") <= 3


def test_scd2_windows_share_one_shuffle(spark, sf_dir):
    # lag-filter-lead all ride a single user_id exchange
    plan = _plan(spark, sf_dir, "scd2_user_event_state")
    assert plan.count("Exchange") == 1


def test_forecast_delta_all_filters_pushed(spark, sf_dir):
    # Q6 shape: shipdate band, discount band, and quantity cap all reach
    # the parquet scan; a single partial-agg reduce, no join
    plan = _plan(spark, sf_dir, "forecast_revenue_delta")
    # all three predicate columns are null-filtered + pushed (the plan
    # string truncates the filter list, so assert the visible prefix)
    assert ("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), "
            "IsNotNull(l_quantity), GreaterThanOrEqual") in plan
    # column pruning: only the 4 referenced columns are read
    assert ("ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
            "l_discount:double,l_shipdate:timestamp>") in plan
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_nation_trade_broadcasts_all_dims(spark, sf_dir):
    # Q7 shape: supplier/customer/nation(x2) broadcast; the only
    # sort-merge or shuffle joins allowed are lineitem<->orders
    plan = _plan(spark, sf_dir, "nation_trade_volume")
    assert plan.count("BroadcastHashJoin") >= 4


def test_profit_broadcasts_filtered_part(spark, sf_dir):
    # Q9 shape: the name-filtered part list joins as a broadcast so
    # non-matching lineitem rows are dropped before the orders shuffle
    plan = _plan(spark, sf_dir, "profit_by_nation_year")
    assert plan.count("BroadcastHashJoin") >= 3


def test_returned_items_filters_both_facts(spark, sf_dir):
    # Q10 shape: returnflag filter pushed to lineitem scan, orderdate
    # filter pushed to orders scan — both shrink before the shuffle
    plan = _plan(spark, sf_dir, "returned_item_customers")
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_nation_value_share_broadcast_total(spark, sf_dir):
    # Q11 shape: the global-total scalar rides a 1-row broadcast nested
    # loop join, never a fact self-join on a key
    plan = _plan(spark, sf_dir, "nation_value_share")
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_small_qty_no_fact_self_join_shuffle(spark, sf_dir):
    # Q17 shape: the per-part average joins back as a broadcast; the
    # brand-filtered fact never shuffles for the correlation
    plan = _plan(spark, sf_dir, "small_qty_order_revenue")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_excess_shipment_all_broadcast(spark, sf_dir):
    # Q20 shape: part list, supplier agg (<=100 rows), and nation/region
    # all broadcast — zero sort-merge joins
    plan = _plan(spark, sf_dir, "excess_shipment_suppliers")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_basket_lift_broadcasts_part_and_marginals(spark, sf_dir):
    plan = _plan(spark, sf_dir, "basket_brand_lift")
    # part dim + brand marginals + order total all arrive by broadcast
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin") >= 3
    # no sort-merge join: the pair join is hash on the orderkey
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1


def test_bootstrap_single_scan_partial_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "bootstrap_ci_order_value")
    # the 32 replicate sums/counts AND the full mean ride ONE scan
    # (65 conditional aggregates — no fan-out, no second pass)
    assert plan.count("FileScan") == 1
    # map-side partial aggregation collapses the scan to 1-row partials
    assert "partial_" in plan


def test_benford_digit_from_string_no_udf(spark, sf_dir):
    plan = _plan(spark, sf_dir, "benford_order_totals")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_gini_rank_windows_are_partitioned(spark, sf_dir):
    # the per-segment rank windows must ride the range partitioning —
    # no WindowExec over an unpartitioned segment sort of the values
    plan = _plan(spark, sf_dir, "gini_acctbal_by_segment")
    for ln in plan.splitlines():
        if "Window" in ln and "windowspecdefinition(v" in ln:
            raise AssertionError(f"value-ordered global window: {ln}")


def test_info_gain_single_union_pipeline(spark, sf_dir):
    plan = _plan(spark, sf_dir, "info_gain_features")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cv_metrics_plan_is_two_scan_jvm(spark, sf_dir):
    # leave-fold-out CV: no Python evals, no data-sized windows; the
    # per-fold coefficient frame must come back as a broadcast join
    from parking_bigdata_spark.plans import audit

    from parking_bigdata_spark import queries as Q
    a = audit(Q.queries()["cv_metrics_by_fold"](spark, sf_dir))
    assert a.python_evals == 0 and a.arrow_evals == 0
    assert a.broadcast_hash_joins >= 1
    assert "WindowExec" not in a.text


def test_score_holdout_pushes_filters(spark, sf_dir):
    # the held-out fold filter must reach the parquet scan, and scoring
    # is a pure projection: zero shuffles, zero Python
    from parking_bigdata_spark.plans import audit

    from parking_bigdata_spark import queries as Q
    a = audit(Q.queries()["score_holdout"](spark, sf_dir))
    assert a.python_evals == 0 and a.arrow_evals == 0
    assert a.shuffles == 0
    assert any("l_quantity" in f or "IsNotNull" in f
               for f in a.pushed_filters)


def test_trimmed_mean_no_data_sized_windows(spark, sf_dir):
    # candidate windows partition by group; the fact never sorts whole
    import re

    from parking_bigdata_spark.plans import audit

    from parking_bigdata_spark import queries as Q
    a = audit(Q.queries()["trimmed_mean_price"](spark, sf_dir))
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", a.text):
        assert "l_returnflag" in m.group(1), m.group(0)


def test_plan_audit_ignores_reused_exchange(spark):
    # a ReusedExchange node prints "ReusedExchange [...], Exchange
    # hashpartitioning(...)": the embedded mention must not count as a
    # shuffle (code-review r02, empirically double-counted before)
    import pyspark.sql.functions as F

    from parking_bigdata_spark.plans import audit

    df = spark.range(0, 1000).select((F.col("id") % 7).alias("k"))
    agg = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    joined = agg.alias("a").join(agg.alias("b"), "k")
    a = audit(joined)
    if "ReusedExchange" in a.text:
        # reuse fired: exactly one real shuffle despite two agg branches
        assert a.shuffles == 1, a.text


def test_bloom_and_dsir_broadcast_only(spark, sf_dir):
    # the probe-side tables are bounded by construction (2^16 bloom
    # positions; 64 hash buckets) — the plan must broadcast them, never
    # shuffle the token/gram stream into a SortMergeJoin
    from parking_bigdata_spark import queries as Q
    for name in ("decontam_bloom", "dsir_importance_weights"):
        plan = (Q.queries()[name](spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString())
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_pid_offset_sites_are_pinned():
    """Source audit for the round-5 wrong-answer class (VERDICT r05
    #4): ``spark_partition_id()`` over an un-pinned range exchange is
    only meaningful within ONE physical evaluation — AQE may plan a
    re-read differently per consumer, so every site that derives a
    ``__pid`` column and joins per-partition offsets back MUST pin one
    evaluation with ``localCheckpoint(eager=True)`` before the offsets
    derive (observed at sf0.1: hosmer_lemeshow dropped ~half its rows,
    ad_ksample diverged 600x). This test fails the moment a FUTURE
    spark_partition_id offset site forgets the pin — convention is no
    longer the only guard.

    Mechanical rule: inside any function whose body mentions
    ``spark_partition_id``, deriving a ``__pid`` COLUMN (the
    offset-join construction) requires ``localCheckpoint`` in the same
    function. Using spark_partition_id purely inline as a window
    PARTITION key (the two-phase local-prune top-k sites — no column,
    single consumer, nothing joined on layout identity) needs no pin.
    """
    import ast
    import pathlib
    import re

    pkg = pathlib.Path(Q.__file__).resolve().parent.parent
    offenders: list[str] = []
    pinned_sites = 0
    keyonly_sites = 0
    for py in sorted(pkg.rglob("*.py")):
        src = py.read_text()
        if "spark_partition_id" not in src:
            continue
        lines = src.splitlines()
        for node in ast.walk(ast.parse(src)):
            if not isinstance(node, ast.FunctionDef):
                continue
            seg = "\n".join(lines[node.lineno - 1:node.end_lineno])
            if "spark_partition_id" not in seg:
                continue
            if "__pid" not in seg:
                keyonly_sites += 1
                continue
            # a site is pinned if it materializes one evaluation
            # before the offsets derive: directly (localCheckpoint)
            # or through the stats.pin helper (localCheckpoint in
            # local mode, reliable checkpoint when a checkpoint dir
            # is configured). `def pin` itself is the helper body.
            # \b: substring "pin(" also matches spin(/unpin( — require
            # a word-boundary call of the pin helper (r06 ADVICE #5)
            if "localCheckpoint" in seg or re.search(r"\bpin\(", seg):
                pinned_sites += 1
            else:
                offenders.append(
                    f"{py.relative_to(pkg)}:{node.lineno} {node.name}()")
    # the audit must actually be seeing the known sites (4 stats
    # helpers + residual_diagnostics + the query-local offset joins,
    # and the 2 window-key-only top-k sites) — if these counts drop to
    # zero the scan itself broke, not the code under audit
    assert pinned_sites >= 9, f"audit saw only {pinned_sites} pinned sites"
    assert keyonly_sites >= 2, f"audit saw only {keyonly_sites} key-only sites"
    assert not offenders, (
        "spark_partition_id offset-join site(s) missing the "
        "localCheckpoint layout pin (round-5 class bug): "
        + "; ".join(offenders))


def test_pin_upgrades_to_reliable_checkpoint(spark, sf_dir, tmp_path):
    """stats.pin must use executor-local checkpointing by default and
    automatically upgrade to RELIABLE checkpointing (executor-loss-
    safe; the r05 ADVICE cluster-scale ask) when the application has
    configured sc.setCheckpointDir — with identical values either way."""
    from parking_bigdata_spark.operators import stats as S
    from pyspark.sql import functions as F

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).cast("double").alias("v"))
    base = sorted(r["id"] for r in S.pin(df).collect())

    sc = spark.sparkContext
    assert not sc._jsc.sc().getCheckpointDir().isDefined()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        pinned = S.pin(df)
        assert sorted(r["id"] for r in pinned.collect()) == base
        # the reliable path actually wrote checkpoint files
        import os
        wrote = any(files for _, _, files in os.walk(tmp_path / "ckpt"))
        assert wrote, "reliable checkpoint dir is empty"
        # a __pid machinery consumer still works end-to-end
        ranked = S.tie_avg_ranks(
            df.groupBy("v").agg(F.count(F.lit(1)).alias("t")), "v", "t")
        assert ranked.count() == 7
    finally:
        # unset for the rest of the session (None clears it on the JVM)
        sc._jsc.sc().setCheckpointDir(None)
        assert not sc._jsc.sc().getCheckpointDir().isDefined()
