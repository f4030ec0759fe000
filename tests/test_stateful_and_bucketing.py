"""Stateful streaming sessionization, bucketed tables, sketches."""

from __future__ import annotations

from pyspark.sql import functions as F

from parking_bigdata_spark.queries.a_core import sketch_distinct_parts
from parking_bigdata_spark.queries.b_llm import events_sessions
from parking_bigdata_spark.io import load_table, write_bucketed_table
from parking_bigdata_spark.streaming import sessions as ss


def test_stateful_sessionize_matches_batch(spark, sf_dir):
    batch = {(r["user_id"]): (r["n_sessions"], r["n_events"])
             for r in events_sessions(spark, sf_dir).collect()}
    got = {(r["user_id"]): (r["n_sessions"], r["n_events"])
           for r in ss.run_sessionize_batchlike(spark, sf_dir,
                                                "t_sessions_state").collect()}
    assert got == batch


def test_stateful_sessionize_out_of_order_batches(spark, tmp_path):
    """An event arriving out of order in a LATER micro-batch must not
    rewind the session high-water mark and spuriously open sessions."""
    import pandas as pd
    d = tmp_path / "ooo"
    d.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00").value
    MIN = 60 * 10**9

    def mk(name, minutes, start):
        pd.DataFrame({
            "event_id": range(start, start + len(minutes)),
            "ts": [base + m * MIN for m in minutes],
            "user_id": [1] * len(minutes),
            "event_type": ["click"] * len(minutes),
            "value": [1.0] * len(minutes),
            "props": ["{}"] * len(minutes),
        }).to_parquet(d / name)

    # batch 1: 08:00 and 09:00 (gap 60min > 30min -> 2 sessions);
    # batch 2: stragglers 08:10, 08:50 — within known history, must
    # NOT create new sessions
    mk("events_b1.parquet", [480, 540], 0)
    mk("events_b2.parquet", [490, 530], 10)
    from parking_bigdata_spark.streaming import sessions as ss2
    got = {r["user_id"]: (r["n_sessions"], r["n_events"])
           for r in ss2.run_sessionize_batchlike(
               spark, str(d), "t_ooo_sessions").collect()}
    assert got[1] == (2, 4)


def test_streaming_reads_partfile_events_dir(spark, sf_dir, tmp_path):
    """Engine-written events datasets are DIRECTORIES of part-files;
    the stream reader must not silently yield zero rows on them."""
    from parking_bigdata_spark.io import load_table
    from parking_bigdata_spark.streaming import events as se
    ev = load_table(spark, sf_dir, "events")
    out = tmp_path / "engine_out"
    ev.repartition(4).write.parquet(str(out / "events.parquet"))
    streamed = se.run_windowed_counts_batchlike(
        spark, str(out), "t_partdir_stream")
    total = sum(r["n_events"] for r in streamed.collect())
    assert total == ev.count()


def test_bucketed_join_skips_shuffle(spark, sf_dir, tmp_path):
    import shutil
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    for t in ("li_b", "ord_b"):  # stale dirs from aborted runs
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders") \
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
    write_bucketed_table(li, "li_b", "l_orderkey", n_buckets=8)
    write_bucketed_table(orders, "ord_b", "l_orderkey", n_buckets=8)
    # force the shuffle-join path (at real scale these sides aren't
    # broadcastable); bucketing must then remove both Exchanges
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_b").join(spark.table("ord_b"), "l_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan
        assert joined.count() == li.join(orders, "l_orderkey").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_sketch_distinct_within_tolerance(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    exact = {r["l_returnflag"]: r["e"] for r in
             li.groupBy("l_returnflag")
               .agg(F.countDistinct("l_partkey").alias("e")).collect()}
    approx = {r["l_returnflag"]: r["approx_parts"] for r in
              sketch_distinct_parts(spark, sf_dir).collect()}
    for k, e in exact.items():
        assert abs(approx[k] - e) / e < 0.05


def test_sorted_parquet_rowgroups_are_narrow(spark, sf_dir, tmp_path):
    """write_sorted_parquet: each output file must cover a narrow,
    non-overlapping slice of the sort key — that's what lets parquet
    min/max stats skip row groups for range scans at 100 TB."""
    import glob

    import pyarrow.parquet as pq

    from parking_bigdata_spark.io import load_table, write_sorted_parquet

    li = load_table(spark, sf_dir, "lineitem")
    out = str(tmp_path / "li_sorted")
    write_sorted_parquet(li.select("l_shipdate", "l_quantity"), out,
                         ["l_shipdate"], num_files=8)

    spans = []
    for f in glob.glob(out + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        col_idx = [md.schema.column(i).name
                   for i in range(md.num_columns)].index("l_shipdate")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            spans.append((st.min, st.max))
    spans.sort()
    assert len(spans) >= 4
    # non-overlapping: every row group's max <= next row group's min
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"overlapping row groups: {hi1} > {lo2}"


def test_compact_parquet_merges_small_files(spark, tmp_path):
    import glob

    from parking_bigdata_spark.io import compact_parquet

    src = str(tmp_path / "fragmented")
    # simulate a streaming sink: 64 tiny files
    spark.range(0, 100_000).repartition(64).write.parquet(src)
    assert len(glob.glob(src + "/*.parquet")) == 64

    out = str(tmp_path / "compacted")
    compact_parquet(spark, src, out, target_file_mb=128)
    n_out = len(glob.glob(out + "/*.parquet"))
    assert n_out < 8
    assert (spark.read.parquet(out).count() == 100_000)


def test_merge_schema_reads_evolved_dataset(spark, tmp_path):
    """Schema evolution: a dataset whose later files carry an extra
    column must read with the UNION schema under mergeSchema, with
    NULLs for the early files."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string") \
        .write.parquet(p + "/batch=1")
    spark.createDataFrame([(2, "b", 9.5)], "id long, v string, score double") \
        .write.parquet(p + "/batch=2")
    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(df.columns) == {"id", "v", "score", "batch"}
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Z-order clustered writes: every output file covers a small
    RECTANGLE in (x, y), so file-level min/max spans shrink on BOTH
    columns; a single-column sort clusters one dim and leaves the
    other spanning its full range (unprunable)."""
    import glob
    from parking_bigdata_spark.io import (write_sorted_parquet,
                                          write_zorder_parquet)
    df = spark.range(1 << 16).select(
        (F.col("id") % 256).alias("x"),
        F.pmod(F.xxhash64("id"), F.lit(256)).alias("y"),
        F.col("id").alias("payload"))

    def avg_spans(path):
        sx, sy = [], []
        for f in glob.glob(path + "/*.parquet"):
            r = (spark.read.parquet(f)
                 .agg(F.min("x"), F.max("x"), F.min("y"), F.max("y")).first())
            sx.append(r[1] - r[0])
            sy.append(r[3] - r[2])
        return sum(sx) / len(sx), sum(sy) / len(sy)

    zp, xp = str(tmp_path / "zorder"), str(tmp_path / "xsort")
    write_zorder_parquet(df, zp, "x", "y", bits=8, num_files=16)
    write_sorted_parquet(df, xp, ["x"], num_files=16)
    zx, zy = avg_spans(zp)
    xx, xy = avg_spans(xp)
    assert zx < 128 and zy < 128          # both dims clustered
    assert xx < 32 and xy > 200           # x-sort: other dim unprunable
    # same rows either way
    assert spark.read.parquet(zp).count() == 1 << 16


def test_aqe_splits_skewed_join_partition(spark, sf_dir):
    """Skew remedy #2 (besides the salted join of operators/joins.py):
    AQE's runtime skew-join split. With the skew thresholds lowered to
    test scale, a join against a 90%-hot-key table must show a
    SortMergeJoin marked skew=true in the final adaptive plan — proof
    the engine-level remedy actually engages, not just that the conf
    is set."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id"))
             .alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string"))
             .alias("payload"))
        small = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.col("id").alias("v"))
        joined = big.join(small, "k")
        # collect() executes THIS DataFrame's own QueryExecution —
        # a write or count() clones it and would leave the inspected
        # plan isFinalPlan=false
        assert len(joined.collect()) > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
