"""Structured Streaming: the streaming windowed aggregation must produce
exactly the batch query's result once the availableNow run drains."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from parking_bigdata_spark.queries.b_llm import (
    events_sessions, events_windowed, stream_interval_join_batch)
from parking_bigdata_spark.queries.c_temporal import events_hopping_windows
from parking_bigdata_spark.streaming import events as stream_ev


def test_streaming_windowed_matches_batch(spark, sf_dir):
    batch = {(r["wstart"], r["event_type"]): (r["n_events"], r["sum_value"])
             for r in events_windowed(spark, sf_dir).collect()}
    streamed = stream_ev.run_windowed_counts_batchlike(
        spark, sf_dir, "t_stream_win")
    got = {(r["wstart"], r["event_type"]): (r["n_events"], r["sum_value"])
           for r in streamed.collect()}
    assert got == batch


def test_out_of_order_batches_converge_to_batch_answer(spark, tmp_path):
    """Disorder tolerance: event-time windows fed out of order across
    micro-batches (maxFilesPerTrigger=1) still produce each window
    EXACTLY ONCE with the complete count — the append-mode watermark
    contract that makes streaming results equal the batch computation."""
    import pandas as pd
    d = tmp_path / "late"
    d.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00").value  # ns
    HOUR = 3_600 * 10**9

    def mk(name, rows):
        pd.DataFrame({
            "event_id": range(len(rows)),
            "ts": [base + r * HOUR for r in rows],
            "user_id": [1] * len(rows),
            "event_type": ["click"] * len(rows),
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }).to_parquet(d / name)

    # micro-batch 1 carries hours {0, 10}; micro-batch 2 delivers an
    # out-of-order hour-0 row — it must merge into the hour-0 window,
    # and every window must be emitted exactly once
    mk("events_b1.parquet", [0, 10])
    mk("events_b2.parquet", [0])
    stream = stream_ev.windowed_counts(
        stream_ev.read_events_stream(spark, str(d), max_files_per_trigger=1),
        window="1 hour", watermark="2 hours")
    q = (stream.writeStream.format("memory").queryName("t_late")
               .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.table("t_late").collect()
    per_window = {}
    for r in rows:
        per_window.setdefault(r["wstart"].hour, []).append(r["n_events"])
    assert per_window[0] == [2]    # merged across batches, emitted once
    # the hour-10 window is still OPEN (final watermark 08:00 < its
    # end): append mode correctly withholds unclosed windows
    assert 10 not in per_window


def test_streaming_running_totals(spark, sf_dir):
    ev = stream_ev.read_events_stream(spark, sf_dir)
    q = (stream_ev.user_running_totals(ev)
         .writeStream.format("memory").queryName("t_user_totals")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.table("t_user_totals").collect()
    assert len(rows) > 0
    assert all(r["n_events"] > 0 for r in rows)


def test_streaming_hopping_matches_batch(spark, sf_dir):
    """Sliding windows in the stream: 1d/12h hopping counts drained via
    availableNow equal the batch hopping-window query."""
    from pyspark.sql import functions as F

    batch = {(r["win_start"], r["event_type"]): r["n"]
             for r in events_hopping_windows(spark, sf_dir).collect()}
    stream = stream_ev.windowed_counts(
        stream_ev.read_events_stream(spark, sf_dir),
        window="1 day", slide="12 hours")
    q = (stream.writeStream.format("memory").queryName("t_stream_hop")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["wstart"], r["event_type"]): r["n_events"]
           for r in spark.table("t_stream_hop").collect()}
    assert got == batch


def test_stream_static_enrichment_broadcasts(spark, sf_dir):
    ev = stream_ev.read_events_stream(spark, sf_dir)
    dim = spark.createDataFrame(
        [("purchase", 1.0), ("click", 0.1)], "event_type string, weight double")
    enriched = stream_ev.enrich_with_static(ev, dim)
    q = (enriched.writeStream.format("memory").queryName("t_stream_enrich")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    out = spark.table("t_stream_enrich")
    total = out.count()
    assert total == spark.read.parquet(f"{sf_dir}/events.parquet").count()
    # joined rows carry the weight; unmatched types stay (left join)
    from pyspark.sql import functions as F
    matched = out.where(F.col("weight").isNotNull()).count()
    assert 0 < matched < total


def test_foreach_batch_sink_idempotent_layout(spark, sf_dir, tmp_path):
    out = str(tmp_path / "fb_out")
    stream_ev.run_foreach_batch_sink(spark, sf_dir, out)
    back = spark.read.option("basePath", out).parquet(out + "/batch=*")
    # update-mode deltas across batches must reassemble to the batch
    # answer: latest emission per (window, type) wins
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F
    latest = (back.withColumn(
        "rk", F.row_number().over(
            W.partitionBy("wstart", "event_type").orderBy(F.col("batch").desc())))
        .where(F.col("rk") == 1))
    batch = {(r["wstart"], r["event_type"]): (r["n_events"], r["sum_value"])
             for r in events_windowed(spark, sf_dir).collect()}
    got = {(r["wstart"], r["event_type"]): (r["n_events"], r["sum_value"])
           for r in latest.collect()}
    assert got == batch


def test_stream_stream_join_matches_batch(spark, sf_dir):
    # the stream-stream interval join must converge to the static
    # interval join over the same data
    from parking_bigdata_spark.streaming.events import (
        run_view_purchase_attribution_batchlike)
    from parking_bigdata_spark.io import load_table

    got = run_view_purchase_attribution_batchlike(spark, sf_dir, "1 hour")

    # the comparison side IS the registered oracle-checked query
    # (stream_interval_join_batch), so stream == batch == DuckDB
    want = stream_interval_join_batch(spark, sf_dir)
    key = lambda r: (r["view_id"], r["purchase_id"])
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))
    assert got.count() > 0


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Kill-and-restart: a checkpointed file-source stream restarted
    over the same directory must process each input file exactly once —
    the second run resumes from the source offsets in the checkpoint
    instead of re-reading (and re-counting) run 1's files."""
    import pandas as pd
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = tmp_path / "out"
    base = pd.Timestamp("2024-01-01 00:00:00").value  # ns
    HOUR = 3_600 * 10**9

    def mk(name, n, hour):
        pd.DataFrame({
            "event_id": range(n),
            "ts": [base + hour * HOUR] * n,
            "user_id": [1] * n,
            "event_type": ["click"] * n,
            "value": [1.0] * n,
            "props": ["{}"] * n,
        }).to_parquet(src / name)

    def run_once():
        ev = stream_ev.read_events_stream(spark, str(src),
                                          max_files_per_trigger=1)
        counts = (ev.groupBy("event_type")
                    .agg(F.count(F.lit(1)).alias("n")))
        q = (counts.writeStream
                   .foreachBatch(lambda df, bid: df.write.mode("overwrite")
                                 .parquet(str(out)))
                   .option("checkpointLocation", ckpt)
                   .outputMode("complete")
                   .trigger(availableNow=True).start())
        q.awaitTermination()

    mk("events_a.parquet", 3, 0)
    run_once()
    assert spark.read.parquet(str(out)).collect()[0]["n"] == 3

    # "restart": new query, same checkpoint; only the new file may count
    # once more on top of the recovered state
    mk("events_b.parquet", 5, 1)
    run_once()
    assert spark.read.parquet(str(out)).collect()[0]["n"] == 8


def test_session_window_stream_matches_custom_sessionizer(spark, sf_dir):
    """Native F.session_window (engine-managed merging state) must
    agree with the batch gap-sessionizer on sessions-per-user and
    events-per-user, and with a batch session_window plan row-for-row."""
    from parking_bigdata_spark.io import load_table
    from parking_bigdata_spark.streaming.events import (
        run_session_window_batchlike, session_window_counts)

    streamed = run_session_window_batchlike(spark, sf_dir).collect()
    per_user = {}
    for r in streamed:
        n_sess, n_ev = per_user.get(r["user_id"], (0, 0))
        per_user[r["user_id"]] = (n_sess + 1, n_ev + r["n_events"])
    batch = {r["user_id"]: (r["n_sessions"], r["n_events"])
             for r in events_sessions(spark, sf_dir).collect()}
    assert per_user == batch

    # the same session_window expression runs as a plain batch groupBy
    batch_native = session_window_counts(load_table(spark, sf_dir, "events"))
    a = {tuple(r) for r in batch_native.collect()}
    b = {tuple(r) for r in streamed}
    assert a == b


def test_transform_with_state_decay_matches_closed_form(spark, sf_dir):
    """transformWithStateInPandas (Spark 4 typed-state API): the
    incremental per-user decay recurrence must converge to the batch
    closed form sum(v_i * exp(-lam*(t_max - t_i))) — float-tolerance
    equality (addition order differs), exact on n_events."""
    # the transformWithState protocol speaks protobuf between the JVM
    # and the Python state server; not installed in every environment
    pytest.importorskip("google.protobuf.descriptor")
    import math

    import pyspark.sql.functions as F

    from parking_bigdata_spark.io import load_table
    from parking_bigdata_spark.streaming.decay import (
        LAMBDA_PER_US, run_decayed_engagement_batchlike)

    streamed = {r["user_id"]: (r["score"], r["n_events"])
                for r in run_decayed_engagement_batchlike(
                    spark, sf_dir).collect()}

    ev = (load_table(spark, sf_dir, "events")
          .where(F.col("ts").isNotNull())
          .select("user_id", F.unix_micros("ts").alias("us"),
                  F.coalesce("value", F.lit(0.0)).alias("v")))
    w_max = (ev.groupBy("user_id").agg(F.max("us").alias("max_us")))
    closed = (ev.join(w_max, "user_id")
                .groupBy("user_id")
                .agg(F.sum(F.col("v") * F.exp(F.lit(-LAMBDA_PER_US)
                                              * (F.col("max_us") - F.col("us"))))
                      .alias("score"),
                     F.count(F.lit(1)).alias("n_events")))
    batch = {r["user_id"]: (r["score"], r["n_events"])
             for r in closed.collect()}

    assert set(streamed) == set(batch)
    for uid, (s, n) in batch.items():
        ss, sn = streamed[uid]
        assert sn == n, (uid, sn, n)
        assert math.isclose(ss, s, rel_tol=1e-9, abs_tol=1e-9), (uid, ss, s)


def test_decay_processor_unit_resolution_invariant():
    """The decay processor must compute identical scores whether Arrow
    hands pandas datetime64[ns] or datetime64[us] timestamps (pandas
    2.x can produce either) — guards the explicit µs normalization."""
    import math

    import pandas as pd

    from parking_bigdata_spark.streaming.decay import (
        LAMBDA_PER_US, DecayedEngagementProcessor)

    class FakeState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeHandle:
        def getValueState(self, name, schema):
            return FakeState()

    ts = pd.to_datetime(["2024-01-01 00:00:00", "2024-01-02 00:00:00",
                         "2024-01-01 12:00:00"])  # one out-of-order row
    vals = [1.0, 2.0, 4.0]
    results = {}
    for unit in ("ns", "us"):
        proc = DecayedEngagementProcessor()
        proc.init(FakeHandle())
        batch = pd.DataFrame({"ts": ts.astype(f"datetime64[{unit}]"),
                              "value": vals})
        out = list(proc.handleInputRows((7,), iter([batch]), None))[0]
        results[unit] = (float(out["score"][0]), int(out["n_events"][0]))

    assert results["ns"] == results["us"]
    # closed form: decay to t_max (half-life = 1 day)
    expected = 1.0 * 0.5 + 2.0 + 4.0 * math.exp(
        -LAMBDA_PER_US * 12 * 3600 * 1e6)
    assert math.isclose(results["ns"][0], expected, rel_tol=1e-12)
    assert results["ns"][1] == 3
