"""``io.load_table``'s schema memo: a table's first load infers its
schema with a Spark job; later loads of the unchanged files reuse that
schema and run no job, and a rewritten, replaced or missing table
behaves exactly as a fresh ``spark.read.parquet``."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import TimestampType

from parking_bigdata_spark import io


def test_second_load_of_unchanged_table_runs_no_job(spark, count_jobs, sf_dir,
                                                    tmp_path):
    pq.write_table(pq.read_table(f"{sf_dir}/orders.parquet"),
                   tmp_path / "orders.parquet")
    first, n_first = count_jobs(lambda: io.load_table(
        spark, str(tmp_path), "orders"))
    second, n_second = count_jobs(lambda: io.load_table(
        spark, str(tmp_path), "orders"))
    assert n_first >= 1      # the first load infers
    assert n_second == 0
    assert second.schema == first.schema
    assert second.count() == first.count()


@pytest.mark.parametrize("name", io.TABLES)
def test_memoized_schema_equals_inferred_schema(spark, count_jobs, sf_dir,
                                                name):
    io.load_table(spark, sf_dir, name)
    df, n_jobs = count_jobs(lambda: io.load_table(spark, sf_dir, name))
    assert n_jobs == 0
    # inferred under the confs load_table has just set
    raw = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
    if name == "events":
        # TIMESTAMP(NANOS) files infer ts as bigint and the loader
        # converts it; TIMESTAMP(MICROS) files infer a timestamp
        assert df.schema["ts"].dataType == TimestampType()
        assert raw["ts"].dataType.simpleString() in ("bigint", "timestamp")
        assert df.schema.names == raw.names
        assert ([f for f in df.schema.fields if f.name != "ts"]
                == [f for f in raw.fields if f.name != "ts"])
    else:
        assert df.schema == raw


def test_nanosecond_events_ts_converts_on_a_memo_hit(spark, count_jobs,
                                                     tmp_path):
    """TIMESTAMP(NANOS) ``ts`` is stored in the memo as the bigint Spark
    infers for it; a hit reads it with that schema and still converts."""
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(pa.table({"event_id": [0, 1],
                             "ts": pa.array(ns, pa.timestamp("ns"))}),
                   tmp_path / "events.parquet")
    first = io.load_table(spark, str(tmp_path), "events")
    second, n_jobs = count_jobs(lambda: io.load_table(
        spark, str(tmp_path), "events"))
    assert n_jobs == 0
    assert second.schema["ts"].dataType == TimestampType()
    got = second.selectExpr("unix_micros(ts) AS us").orderBy("us").collect()
    assert [r.us for r in got] == [v // 1000 for v in ns]
    assert second.collect() == first.collect()


def test_rewritten_directory_table_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(5).write.parquet(path)
    assert io.load_table(spark, str(tmp_path), "t").schema.names == ["id"]
    (spark.range(5).selectExpr("id", "CAST(id AS STRING) AS s")
     .write.mode("overwrite").parquet(path))
    df = io.load_table(spark, str(tmp_path), "t")
    assert df.schema.names == ["id", "s"]
    assert sorted(r.s for r in df.collect()) == ["0", "1", "2", "3", "4"]


def test_replaced_single_file_table_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert io.load_table(spark, str(tmp_path), "t").schema.names == ["a"]
    staged = tmp_path / "t.parquet.new"
    pq.write_table(pa.table({"b": ["x", "y", "z"]}), staged)
    os.replace(staged, path)
    df = io.load_table(spark, str(tmp_path), "t")
    assert df.schema.names == ["b"]
    assert df.count() == 3


def test_schema_affecting_conf_is_part_of_the_key(spark, tmp_path):
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}),
                   tmp_path / "t.parquet")
    assert io.load_table(spark, str(tmp_path), "t").schema["b"] \
        .dataType.simpleString() == "binary"
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        df = io.load_table(spark, str(tmp_path), "t")
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert df.schema["b"].dataType.simpleString() == "string"


def test_uri_path_infers_on_every_call(spark, count_jobs, sf_dir, tmp_path):
    pq.write_table(pq.read_table(f"{sf_dir}/region.parquet"),
                   tmp_path / "region.parquet")
    uri = f"file://{tmp_path}"
    for _ in range(2):
        df, n_jobs = count_jobs(lambda: io.load_table(spark, uri, "region"))
        assert n_jobs >= 1
        assert df.count() == 5
    assert f"{uri}/region.parquet" not in io._SCHEMAS


def test_missing_path_raises_spark_path_not_found(spark, tmp_path):
    with pytest.raises(AnalysisException) as err:
        io.load_table(spark, str(tmp_path / "absent"), "orders")
    assert err.value.getCondition() == "PATH_NOT_FOUND"
