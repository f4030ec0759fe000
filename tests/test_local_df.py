"""``io.local_df``: driver-side rows become an Arrow ``LocalRelation``
with exactly the values and schema the list form
``spark.createDataFrame(rows, schema)`` gives, without the list form's
pickled Python RDD (a Spark job through Python workers); and it is the
package's only ``createDataFrame`` call."""

from __future__ import annotations

import ast
import datetime as dt
import decimal
import os
import pathlib
import time

import pytest
from pyspark.sql import functions as F

from parking_bigdata_spark import io

EDGE_DDL = ("x double, l long, dec decimal(15,2), a array<double>, "
            "b boolean, s string, i int, d date")
EDGE_ROWS = [
    (float("nan"), -2**63, decimal.Decimal("-1234567890123.45"),
     [1.0, None, -0.0], True, "주차장 — é", -2**31, dt.date(1995, 1, 1)),
    (-0.0, 2**63 - 1, decimal.Decimal("0.01"), [], False, "", 2**31 - 1,
     dt.date(1970, 1, 1)),
    (float("inf"), 0, None, None, None, None, None, None),
    (None, None, decimal.Decimal("9999999999999.99"), [float("-inf")],
     True, "\x00tab\t", 0, None),
]


def _same_as_list_form(spark, rows, schema):
    """Collected rows (compared by ``repr``, so NaN and -0.0 count) and
    schema of ``local_df`` equal the list form's."""
    got = io.local_df(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert repr(got.collect()) == repr(want.collect())
    return got


@pytest.mark.parametrize("rows", [EDGE_ROWS, EDGE_ROWS[:1], []],
                         ids=["edge_rows", "one_row", "zero_rows"])
def test_values_and_schema_match_list_form(spark, rows):
    _same_as_list_form(spark, rows, EDGE_DDL)


def test_struct_type_from_collected_rows_keeps_non_nullable(spark):
    src = (spark.range(5)
           .groupBy((F.col("id") % 2).alias("k"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.max(F.col("id") * 0.5).alias("mx"),
                F.collect_list("id").alias("ids"))
           .orderBy("k"))
    assert not src.schema["n"].nullable     # count() is never NULL
    got = _same_as_list_form(spark, src.collect(), src.schema)
    assert got.schema == src.schema


def test_plans_as_local_table_scan_and_runs_no_job(spark, count_jobs):
    df = io.local_df(spark, [(1, 2.5), (2, None)], "k int, v double")
    rows, n_jobs = count_jobs(df.collect)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert n_jobs == 0 and [tuple(r) for r in rows] == [(1, 2.5), (2, None)]
    # the list form, for contrast: a Python-RDD scan executed as a job
    listed = spark.createDataFrame([(1, 2.5), (2, None)], "k int, v double")
    _, n_list_jobs = count_jobs(listed.collect)
    assert "Scan ExistingRDD" in \
        listed._jdf.queryExecution().executedPlan().toString()
    assert n_list_jobs >= 1


@pytest.mark.parametrize("tz", ["UTC", "Asia/Seoul", "America/New_York"])
def test_timestamps_read_as_the_list_form_reads_them(spark, tz):
    # naive datetimes are local time to the list form (as collect()
    # returns them); aware ones keep their instant. The 02:30 on
    # 2020-03-08 does not exist in New York (DST gap).
    rows = [(dt.datetime(2020, 3, 8, 2, 30, 0, 123456),),
            (dt.datetime(2021, 6, 1, 12, 0,
                         tzinfo=dt.timezone(dt.timedelta(hours=-3))),),
            (None,)]
    old = os.environ.get("TZ")
    os.environ["TZ"] = tz
    time.tzset()
    try:
        _same_as_list_form(spark, rows, "ts timestamp")
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


def test_rejects_null_in_non_nullable_field_and_ragged_rows(spark):
    with pytest.raises(ValueError, match="non-nullable"):
        io.local_df(spark, [(1,), (None,)], "k int NOT NULL")
    with pytest.raises(ValueError, match="2 fields"):
        io.local_df(spark, [(1, 2.0), (3,)], "k int, v double")


def test_local_df_is_the_packages_only_create_dataframe_call():
    """A ``createDataFrame`` call anywhere else in the package would
    bring back the Python-RDD path (or a second way to build a local
    frame); docstrings and comments may still name it."""
    pkg = pathlib.Path(io.__file__).parent
    found = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        allowed = set()
        if path == pathlib.Path(io.__file__):
            fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef)
                      and n.name == "local_df")
            allowed = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                    and id(node) not in allowed):
                found.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert found == []
