"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over :mod:`parking_bigdata_spark.queries` — the registry pairs
every implemented operator from SURVEY.md §2 with its DuckDB oracle SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from parking_bigdata_spark import queries as Q
from parking_bigdata_spark.queries.a_core import q1_pricing_summary


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shaped pricing summary) on sf0.001."""
    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return Q.queries()


def oracle_sql() -> dict[str, str]:
    return Q.oracle_sql()
