"""Driver-session robustness: the build driver supplies its OWN
SparkSession (no builder configs of ours). Queries must self-heal the
session confs they depend on."""

from __future__ import annotations

import pytest

from parking_bigdata_spark.queries.a_core import market_share_by_year
from parking_bigdata_spark.queries.b_llm import events_windowed
from parking_bigdata_spark.session import _mem_bytes, _page_size


def test_queries_survive_foreign_session_confs(spark, sf_dir):
    """Simulate a driver session: wrong timezone, nanos conf unset.
    ``newSession`` shares the SparkContext but has its own SQLConf."""
    foreign = spark.newSession()
    foreign.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    foreign.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    # events scan requires the nanos conf; year() requires UTC
    assert events_windowed(foreign, sf_dir).count() > 0
    years = [r["order_year"] for r in
             market_share_by_year(foreign, sf_dir).collect()]
    assert min(years) == 1995  # a non-UTC session would shift to 1994


def test_page_size_covers_heap(spark):
    """Tungsten pages are the power of two at or above heap/8192: a
    task's 8192-entry page table covers the whole heap, and a scalar
    pandas-UDF task's row queue takes 256 KB at a 2 GB heap instead of
    Spark's default 16 MB page. The session runs with that size."""
    assert _page_size("2g") == "262144b"
    for mem in ("512m", "2048", "7976m", "64g", "1t"):
        page = int(_page_size(mem)[:-1])
        assert page & (page - 1) == 0
        assert page * 8192 >= _mem_bytes(mem) > page * 4096
    for bad in ("", "2x", "1.5g", "g"):
        with pytest.raises(ValueError):
            _mem_bytes(bad)
    sc = spark.sparkContext
    heap = sc.getConf().get("spark.driver.memory")
    assert (sc._jsc.sc().env().memoryManager().pageSizeBytes()
            == int(_page_size(heap)[:-1]))
