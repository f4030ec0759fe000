"""Driver-session robustness: the build driver supplies its OWN
SparkSession (no builder configs of ours). Queries must self-heal the
session confs they depend on."""

from __future__ import annotations

from parking_bigdata_spark.queries.a_core import market_share_by_year
from parking_bigdata_spark.queries.b_llm import events_windowed


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
