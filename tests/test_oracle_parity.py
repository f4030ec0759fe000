"""Oracle parity: every SQL-expressible query in the registry must match
its DuckDB oracle on row count, column names, and (sorted) values —
mirrors the driver's t2 correctness gate.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

from parking_bigdata_spark import queries as Q

ORACLES = Q.oracle_sql()
ALL = Q.queries()


def _duck(sf_dir: str, sql: str) -> pd.DataFrame:
    # expected-parquet oracles are generated per SF; point the path at
    # the SF under test (the registry string hardcodes the driver's
    # sf0.01)
    import os
    sql = sql.replace("/expected/sf0.01/",
                      f"/expected/{os.path.basename(sf_dir)}/")
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con.execute(sql).df()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _assert_frames_match(name: str, a: pd.DataFrame, b: pd.DataFrame):
    assert sorted(a.columns) == sorted(b.columns), \
        f"{name}: columns {sorted(a.columns)} != {sorted(b.columns)}"
    assert len(a) == len(b), f"{name}: rows {len(a)} != {len(b)}"
    ca, cb = _canon(a), _canon(b)
    for col in ca.columns:
        va, vb = ca[col].tolist(), cb[col].tolist()
        for i, (x, y) in enumerate(zip(va, vb)):
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                # EXACT: the driver's gate hashes values — a tolerance
                # here would hide cross-engine rounding divergence
                assert x == y, f"{name}.{col}[{i}]: {x!r} != {y!r}"
            else:
                assert str(x) == str(y), f"{name}.{col}[{i}]: {x!r} != {y!r}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, sf_dir, name):
    spark_df = ALL[name](spark, sf_dir).toPandas()
    duck_df = _duck(sf_dir, ORACLES[name])
    _assert_frames_match(name, spark_df, duck_df)


@pytest.mark.parametrize("name", sorted(set(ALL) - set(ORACLES)))
def test_rows_only_queries_run(spark, sf_dir, name):
    df = ALL[name](spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema) > 0


def test_registry_shape():
    """All 363 keys are registered, each with an oracle, each by exactly
    one module's QUERIES and under its builder's name: a key lost from
    or registered twice across the modules would otherwise drop or
    shadow its parity test without a failure."""
    assert len(ALL) == 363
    assert ORACLES.keys() == ALL.keys()
    seen: set[str] = set()
    for mod in Q.MODULES:
        twice = seen & mod.QUERIES.keys()
        assert not twice, (mod.__name__, sorted(twice))
        seen |= mod.QUERIES.keys()
    assert all(fn.__name__ == name for name, fn in ALL.items())


def test_q1_sums_match_oracle_where_float_order_differs(spark, tmp_path):
    """perfbench's generated sf0.1 ``lineitem`` of seed 15 puts a float
    sum of ``sum_disc_price`` on a 4-decimal half-tick: summed as
    doubles, Spark read 4876665430.7845 and DuckDB 4876665430.7844. The
    decimal sums of q1 are exact in both engines."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "perfbench_datagen", os.path.join(root, "perfbench", "datagen.py"))
    datagen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(datagen)
    import pyarrow.parquet as pq
    pq.write_table(datagen.tables(15, 0.1)["lineitem"],
                   tmp_path / "lineitem.parquet")
    con = duckdb.connect()
    con.execute("CREATE VIEW lineitem AS SELECT * FROM "
                f"'{tmp_path}/lineitem.parquet'")
    got = ALL["q1_pricing_summary"](spark, str(tmp_path)).toPandas()
    _assert_frames_match("q1_pricing_summary", got,
                         con.execute(ORACLES["q1_pricing_summary"]).df())
    assert 4876665430.7845 in got["sum_disc_price"].tolist()
