"""Query registry: every operator from SURVEY.md §2 as a named query
over the driver testdata, paired with its ANSI-SQL oracle (DuckDB).

Each Spark function takes ``(spark, sf_dir)`` and returns a DataFrame;
the oracle SQL computes the same result on the same parquet tables.
Column names/aliases are kept identical on both sides (the driver's
compare sorts columns by name before hashing). All floating aggregates
are explicitly rounded so results are order-insensitive.

Each submodule ends with one ``QUERIES = {name: (fn, oracle_sql)}``
dict, keyed by the builder's ``__name__``; this package merges them
into ``REGISTRY``. Adding a query means adding its entry to the
``QUERIES`` of the module that defines its builder.

Reference parity cites (R script = /root/reference/20210803_이승하.R) are
in the wrapped operator docstrings under ``operators/``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import (a_core, a_scale_twins, a_stats, a_stats2, a_stats_ext, b_llm,
               b_llm_ext, c_temporal, c_temporal_ext)

MODULES = (a_core, a_stats, a_stats2, a_stats_ext, a_scale_twins, b_llm,
           b_llm_ext, c_temporal, c_temporal_ext)

REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame],
                          str | None]] = {
    name: entry for mod in MODULES for name, entry in mod.QUERIES.items()}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in REGISTRY.items()
            if sql is not None}
