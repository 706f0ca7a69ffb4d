"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship Q5 "per-sample enriched network" query
(the reference's bin/GetSkinGraphs.R:55-98 pattern) on sf0.001.

`queries()` / `oracle_sql()` enumerate every implemented operator from
SURVEY.md §2 as (PySpark builder, DuckDB oracle SQL) pairs over the
testdata tables.  Column names/aliases match exactly between both sides;
float aggregates are rounded identically on both sides so the
order-insensitive value comparison is stable.  tests/test_entry_sweep.py
compares every entry with its oracle: entries whose oracle is a frozen
fixture table at sf0.01 (the scale it was frozen at), the rest at sf0.001.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hannigan_conjunctisviribus_ploscompbio_2017_spark.queries_testdata import (
    ORACLES,
    QUERIES,
    flagship,
)

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    registration order."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per queries() key (every key has one)."""
    return dict(ORACLES)
