"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -> flagship query on sf0.001 (smoke).
queries()      -> name -> (spark, sf_dir) -> DataFrame, one per operator
                  implemented from SURVEY.md §2 (+ extensions).
oracle_sql()   -> name -> ANSI SQL for DuckDB on the same parquet views.

Implementations live in the stockpy_spark/registry/ package, one module
per domain; this module is a thin adapter.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from stockpy_spark.registry import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["flagship_event_enrichment"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each hash-checked query."""
    return dict(ORACLES)
