"""Hive-partitioned lake fixtures derived from the flat driver testdata.

The reference's core physical layout is ``dataproc=YYYYMMDD`` Hive
partitioning: every table is written partitioned by process date and read
back with the partition in the path (``/root/reference/scripts/
extract_stocks_job.py:391``, ``transform_stocks_job.py:32,211-213``).
The flat ``events.parquet`` the driver ships cannot exercise that cycle,
so these builders materialize the SAME rows as a ``dataproc=YYYYMMDD``
layout under the repo scratch root. Queries that read the layout back
with a partition predicate can then sit under the DuckDB hash oracle —
either against the flat ``events`` view (strongest: catches a wrong
derivation on both sides) or against DuckDB's own
``read_parquet(..., hive_partitioning=true)`` reading of the directory
tree (proves the layout itself is externally readable Hive).

Scale note: the fixture build is a single partitioned write of the
events table — the exact shape of the reference's daily batch. At 100 TB
the table root holds years of ``dataproc=`` directories and the ONLY
thing that keeps a daily query cheap is partition pruning; the plan test
(`tests/test_hive_cycle.py`) pins ``PartitionFilters`` so a regression
back to a full scan cannot slip in.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stockpy_spark.sources.testdata import read_events
from stockpy_spark.sources.writers import (
    write_parquet_overwrite_partitions,
    write_parquet_partitioned,
)

FIXTURE_ROOT = "/root/repo/.hive_fixture"

# paths built by THIS process — a fresh process always rebuilds, so a
# driver round never reads a layout left over from older testdata.
_built: set[str] = set()


def _sf_name(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir))


def events_by_day_path(sf_dir: str) -> str:
    return f"{FIXTURE_ROOT}/{_sf_name(sf_dir)}/events_by_day"


def incremental_path(sf_dir: str) -> str:
    return f"{FIXTURE_ROOT}/{_sf_name(sf_dir)}/events_incremental"


def events_with_dataproc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events + the reference's ``dataproc`` process-date partition
    column (``date_format(ts, 'yyyyMMdd')`` — the derivation the
    reference does driver-side with ``datetime.now().strftime``,
    extract_stocks_job.py:53)."""
    ev = read_events(spark, sf_dir)
    return ev.withColumn("dataproc", F.date_format("ts", "yyyyMMdd"))


def ensure_events_by_day(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Build (once per process) the full ``dataproc=YYYYMMDD`` layout of
    the events table and return its root path.

    Rebuilt from scratch on first use in each process: the fixture is a
    pure function of the source table, and an always-fresh rebuild is
    what makes the oracle comparison meaningful if the driver ever
    regenerates testdata. Timestamps are forced to TIMESTAMP_MICROS so
    external readers (DuckDB with ``hive_partitioning=true``) can scan
    the files — the driver may hand us a vanilla session whose default
    is INT96.
    """
    path = events_by_day_path(sf_dir)
    if not force and path in _built and os.path.isdir(path):
        return path
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    shutil.rmtree(path, ignore_errors=True)
    write_parquet_partitioned(
        events_with_dataproc(spark, sf_dir),
        path,
        partition_by=["dataproc"],
        mode="overwrite",
    )
    _built.add(path)
    return path


def run_incremental_cycle(
    spark: SparkSession,
    sf_dir: str,
    days: list[str],
    rerun_day: str | None = None,
    table: str = "events_incremental",
) -> DataFrame:
    """The reference's daily batch cycle, end to end: one dynamic
    partition-overwrite write per day, a RERUN of one day to prove
    partition-level idempotence (the reference's append layout
    duplicates on rerun — extract_stocks_job.py:375-393 logs the bug;
    we fix it), one O(1) registration DDL for all days instead of an
    MSCK crawl, and a catalog read back with a partition predicate.

    Returns the catalog-backed DataFrame filtered to ``days`` — callers
    aggregate it; the oracle twin is the flat events table restricted to
    the same days, so a duplicating rerun or a lost partition flips the
    hash.
    """
    from stockpy_spark.sources.catalog import (
        add_partitions,
        create_external_table,
    )

    base = incremental_path(sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    ev = events_with_dataproc(spark, sf_dir)

    schedule = list(days) + ([rerun_day] if rerun_day else [])
    for day in schedule:
        write_parquet_overwrite_partitions(
            ev.where(F.col("dataproc") == day), base, ["dataproc"]
        )

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    create_external_table(
        spark,
        table,
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING",
        base,
        partitioned_by="dataproc STRING",
    )
    add_partitions(spark, table, [{"dataproc": day} for day in days])

    return spark.table(table).where(F.col("dataproc").isin(days))
