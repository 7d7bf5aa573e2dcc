"""Catalog DDL + partition discovery (SURVEY.md §2.1 S8-S11).

The reference talks to the Glue Data Catalog three different ways (Spark
SQL DDL, boto3 create_table, Athena fallback — transform_news_job.py:
266-307). On Spark the catalog *is* the metastore, so the whole fallback
ladder collapses to ``spark.sql`` DDL + ``recoverPartitions``.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession


def create_database(spark: SparkSession, name: str) -> None:
    """S8 (reference: extract_news_job.py:324, extract_stocks_job.py:177-189)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")


def create_external_table(
    spark: SparkSession,
    table: str,
    columns_ddl: str,
    location: str,
    partitioned_by: str | None = None,
) -> None:
    """S9 — external parquet table DDL (reference Hive-style DDL,
    transform_stocks_job.py:56-85; here the Spark-native datasource form,
    which works against any catalog implementation — in-memory, Hive
    metastore, or Glue Catalog alike). ``columns_ddl`` like
    ``"id BIGINT, name STRING"``; ``partitioned_by`` like
    ``"dataproc STRING"`` (partition columns are appended to the schema).
    """
    if partitioned_by:
        part_names = ", ".join(
            c.strip().split()[0] for c in partitioned_by.split(",")
        )
        schema = f"{columns_ddl}, {partitioned_by}"
        part = f"PARTITIONED BY ({part_names})"
    else:
        schema, part = columns_ddl, ""
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS {table} ({schema})
        USING PARQUET
        {part}
        LOCATION '{location}'
        """
    )


def repair_partitions(spark: SparkSession, table: str) -> None:
    """S10 — partition discovery (reference MSCK ladder,
    extract_stocks_job.py:319-349; one call here)."""
    spark.catalog.recoverPartitions(table)


def table_exists(spark: SparkSession, table: str) -> bool:
    """S11 — existence probe (reference: DESCRIBE-in-try/except,
    transform_stocks_job.py:37-52)."""
    return spark.catalog.tableExists(table)


def analyze_table(
    spark: SparkSession,
    table: str,
    columns: list[str] | None = None,
) -> None:
    """Emit table (and optionally column) statistics for Catalyst's
    cost-based optimizer (SURVEY.md §4.2: CBO join reordering needs
    ANALYZE stats). Run after large writes; at scale, per-column NDV/
    min/max stats are what let the optimizer pick build sides and
    reorder multi-joins without guessing.

    Measured at the synthetic sf1 (BASELINE.md §4, round-6 CBO
    experiment): per-column stats size relations after COLUMN PRUNING —
    the orders/customer join sides that the path-based
    ``spark.read.parquet`` plan shuffles (file-size estimate counts all
    columns) become auto-broadcasts over ANALYZEd catalog tables, and
    ``spark.sql.cbo.joinReorder.enabled`` re-orders q5's join tree
    (dims before facts): 0.71 s path-based vs 0.07-0.11 s catalog+stats
    at the same scale. Cost: one scan (sf1 lineitem: 6 s)."""
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS {cols}")


def add_partition(
    spark: SparkSession,
    table: str,
    spec: dict[str, str],
    location: str | None = None,
) -> None:
    """S10 manual registration — the cheap 80% of the reference's
    MSCK -> Athena -> boto3 create_partition fallback ladder
    (transform_news_job.py:217-262, extract_stocks_job.py:275-316):
    register ONE known partition with a metastore-only DDL instead of
    listing the whole table root.

    Cost: 0 Spark jobs — one table-metadata lookup to validate the
    column names and one ``ALTER TABLE … ADD IF NOT EXISTS PARTITION``.
    At 100 TB that is a metadata round trip after each incremental
    write instead of an MSCK crawl over millions of directories.

    ``spec`` maps partition column -> value, e.g.
    ``{"dataproc": "20240105"}``; ``location`` overrides the default
    ``<table location>/key=value/...`` layout. The one-spec case of
    :func:`add_partitions`.
    """
    add_partitions(spark, table, [spec], [location])


def add_partitions(
    spark: SparkSession,
    table: str,
    specs: list[dict[str, str]],
    locations: list[str | None] | None = None,
) -> None:
    """Register several known partitions with one name check and one
    ``ALTER TABLE … ADD IF NOT EXISTS PARTITION (…) PARTITION (…)``
    (0 Spark jobs). ``locations``, when given, pairs one location (or
    ``None`` for the default layout) with each spec. No specs, no DDL.
    """
    if not specs:
        return
    locations = locations or [None] * len(specs)
    clauses = " ".join(
        f"PARTITION ({spec_sql})"
        + (f" LOCATION '{_quote_sql_string(loc)}'" if loc else "")
        for spec_sql, loc in zip(
            _partition_specs_sql(spark, table, specs), locations, strict=True
        )
    )
    spark.sql(f"ALTER TABLE {table} ADD IF NOT EXISTS {clauses}")


def drop_partition(spark: SparkSession, table: str, spec: dict[str, str]) -> None:
    """Metastore-only partition removal (files stay put on external
    tables) — the inverse of :func:`add_partition`, at the same cost."""
    (spec_sql,) = _partition_specs_sql(spark, table, [spec])
    spark.sql(f"ALTER TABLE {table} DROP IF EXISTS PARTITION ({spec_sql})")


def _quote_sql_string(value: str) -> str:
    """Escape a value for embedding in a single-quoted SQL literal.
    Partition values are often user-supplied (dates, tickers scraped
    from feeds) — interpolating them raw is an injection surface."""
    return str(value).replace("\\", "\\\\").replace("'", "''")


def _partition_specs_sql(
    spark: SparkSession, table: str, specs: list[dict[str, str]]
) -> list[str]:
    """Render each spec as ``col = 'value'`` pairs with values escaped
    and column names validated against the table's actual partition
    columns (a name is an identifier — it cannot be quoted away, so it
    must be allowlisted).

    The names come from the table's catalog metadata through
    ``DESCRIBE TABLE EXTENDED … AS JSON`` — a command, so no Spark job
    runs (``spark.catalog.listColumns`` collects its rows through
    ``toLocalIterator``: 3-4 jobs per call). It resolves ``t``,
    ``db.t`` and ``catalog.db.t`` the way the DDL it guards does, and
    a missing table raises ``AnalysisException``.
    """
    desc = spark.sql(f"DESCRIBE TABLE EXTENDED {table} AS JSON").collect()[0][0]
    part_cols = set(json.loads(desc).get("partition_columns", []))
    unknown = set().union(*specs) - part_cols
    if unknown:
        raise ValueError(
            f"not partition column(s) of {table}: {sorted(unknown)} "
            f"(partition columns: {sorted(part_cols)})"
        )
    return [
        ", ".join(f"{k} = '{_quote_sql_string(v)}'" for k, v in spec.items())
        for spec in specs
    ]


def replace_external_table(
    spark: SparkSession,
    table: str,
    columns_ddl: str,
    location: str,
    partitioned_by: str | None = None,
    discover_partitions: bool = True,
) -> None:
    """Drop-and-recreate lifecycle (reference: extract_news_job.py:326,
    extract_stocks_job.py:255 recreate catalog tables every run).

    Dropping an EXTERNAL table is metadata-only — the parquet under
    ``location`` survives — so this is safe for schema evolution where
    in-place ALTERs would drift. Still, prefer ``create_external_table``
    (IF NOT EXISTS) + :func:`add_partition` for steady-state daily runs:
    recreating a partitioned table discards its registered partitions,
    which then cost a discovery pass to restore (done here when
    ``discover_partitions``).
    """
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    create_external_table(spark, table, columns_ddl, location, partitioned_by)
    if partitioned_by and discover_partitions:
        repair_partitions(spark, table)
