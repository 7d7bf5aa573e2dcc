"""Sink operators (SURVEY.md §2.1 S6/S7 + small-file compaction).

The reference appends snappy parquet partitioned by process date
(extract_stocks_job.py:386-393) and merely *logs* that it should have
replaced existing partitions (:375-384) — a rerun duplicates data. We fix
that with dynamic partition overwrite: ``mode("overwrite")`` +
``partitionOverwriteMode=dynamic`` replaces exactly the partitions present
in the incoming frame, leaving the rest of the table intact. Idempotent
reruns for free. The writer sets dynamic mode itself, so the guarantee
does not depend on how the session was configured.

At 100 TB the other sink killer is small files: a daily job writing one
tiny file per (date, sector) partition produces millions of files a year.
``compact_to_target_files`` repartitions to a target file count before the
write; with AQE on, ``spark.sql.adaptive.coalescePartitions`` already
merges post-shuffle partitions toward ``advisoryPartitionSizeInBytes``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame


def write_parquet_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "append",
    compression: str = "snappy",
    dictionary: bool = True,
    bloom_filter_cols: list[str] | None = None,
    bloom_filter_ndv: dict[str, int] | None = None,
) -> None:
    """S6 — Hive-partitioned parquet sink (reference semantics: append).

    Physical-layout toggles (surface parity with the reference, which
    writes ``parquet.enable.dictionary=false`` and
    ``parquet.bloom.filter.enabled=false`` —
    extract_stocks_job.py:233-236,388-390):

    - ``dictionary=False`` disables dictionary encoding. The
      reference's blanket 'off' is usually the WRONG call at scale —
      low-cardinality columns (sector, ticker, flags) dictionary-encode
      10-50x smaller, which is scan time saved on every later read —
      so the default here stays on; the toggle exists for genuinely
      high-cardinality columns where the dictionary just spills.
    - ``bloom_filter_cols`` enables a per-column bloom filter
      (``parquet.bloom.filter.enabled#col``) for point-lookup columns
      that are NOT the sort/partition key — min/max pruning does
      nothing for a high-cardinality column scattered across row
      groups, a bloom filter skips whole row groups on equality
      probes. Size the filter with ``bloom_filter_ndv`` (per-column
      expected distinct count, ``parquet.bloom.filter.expected.ndv#col``)
      — the default sizing is megabytes per row group, far too big for
      most columns. Note parquet-mr silently drops the bloom filter for
      a chunk that stayed fully dictionary-encoded (the dictionary page
      already answers membership exactly), so blooms only materialize
      on high-cardinality columns or with ``dictionary=False``.
    """
    writer = df.write.mode(mode).option("compression", compression)
    if not dictionary:
        writer = writer.option("parquet.enable.dictionary", "false")
    for c in bloom_filter_cols or []:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
    for c, ndv in (bloom_filter_ndv or {}).items():
        writer = writer.option(f"parquet.bloom.filter.expected.ndv#{c}", str(ndv))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_parquet_overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    compression: str = "snappy",
) -> None:
    """Idempotent partition-level replace (dynamic partition overwrite).

    Sets ``partitionOverwriteMode=dynamic`` on the writer itself: in a
    session left in static mode (a Glue job's own session, say) a plain
    ``mode("overwrite")`` would delete every partition ``df`` does not
    hold. Only the partitions present in ``df`` are replaced; reruns of
    the same process date do not duplicate rows (fixes reference bug at
    extract_stocks_job.py:375-393).
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", compression)
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (hash-clustered) managed table — the co-located-join
    layout. Two tables bucketed on their join key with the same bucket
    count join WITHOUT a shuffle: the exchange that dominates a
    fact-fact join at 100 TB disappears because matching keys already
    live in matching files. ``sort_cols`` additionally pre-sorts within
    buckets so sort-merge join skips its sort. Bucketing requires
    ``saveAsTable`` (the bucket spec lives in the catalog, not the
    files)."""
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_format_partitioned(
    df: DataFrame,
    path: str,
    fmt: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    **options: str,
) -> None:
    """Generic sink for csv/json/orc/parquet. CSV/JSON are interchange
    formats — row-oriented, no column pruning or predicate pushdown on
    read — so they belong at pipeline edges, never between stages."""
    writer = df.write.mode(mode).format(fmt)
    for k, v in options.items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def compact_to_target_files(
    df: DataFrame, target_file_bytes: int = 128 * 1024 * 1024, approx_row_bytes: int = 100
) -> DataFrame:
    """Repartition so output files land near ``target_file_bytes``.

    Cheap heuristic (rows x approx bytes/row); callers with real size
    stats should compute ``n`` themselves and call ``coalesce``. A
    ``count()`` here is one extra job — acceptable in batch sinks, and at
    scale the alternative (millions of KB-sized files) is far worse.
    """
    n_rows = df.count()
    n_files = max(1, math.ceil(n_rows * approx_row_bytes / target_file_bytes))
    if n_files < df.rdd.getNumPartitions():
        return df.coalesce(n_files)
    return df


def write_sorted_for_pruning(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    partition_by: list[str] | None = None,
    n_files: int | None = None,
    compression: str = "snappy",
) -> None:
    """Range-cluster the data on ``sort_cols`` before writing so parquet
    row-group min/max statistics become selective.

    An unsorted 100 TB table has every row group spanning the full value
    range of a filtered column — min/max pruning skips nothing and every
    query scans everything. ``repartitionByRange`` + ``sortWithinPartitions``
    gives files (and row groups inside them) disjoint value ranges, so a
    point or range predicate touches only the files that can match. This
    is the poor-man's Z-order: one clustering dimension, zero extra
    infrastructure, often a 10-100x scan reduction on the clustered
    column.
    """
    parted = (
        df.repartitionByRange(n_files, *sort_cols)
        if n_files
        else df.repartitionByRange(*sort_cols)
    )
    out = parted.sortWithinPartitions(*sort_cols)
    writer = out.write.mode("overwrite").option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_with_metrics(
    df: DataFrame,
    path: str,
    metrics: dict[str, "object"],
    partition_by: list[str] | None = None,
) -> dict[str, object]:
    """Write parquet and collect data-quality metrics from the SAME
    action via ``df.observe`` — row counts, null counts, sums, whatever
    aggregate expressions the caller passes — without a second scan.

    This is the production pattern for pipeline observability at scale:
    a separate ``df.count()`` / profile pass would re-execute the whole
    upstream plan (at 100 TB: re-read 100 TB); Observation piggybacks
    accumulator-style on the write's own tasks for free. Returns the
    observed metrics dict.

    ``metrics`` maps metric name -> aggregate Column, e.g.
    ``{"n": F.count(F.lit(1)), "null_ids": F.sum(F.col("id").isNull()
    .cast("long"))}``.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    observed = df.observe(obs, *[col.alias(name) for name, col in metrics.items()])
    writer = observed.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return dict(obs.get)
