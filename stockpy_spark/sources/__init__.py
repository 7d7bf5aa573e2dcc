"""Sources & sinks: parquet scans, partitioned sinks, catalog DDL.

Covers SURVEY.md §2.1 rows S1-S11.
"""

from stockpy_spark.sources.readers import read_parquet, read_table, read_partition
from stockpy_spark.sources.writers import (
    write_parquet_partitioned,
    write_parquet_overwrite_partitions,
    compact_to_target_files,
    write_sorted_for_pruning,
)
from stockpy_spark.sources.catalog import (
    add_partition,
    add_partitions,
    analyze_table,
    create_database,
    create_external_table,
    drop_partition,
    repair_partitions,
    replace_external_table,
    table_exists,
)
from stockpy_spark.sources.testdata import load_tables, register_views

__all__ = [
    "read_parquet",
    "read_table",
    "read_partition",
    "write_parquet_partitioned",
    "write_parquet_overwrite_partitions",
    "compact_to_target_files",
    "write_sorted_for_pruning",
    "add_partition",
    "add_partitions",
    "analyze_table",
    "create_database",
    "create_external_table",
    "drop_partition",
    "repair_partitions",
    "replace_external_table",
    "table_exists",
    "load_tables",
    "register_views",
]
