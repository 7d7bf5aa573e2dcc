"""Hive-partitioned layout: pruning plan shape + incremental rerun
idempotence (the reference's daily batch cycle,
transform_stocks_job.py:32,211-213)."""

from __future__ import annotations

import pyspark.sql.functions as F

from stockpy_spark.registry.pipelines import (
    q_hive_incremental_cycle,
    q_hive_partition_counts,
    q_hive_prune_day,
)
from stockpy_spark.sources.hive_fixture import (
    ensure_events_by_day,
    run_incremental_cycle,
)
from stockpy_spark.sources.testdata import read_events


def _canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def test_prune_day_reads_exactly_one_partition_dir(spark, sf_dir):
    path = ensure_events_by_day(spark, sf_dir)
    df = spark.read.parquet(path).where(F.col("dataproc") == 20240115)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "dataproc" in plan.split(
        "PartitionFilters: ["
    )[1].split("]")[0], plan
    # inputFiles() lists the whole relation pre-pruning; the executed
    # scan is the truth — every file actually opened must come from the
    # single matching directory.
    files = [r[0] for r in df.select(F.input_file_name()).distinct().collect()]
    assert files and all("dataproc=20240115" in f for f in files)


def test_partitioned_roundtrip_matches_flat(spark, sf_dir):
    got = q_hive_partition_counts(spark, sf_dir)
    flat = (
        read_events(spark, sf_dir)
        .groupBy(F.date_format("ts", "yyyyMMdd").cast("long").alias("dataproc"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )
    assert _canon(got) == _canon(flat)


def test_prune_day_matches_flat(spark, sf_dir):
    got = q_hive_prune_day(spark, sf_dir)
    flat = (
        read_events(spark, sf_dir)
        .where(F.date_format("ts", "yyyyMMdd") == "20240115")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )
    assert _canon(got) == _canon(flat)


def test_incremental_rerun_is_idempotent(spark, sf_dir):
    """Two full cycles — the second replays day 2 a THIRD time — must
    produce byte-identical aggregate state: dynamic partition overwrite
    replaces, never appends (the reference's append layout would double
    day-2 counts on every rerun, extract_stocks_job.py:375-393)."""
    days = ["20240101", "20240102", "20240103"]
    first = _canon(
        run_incremental_cycle(spark, sf_dir, days, rerun_day="20240102")
        .groupBy("dataproc")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("v"))
    )
    second = _canon(
        run_incremental_cycle(spark, sf_dir, days, rerun_day="20240102")
        .groupBy("dataproc")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("v"))
    )
    assert first == second
    flat = _canon(
        read_events(spark, sf_dir)
        .where(F.date_format("ts", "yyyyMMdd").isin(days))
        .groupBy(F.date_format("ts", "yyyyMMdd").alias("dataproc"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("v"))
    )
    assert first == flat


def test_incremental_cycle_query_shape(spark, sf_dir):
    df = q_hive_incremental_cycle(spark, sf_dir)
    assert df.columns == ["dataproc", "n_events", "n_users", "total_value"]
    assert df.count() == 3


def test_hive_layout_externally_readable_by_duckdb(spark, sf_dir):
    """The external-readability property the hive_partition_counts
    oracle used to carry (before the r10 fix made that oracle
    SF-portable): DuckDB's hive_partitioning reader scans the
    Spark-written dataproc=YYYYMMDD tree and produces the identical
    per-partition profile — directory names, row placement, and
    TIMESTAMP_MICROS files are all externally consumable. The path is
    built dynamically from the SF under test, which is exactly what a
    static SQL oracle string could not do."""
    import duckdb
    from pyspark.sql import functions as F

    from stockpy_spark.sources.hive_fixture import ensure_events_by_day

    path = ensure_events_by_day(spark, sf_dir)
    sp = {
        r["dataproc"]: (r["n"], r["tv"])
        for r in spark.read.parquet(path)
        .groupBy(F.col("dataproc").cast("long").alias("dataproc"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), 6).alias("tv"),
        )
        .collect()
    }
    con = duckdb.connect()
    duck = {
        int(r[0]): (int(r[1]), float(r[2]))
        for r in con.execute(
            f"""SELECT CAST(dataproc AS BIGINT), count(*),
                       round(sum(value), 6)
                FROM read_parquet('{path}/*/*.parquet', hive_partitioning=true)
                GROUP BY 1"""
        ).fetchall()
    }
    assert sp == duck


def test_read_events_decodes_nanos_micros_and_ntz_units(spark, tmp_path):
    """Round-boundary armor: the driver has shipped events.parquet as
    TIMESTAMP(NANOS) (Spark's vectorized reader rejects it outright),
    as UTC-naive micros (Spark 4 reads TIMESTAMP_NTZ), and as plain
    micros — read_events must decode all three to the same
    session-tz timestamps. Each unit is written with pyarrow into its
    own sf-dir layout and read blind."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from stockpy_spark.sources.testdata import read_events

    base_us = [1_600_000_000_000_000 + i * 1_000_000 for i in range(5)]
    expect = [(i, us // 1_000_000) for i, us in enumerate(base_us)]

    cases = {
        "ns": pa.table(
            {
                "event_id": pa.array(range(5), pa.int64()),
                "ts": pa.array(
                    [us * 1000 for us in base_us], pa.timestamp("ns")
                ),
            }
        ),
        "us_utc": pa.table(
            {
                "event_id": pa.array(range(5), pa.int64()),
                "ts": pa.array(base_us, pa.timestamp("us", tz="UTC")),
            }
        ),
        "us_naive": pa.table(
            {
                "event_id": pa.array(range(5), pa.int64()),
                "ts": pa.array(base_us, pa.timestamp("us")),
            }
        ),
    }
    for name, tbl in cases.items():
        d = tmp_path / name
        d.mkdir()
        pq.write_table(tbl, str(d / "events.parquet"))
        df = read_events(spark, str(d))
        got = sorted(
            (
                r["event_id"],
                r["ts"] if isinstance(r["ts"], int)
                else int(r["ts"].timestamp()),
            )
            for r in df.select(
                "event_id",
                F.col("ts").cast("timestamp").cast("long").alias("ts"),
            ).collect()
        )
        assert got == expect, (name, got[:3])
