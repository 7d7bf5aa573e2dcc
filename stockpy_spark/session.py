"""SparkSession builder with scale-conscious defaults.

The reference (scripts/extract_stocks_job.py:24-30 in /root/reference)
takes whatever Spark conf AWS Glue hands it. We instead pin the handful of
settings that matter both for local correctness testing and for a real
multi-executor cluster:

- AQE on (runtime coalescing of shuffle partitions + skew-join splitting)
  so the same plan survives a 100x scale-up without re-tuning.
- ``spark.sql.shuffle.partitions`` sized to the local core count for tests;
  on a cluster AQE's coalescing makes the static number mostly moot.
- Session timezone pinned to UTC — Spark timestamps are session-tz-relative
  while parquet/DuckDB store UTC-naive micros; pinning makes results
  byte-comparable against the DuckDB oracle and reproducible across hosts.
- Arrow enabled for every pandas boundary (createDataFrame, toPandas,
  pandas UDFs).
- Fixed JVM costs sized to the work. Every pass of a recurring plan
  reuses its generated classes (a codegen cache that holds a whole
  release pass), and a local session sizes its Tungsten memory pages
  and broadcast pieces to local tasks rather than to an 8g heap. Each
  is an existing Spark conf; the reasons and their measured cost
  (driver JVM allocation per warm pass, ``tools/alloc_profile.py``)
  sit next to each setting and in BASELINE.md, "Fixed JVM costs per
  pass".
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def spark_conf_defaults(cpus: int | None = None) -> dict[str, str]:
    """Engine-default Spark conf as a plain dict (testable, composable)."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    return {
        # 4x the core count, not 1x: measured at both sf0.1 and the
        # synthetic sf1 (tools/scale_check.py), 128 partitions on 32
        # cores beats 32 by ~25% at sf0.1 (14.5s -> 11.1s headline
        # subset) and ~35% on the worst sf1 queries (q3 5.9s -> 3.8s
        # extrapolating to 256) — smaller shuffle blocks overlap
        # fetch/compute better and AQE coalesces them away wherever a
        # stage is small, so the finer grain costs nothing. Matches the
        # standard cluster guidance of 2-4x total cores.
        "spark.sql.shuffle.partitions": str(cpus * 4),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        # Write timestamps as TIMESTAMP(MICROS), not the deprecated
        # INT96: INT96 defeats min/max pruning in some readers and is
        # reported as nanos by Arrow, confusing unit sniffers.
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        # Idempotent partition-level reruns (fixes the reference's
        # append-duplication bug, extract_stocks_job.py:375-393).
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        "spark.ui.enabled": "false",
        # Spark's default LRU of 100 generated classes is smaller than
        # one pass of the release pipeline (~300 distinct classes), so
        # each class was evicted before its reuse and every warm pass
        # recompiled ~307 of them through Janino: 564 of the pass's
        # 3618 MB allocated. With 1000 entries a warm pass compiles
        # 0-10 (10 MB). A cached class holds tens of KB.
        "spark.sql.codegen.cache.maxEntries": "1000",
        # Auto-broadcast stays at Spark's 10MB default. Round 6 traced
        # q3/q18's chronic 3.2-3.6x 10x-scale ratios to an earlier 64MB
        # override: at sf1 it broadcast the FILTERED LINEITEM (97% of
        # the fact survives q3's shipdate predicate — a ~5.8M-row hash
        # relation whose build/ship cost grows linearly with SF and
        # never parallelizes). With the default, q3 at sf1 runs 3.29 ->
        # 1.37 s and its scale ratio drops to ~1.4x; the sf0.1 cost is
        # +8% on the borderline dims that now sort-merge (BASELINE.md
        # §4). Dims that MUST broadcast are hinted explicitly in the
        # queries — the threshold is the safety net, and a 100 TB
        # safety net must not catch facts.
    }


def get_spark(
    app_name: str = "stockpy_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster pass ``None`` after setting --master via spark-submit, or pass
    an explicit master URL.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = spark_conf_defaults()
    if master.startswith("local"):
        # Local mode inherits Spark's 1g driver default, which cannot
        # build a 64MB-threshold broadcast relation (~10x in-memory as
        # a hash relation) — found by the sf1 scale spot-check, where
        # the planner's auto-broadcast of a filtered-but-growing side
        # OOM'd the driver while the plan itself was fine. On a real
        # cluster the driver is sized explicitly; do the same locally.
        # Only effective for a fresh JVM (getOrCreate reuses existing).
        conf["spark.driver.memory"] = os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", "8g"
        )
        # Spark sizes Tungsten pages as execution memory / cores / 16,
        # capped at 64 MB, which the 8g heap above reaches, and every
        # hash-aggregate fast map, BytesToBytesMap and sorter
        # zero-fills a whole page however few rows its task holds: 428
        # MB of a release pass, 188 MB of a lake_etl pass; 41 and 15
        # MB with 4 MB pages. A record larger than a page still gets a
        # page of its own size.
        conf["spark.buffer.pageSize"] = "4m"
        # TorrentBroadcast allocates one whole piece (4 MB by default)
        # per broadcast, however few KB it holds, and every stage's
        # task binary and every scan's Hadoop conf is a broadcast: the
        # broadcast path took 541 MB of a release pass and 289 MB of a
        # lake_etl pass; 248 and 140 MB with 1 MB pieces. Pieces never
        # cross a network in local mode, so large ones buy no fetch
        # parallelism.
        conf["spark.broadcast.blockSize"] = "1m"
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
