"""Streaming queries under the DuckDB oracle gate.

Each query builds a FINITE file-source stream over the
testdata, drives a real ``writeStream`` (micro-batch engine, state
store, checkpoint) to completion with availableNow, materializes the
sink, and returns the final sink state as a plain DataFrame the oracle
gate hashes against DuckDB SQL computing the same result from the raw
tables.

Sink strategy: an update-mode upsert log, resolved last-write-wins
(streaming/ops.py run_update_upsert_log_to_parquet), exact under any
micro-batch split. Append mode would *withhold* the trailing windows
on a finite stream (the watermark never passes their end), so an
append-mode gate would be wrong by construction. The generous
watermark keeps every row on-time for the verification run; a
production deploy sets it to the real lateness bound.

Every query here writes a private work directory and sets streaming
session state, so each is declared ``serial=True``.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stockpy_spark.registry._common import (
    SQL_CM_SKETCH,
    SQL_MM_PIXELS,
    _bsig_ctes,
    query,
)
from stockpy_spark.sources.testdata import read_events
from stockpy_spark.streaming.ops import (
    dedup_within_watermark,
    read_upsert_log_final,
    run_update_upsert_log_to_parquet,
    stateful_running_stats,
    windowed_agg,
)


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table. The schema comes from
    the batch reader (which owns the nanos/NTZ fallback logic), so the
    stream sees the same ts dtype batch queries do."""
    batch = read_events(spark, sf_dir)
    # The file stream source requires a DIRECTORY. A Spark-written
    # events table (the synthetic scale dirs, any production layout)
    # already IS one — stream it directly. The driver testdata ships a
    # single FILE; symlink that into a temp dir (no data copy) — the
    # same shape as a landing directory receiving files over time.
    target = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(target):
        src_dir = target
    else:
        src_dir = tempfile.mkdtemp(prefix="stockpy_stream_src_")
        link = os.path.join(src_dir, "events.parquet")
        try:
            os.symlink(target, link)
        except OSError:
            import shutil

            shutil.copy(target, link)
    src = spark.readStream.schema(batch.schema).parquet(src_dir)
    if dict(batch.dtypes).get("ts") != dict(src.dtypes).get("ts"):
        # nanos fixture: mirror the batch rebuild (ns -> us floor)
        src = src.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # withWatermark rejects TIMESTAMP_NTZ (EVENT_TIME_IS_NOT_ON_
    # TIMESTAMP_TYPE); the session tz is pinned UTC so the cast is
    # deterministic.
    if dict(src.dtypes).get("ts") == "timestamp_ntz":
        src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    return src


def _run_windowed(
    spark: SparkSession,
    sf_dir: str,
    duration: str,
    slide: str | None,
) -> DataFrame:
    src = _stream_events(spark, sf_dir)
    agg = windowed_agg(
        src,
        "ts",
        ["event_type"],
        duration,
        {
            "n_events": F.count("*").cast("long"),
            "sum_value": F.sum("value"),
        },
        watermark="36500 days",  # verification run: nothing is late
        slide=slide,
    )
    out = tempfile.mkdtemp(prefix="stockpy_stream_gate_")
    run_update_upsert_log_to_parquet(
        agg, os.path.join(out, "sink"), os.path.join(out, "ckpt")
    )
    final = read_upsert_log_final(
        spark, os.path.join(out, "sink"), ["window_start", "event_type"]
    )
    return final.select(
        F.col("window_start")
        .cast("timestamp")
        .cast("long")
        .alias("bucket_start"),
        "event_type",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    )


SQL_STREAM_HOURLY = """
SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
"""


@query("stream_hourly_agg", oracle=SQL_STREAM_HOURLY, serial=True)
def q_stream_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed count/sum per event_type, computed by
    the streaming engine end-to-end (readStream -> withWatermark ->
    window groupBy -> writeStream foreachBatch -> parquet) and resolved
    to final sink state. Hash-equal to the batch hourly rollup."""
    return _run_windowed(spark, sf_dir, "1 hour", None)


SQL_STREAM_HOPPING = """
WITH e AS (
    SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS h,
           event_type, value
    FROM events
), x AS (
    SELECT h - 3600 AS bucket_start, event_type, value FROM e
    UNION ALL
    SELECT h AS bucket_start, event_type, value FROM e
)
SELECT bucket_start, event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM x
GROUP BY 1, 2
"""


@query("stream_hopping_agg", oracle=SQL_STREAM_HOPPING, serial=True)
def q_stream_hopping_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (2-hour window, 1-hour hop) streaming aggregate — every
    event lands in two windows, the streaming twin of the batch
    hopping_window_rollup's explode fan-out. Same upsert-log sink."""
    return _run_windowed(spark, sf_dir, "2 hours", "1 hour")


SQL_STREAM_DEDUP = """
SELECT user_id,
       COUNT(DISTINCT event_type) AS n_types,
       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types
FROM events
WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
GROUP BY user_id
"""


@query("stream_dedup_keys", oracle=SQL_STREAM_DEDUP, serial=True)
def q_stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful dedup end-to-end: readStream ->
    withWatermark -> dropDuplicates on (user_id, event_type) -> append
    writeStream to parquet, run to completion. The emitted KEY SET is
    deterministic (each distinct key appended exactly once on first
    sight) even though which physical row wins the per-key race is not
    — which is why the gate projects the keys and a count, not
    first-row payloads. Exercises the third stateful operator class
    (dedup state store) under the hash gate, after windowed and
    hopping aggregation."""
    src = _stream_events(spark, sf_dir).where(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
    )
    deduped = dedup_within_watermark(
        src, ["user_id", "event_type"], "ts", "36500 days"
    ).select("user_id", "event_type")
    out = tempfile.mkdtemp(prefix="stockpy_stream_dedup_")
    (
        deduped.writeStream.format("parquet")
        .option("path", os.path.join(out, "sink"))
        .option("checkpointLocation", os.path.join(out, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    sunk = spark.read.parquet(os.path.join(out, "sink"))
    # the key set surfaces as a sorted comma-joined STRING, not
    # array<string>: the driver's pandas canonicalizer cannot sort list
    # cells (r06 row went red with "unhashable type: 'list'")
    return sunk.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_types"),
        F.array_join(
            F.sort_array(F.collect_set("event_type")), ","
        ).alias("types"),
    )


SQL_STREAM_ENRICH = """
SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS bucket_start,
       CAST(length(event_type) % 3 AS INTEGER) AS tier,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
"""


@query("stream_static_enrich", oracle=SQL_STREAM_ENRICH, serial=True)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join end-to-end: the streaming events enrich
    against a STATIC dimension (re-read fresh per micro-batch by the
    engine — the canonical slowly-changing-lookup pattern), then a
    windowed rollup per dimension attribute through the same upsert-log
    sink. The dim is derived deterministically from the event types so
    DuckDB can rebuild it; what the gate pins is the join+agg pipeline
    running inside the micro-batch engine."""
    src = _stream_events(spark, sf_dir)
    dim = (
        read_events(spark, sf_dir)
        .select("event_type")
        .distinct()
        .select(
            "event_type",
            (F.length("event_type") % 3).cast("int").alias("tier"),
        )
    )
    enriched = src.join(dim, "event_type")
    agg = windowed_agg(
        enriched,
        "ts",
        ["tier"],
        "1 day",
        {
            "n_events": F.count("*").cast("long"),
            "sum_value": F.round(F.sum("value"), 4),
        },
        watermark="36500 days",
    )
    out = tempfile.mkdtemp(prefix="stockpy_stream_enrich_")
    run_update_upsert_log_to_parquet(
        agg, os.path.join(out, "sink"), os.path.join(out, "ckpt")
    )
    final = read_upsert_log_final(
        spark, os.path.join(out, "sink"), ["window_start", "tier"]
    )
    return final.select(
        F.col("window_start").cast("timestamp").cast("long").alias("bucket_start"),
        "tier",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    )


SQL_STREAM_STATS = """
SELECT user_id,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value,
       ROUND(MAX(value), 4) AS max_value
FROM events
WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
GROUP BY user_id
"""


@query("stream_running_stats", oracle=SQL_STREAM_STATS, serial=True)
def q_stream_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) end-to-end:
    per-user running (count, sum, max) maintained in explicit state
    across micro-batches, appended to a parquet sink one row per key
    per batch. The per-key row with the highest count is the final
    cumulative state — deterministic under ANY micro-batch split
    (counts are strictly increasing per emission) — and must equal the
    plain batch aggregate, which is exactly what the DuckDB oracle
    computes. The fifth streaming class under the hash gate, and the
    only one exercising the arbitrary-stateful API."""
    src = _stream_events(spark, sf_dir).where(
        F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    )
    stats = stateful_running_stats(src, "user_id", "value", "ts", "36500 days")
    out = tempfile.mkdtemp(prefix="stockpy_stream_stats_")
    sink_dir = os.path.join(out, "sink")

    # applyInPandasWithState declares update mode, which the file sink
    # rejects — foreachBatch accepts it and appends each batch's
    # emitted rows (per-key cumulative snapshots)
    def _append(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(sink_dir)

    (
        stats.writeStream.foreachBatch(_append)
        .option("checkpointLocation", os.path.join(out, "ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    sunk = spark.read.parquet(sink_dir)
    from pyspark.sql.window import Window

    w = Window.partitionBy("key").orderBy(F.col("n").desc())
    final = sunk.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") == 1
    )
    return final.select(
        F.col("key").cast("long").alias("user_id"),
        F.col("n").alias("n_events"),
        F.round("total", 4).alias("sum_value"),
        F.round("running_max", 4).alias("max_value"),
    )


SQL_STREAM_JOIN = """
WITH v AS (
    SELECT user_id, ts AS v_ts FROM events WHERE event_type = 'view'
), p AS (
    SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'
)
SELECT v.user_id, COUNT(*) AS n_pairs,
       CAST(SUM(epoch_us(p_ts) - epoch_us(v_ts)) AS BIGINT) AS sum_delta_us
FROM v JOIN p ON v.user_id = p.user_id
   AND p.p_ts >= v.v_ts - INTERVAL 1 HOUR
   AND p.p_ts <= v.v_ts + INTERVAL 1 HOUR
GROUP BY 1
"""


@query("stream_join_attribution", oracle=SQL_STREAM_JOIN, serial=True)
def q_stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join end-to-end — the sixth (and last)
    streaming operator class under the hash gate: the view stream
    joins the purchase stream of the same user with the purchase
    within +-1 hour of the view (the time-range bound that makes the
    dual state stores evictable). An inner stream-stream join emits
    each matched pair exactly once regardless of micro-batch split, so
    the appended pair set is deterministic; the gate aggregates it per
    user (pair count + exact micros delta sum) for a stable frame."""
    from stockpy_spark.streaming.ops import stream_stream_join

    views = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("v_ts"))
    )
    purchases = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"))
    )
    joined = stream_stream_join(
        views,
        purchases,
        "user_id",
        "v_ts",
        "p_ts",
        "36500 days",
        "36500 days",
        max_delay="1 hour",
    )
    pairs = joined.select(
        views["user_id"].alias("user_id"), "v_ts", "p_ts"
    )
    out = tempfile.mkdtemp(prefix="stockpy_stream_join_")
    (
        pairs.writeStream.format("parquet")
        .option("path", os.path.join(out, "sink"))
        .option("checkpointLocation", os.path.join(out, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    sunk = spark.read.parquet(os.path.join(out, "sink"))
    return sunk.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.unix_micros("p_ts") - F.unix_micros("v_ts"))
        .cast("long")
        .alias("sum_delta_us"),
    )


def q_stream_tws_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running stats via ``transformWithStateInPandas`` — the
    Spark-4 arbitrary-state API (named ValueState primitives, timers,
    TTL), run end-to-end and resolved exactly like
    q_stream_running_stats (same contract on the older
    applyInPandasWithState — the two queries pin the migration pair
    against the SAME batch oracle).

    NOT declared with @query: the API's state protocol needs
    the ``protobuf`` package, absent from this container (the
    driver-side worker dies with "cannot import google.protobuf" —
    environment seam, not code; tests/test_streaming gate on the
    import and the operator is ready the moment the dependency
    exists)."""
    from stockpy_spark.streaming.ops import tws_running_stats

    src = _stream_events(spark, sf_dir).where(
        F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    )
    stats = tws_running_stats(src, "user_id", "value", "ts", "36500 days")
    out = tempfile.mkdtemp(prefix="stockpy_stream_tws_")
    sink_dir = os.path.join(out, "sink")

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(sink_dir)

    # transformWithState requires the RocksDB state store provider
    # (the HDFS-backed default cannot host its named-state layout);
    # scope the provider switch to this query and restore after.
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        (
            stats.writeStream.foreachBatch(_append)
            .option("checkpointLocation", os.path.join(out, "ckpt"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)
    sunk = spark.read.parquet(sink_dir)
    from pyspark.sql.window import Window

    w = Window.partitionBy("key").orderBy(F.col("n").desc())
    final = sunk.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") == 1
    )
    return final.select(
        F.col("key").cast("long").alias("user_id"),
        F.col("n").alias("n_events"),
        F.round("total", 4).alias("sum_value"),
        F.round("running_max", 4).alias("max_value"),
    )


SQL_STREAM_CDC = """
SELECT user_id,
       CAST(epoch_us(ts) AS BIGINT) AS last_epoch_us,
       event_id AS last_event_id,
       round(value, 4) AS last_value
FROM events
WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
QUALIFY row_number() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) = 1
"""


@query("stream_cdc_upsert", oracle=SQL_STREAM_CDC, serial=True)
def q_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-apply end-to-end: the event stream merges into a
    materialized current-state parquet table per micro-batch
    (streaming/ops.py run_cdc_merge_to_parquet — per-key argmax on
    (ts, event_id), atomic directory swap). The final table is the
    global per-key latest row under ANY batch split, so the exact
    batch oracle is one QUALIFY row_number. Timestamps surface as
    epoch-microsecond BIGINTs (tz-proof, collision-free)."""
    from stockpy_spark.streaming.ops import run_cdc_merge_to_parquet

    src = _stream_events(spark, sf_dir).where(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    ).select("user_id", "ts", "event_id", "value")
    out = tempfile.mkdtemp(prefix="stockpy_stream_cdc_")
    table = os.path.join(out, "current")
    run_cdc_merge_to_parquet(
        src,
        table,
        os.path.join(out, "ckpt"),
        keys=["user_id"],
        order_cols=["ts", "event_id"],
    )
    cur = spark.read.parquet(table)
    return cur.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("last_epoch_us"),
        F.col("event_id").alias("last_event_id"),
        F.round("value", 4).alias("last_value"),
    )


SQL_STREAM_LATE = """
WITH b AS (
    SELECT CAST(floor(epoch(ts)) AS BIGINT) AS e, event_type
    FROM events WHERE ts IS NOT NULL
), mx AS (SELECT max(e) AS m FROM b),
ontime AS (SELECT e, event_type FROM b, mx WHERE e >= m - 864000),
late AS (SELECT e, event_type FROM b, mx WHERE e < m - 864000)
SELECT CAST((SELECT count(*) FROM ontime)
            + (SELECT count(*) FROM late) AS BIGINT) AS n_input,
       CAST((SELECT count(*) FROM ontime) AS BIGINT) AS n_on_time,
       CAST((SELECT count(*) FROM late) AS BIGINT) AS n_late_rows,
       CAST((SELECT count(*) FROM (
            SELECT DISTINCT e // 3600, event_type FROM late
       )) AS BIGINT) AS n_dropped_groups,
       CAST((SELECT count(*) FROM (
            SELECT DISTINCT e // 3600, event_type FROM ontime
       )) AS BIGINT) AS n_windows
"""


@query("stream_late_accounting", oracle=SQL_STREAM_LATE, serial=True)
def q_stream_late_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked late-data accounting — the eighth streaming class:
    replay the events table as THREE ordered arrival waves (last 7
    days, then the 7-10-day band, then everything older than 10 days),
    run an hourly windowed count under a 1-hour watermark, and emit
    the audit row tying observe() ingest metrics, the state store's
    numRowsDroppedByWatermark counter, and the materialized sink
    together: n_late_rows = n_input - n_on_time, with n_dropped_groups
    the distinct (window, key) groups among them. Wave 1 advances
    the watermark to max(ts)-1h; wave 2 is late-but-ACCEPTED (Spark
    4's late-record filter runs one batch behind the eviction
    watermark — see run_windowed_late_accounting's docstring); wave 3
    is refused by the now-active filter, every row, deterministically
    (its windows closed ~10 days before the watermark). The oracle
    recomputes every term from the raw table and the band rule
    (streaming/ops.py run_windowed_late_accounting)."""
    from stockpy_spark.streaming.ops import run_windowed_late_accounting

    e = read_events(spark, sf_dir).where(F.col("ts").isNotNull()).select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    # bounded driver scalar (one max), same class as kmeans centroids
    mx = e.agg(F.max(F.col("ts").cast("long"))).collect()[0][0]
    sec = F.col("ts").cast("long")
    recent = e.where(sec >= mx - 604_800)
    margin = e.where((sec >= mx - 864_000) & (sec < mx - 604_800))
    late = e.where(sec < mx - 864_000)
    return run_windowed_late_accounting(
        spark, [recent, margin, late], "ts", "event_type", "1 hour", "1 hour"
    )


@query("stream_cm_merge", oracle=SQL_CM_SKETCH, serial=True)
def q_stream_cm_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min accumulation (streaming/ops.py
    run_cm_grid_accumulate — the 9th streaming class): the events
    table is replayed as THREE arrival files (event_id mod 3), streamed
    with maxFilesPerTrigger=1 so the micro-batch engine genuinely
    splits the data, each batch's sparse partial grid is appended by
    foreachBatch, and the merged sketch is the cell-wise sum. Because
    CM grids merge by addition, the streamed sketch is bit-identical
    to the batch-built one, so the point estimates sit under the SAME
    full DuckDB oracle as sketch_cm_counts — a streaming row with an
    exact hash gate, not a weaker streaming-only check."""
    import atexit
    import shutil

    from stockpy_spark.operators.sketches import cm_point_estimates
    from stockpy_spark.streaming.ops import run_cm_grid_accumulate

    e = read_events(spark, sf_dir).where(F.col("user_id").isNotNull())
    work = tempfile.mkdtemp(prefix="stockpy_stream_cm_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src_dir = os.path.join(work, "src")
    os.makedirs(src_dir)
    for w in range(3):
        e.where(F.col("event_id") % 3 == w).select("user_id").coalesce(
            1
        ).write.parquet(os.path.join(src_dir, f"wave{w}.parquet"))
    stream = (
        spark.readStream.schema("user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src_dir, "*", "*.parquet"))
    )
    grid = run_cm_grid_accumulate(
        spark,
        stream,
        "user_id",
        os.path.join(work, "sink"),
        os.path.join(work, "ckpt"),
        depth=4,
        width=64,
    )
    return cm_point_estimates(grid, e, "user_id", depth=4, width=64)


@query("stream_blob_ingest", oracle=SQL_MM_PIXELS, serial=True)
def q_stream_blob_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous blob-shard ingestion (streaming/ops.py
    run_blob_shard_ingest — the 10th streaming class): per-doc BMP
    payloads arrive as THREE waves (doc_id mod 3, maxFilesPerTrigger=1
    so the micro-batch engine genuinely splits them), each batch is
    packed into its own crash-safe shard subdirectory with the pointer
    rows appended to the index, then the FULL index is pointer-sliced
    back, decoded, and hashed against the same closed-form pixel
    oracle as mm_decode_pixels — certifying that streaming ingestion
    preserved every byte across batch boundaries."""
    import atexit
    import shutil

    from stockpy_spark.operators.multimodal import (
        attach_bmp_payload,
        extract_pixel_features,
        read_blob_slices,
    )
    from stockpy_spark.streaming.ops import run_blob_shard_ingest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    assets = attach_bmp_payload(docs, "doc_id").select("doc_id", "payload")
    work = tempfile.mkdtemp(prefix="stockpy_stream_blob_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src_dir = os.path.join(work, "src")
    os.makedirs(src_dir)
    for w in range(3):
        assets.where(F.col("doc_id") % 3 == w).coalesce(1).write.parquet(
            os.path.join(src_dir, f"wave{w}.parquet")
        )
    stream = (
        spark.readStream.schema("doc_id bigint, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src_dir, "*", "*.parquet"))
    )
    index = run_blob_shard_ingest(
        spark,
        stream,
        "doc_id",
        os.path.join(work, "shards"),
        os.path.join(work, "index"),
        os.path.join(work, "ckpt"),
        n_shards=2,
    )
    restored = read_blob_slices(index).select(
        "doc_id",
        "payload",
        F.struct(
            F.lit("image/bmp").alias("media_type"),
            (F.col("doc_id") % 8 + 4).cast("int").alias("width"),
            (F.col("doc_id") % 6 + 4).cast("int").alias("height"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
    return extract_pixel_features(restored)


def _admit_wave_sql(w: int, fps_src: str, keys_src: str) -> str:
    """One sequential admission wave: exact anti vs the standing
    fingerprints, band semi vs the standing keys, within-batch
    bucket-min — the incremental_dedup_admit stages over wave w."""
    return f"""batch_{w} AS (
    SELECT * FROM documents
    WHERE doc_id % 5 = 0 AND text IS NOT NULL AND (doc_id // 5) % 3 = {w}
), s1_{w} AS (
    SELECT b.* FROM batch_{w} b
    WHERE md5(b.text) NOT IN (SELECT f FROM {fps_src})
      AND b.doc_id = (SELECT min(b2.doc_id) FROM batch_{w} b2
                      WHERE md5(b2.text) = md5(b.text))
), {_bsig_ctes(f'_b{w}', f's1_{w}')}, s2_{w} AS (
    SELECT s1_{w}.* FROM s1_{w}
    WHERE NOT EXISTS (
        SELECT 1 FROM bsig_b{w} bb
        JOIN {keys_src} ck ON bb.band = ck.band AND bb.bs = ck.bs
        WHERE bb.doc = s1_{w}.doc_id)
), bs2_{w} AS (
    SELECT bb.* FROM bsig_b{w} bb JOIN s2_{w} ON bb.doc = s2_{w}.doc_id
), bucket_min_{w} AS (
    SELECT band, bs, min(doc) AS bmin FROM bs2_{w} GROUP BY band, bs
), keeper_{w} AS (
    SELECT bs2_{w}.doc, min(bm.bmin) AS k
    FROM bs2_{w} JOIN bucket_min_{w} bm
      ON bs2_{w}.band = bm.band AND bs2_{w}.bs = bm.bs
    GROUP BY bs2_{w}.doc
), adm_{w} AS (
    SELECT s2_{w}.* FROM s2_{w}
    LEFT JOIN keeper_{w} ON keeper_{w}.doc = s2_{w}.doc_id
    WHERE keeper_{w}.k IS NULL OR keeper_{w}.k = s2_{w}.doc_id
), fps_{w + 1} AS (
    SELECT f FROM {fps_src}
    UNION SELECT md5(text) AS f FROM adm_{w}
), keys_{w + 1} AS (
    SELECT band, bs FROM {keys_src}
    UNION SELECT DISTINCT bb.band, bb.bs
          FROM bsig_b{w} bb JOIN adm_{w} ON bb.doc = adm_{w}.doc_id
)"""


def _sql_stream_admit() -> str:
    sql = f"""
WITH corpus AS (
    SELECT * FROM documents WHERE doc_id % 5 <> 0 AND text IS NOT NULL
), {_bsig_ctes('_c', 'corpus')}, fps_0 AS (
    SELECT DISTINCT md5(text) AS f FROM corpus
), keys_0 AS (
    SELECT DISTINCT band, bs FROM bsig_c
), {_admit_wave_sql(0, 'fps_0', 'keys_0')},
{_admit_wave_sql(1, 'fps_1', 'keys_1')},
{_admit_wave_sql(2, 'fps_2', 'keys_2')}
SELECT doc_id, lang, n_chars FROM adm_0
UNION ALL SELECT doc_id, lang, n_chars FROM adm_1
UNION ALL SELECT doc_id, lang, n_chars FROM adm_2
"""
    # chained sequential stages re-evaluate ancestors exponentially if
    # DuckDB inlines them (the kcenter-oracle lesson) — materialize
    # every CTE
    return sql.replace(" AS (", " AS MATERIALIZED (")


SQL_STREAM_ADMIT = _sql_stream_admit()


@query("stream_minhash_admit", oracle=SQL_STREAM_ADMIT, serial=True)
def q_stream_minhash_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming/incremental MinHash-LSH admitter (streaming/ops.py
    run_incremental_minhash_admitter — the 11th streaming class): the
    batch docs (doc_id % 5 == 0) arrive as THREE waves in a PINNED
    order ((doc_id div 5) % 3, synthetic mtimes force the file-source
    sequence — admission is order-dependent, unlike the additive CM
    sink), each micro-batch is screened against the standing corpus's
    materialized fingerprint + band-key index, and admitted docs'
    keys append so later waves screen against earlier admissions.
    The oracle replays the SEQUENTIAL semantics exactly: a 3-wave
    unrolled CTE chain where wave w's standing sets are the corpus
    plus waves < w's admissions — a full hash gate on an
    order-dependent streaming operator."""
    import atexit
    import glob as _glob
    import shutil

    from stockpy_spark.streaming.ops import run_incremental_minhash_admitter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("text").isNotNull()
    )
    cols = ["doc_id", "lang", "n_chars", "text"]
    batch_all = docs.where(F.col("doc_id") % 5 == 0).select(*cols)
    corpus = docs.where(F.col("doc_id") % 5 != 0).select(*cols)
    work = tempfile.mkdtemp(prefix="stockpy_stream_admit_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    landing = os.path.join(work, "landing")
    os.makedirs(landing)
    for w in range(3):
        tmp = os.path.join(work, f"w{w}")
        batch_all.where(
            F.expr("(doc_id div 5) % 3") == w
        ).coalesce(1).write.parquet(tmp)
        part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(landing, f"batch-{w}.parquet")
        shutil.move(part, dst)
        # fixed synthetic mtimes: file-source order is (modTime, path),
        # so this pins arrival order deterministically
        os.utime(dst, (1_000_000_000 + w, 1_000_000_000 + w))
    stream = (
        spark.readStream.schema(batch_all.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    admitted = run_incremental_minhash_admitter(
        spark,
        stream,
        corpus,
        "text",
        "doc_id",
        os.path.join(work, "state"),
        os.path.join(work, "ckpt"),
    )
    return admitted.select("doc_id", "lang", "n_chars")


SQL_STREAM_PSI = """
WITH base AS (
    SELECT CAST(event_id AS BIGINT) AS eid, value AS v,
           CAST(floor(epoch(ts) / 604800) AS BIGINT) AS wk
    FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
), refp AS (
    SELECT min(wk) AS rp FROM base
), ref AS (
    SELECT v FROM base, refp WHERE wk = rp
), rng AS (
    SELECT min(v) AS mn, max(v) AS mx FROM ref
), refc AS (
    SELECT bin, count(*) AS n FROM (
        SELECT least(9, greatest(0,
            CASE WHEN mx = mn THEN CASE WHEN v <= mn THEN 0 ELSE 9 END
                 ELSE CAST(floor((v - mn) / ((mx - mn) / 10.0)) AS INTEGER)
            END)) AS bin
        FROM ref, rng) GROUP BY 1
), cur AS (
    SELECT eid % 3 AS batch_id,
           least(9, greatest(0,
               CASE WHEN mx = mn THEN CASE WHEN v <= mn THEN 0 ELSE 9 END
                    ELSE CAST(floor((v - mn) / ((mx - mn) / 10.0)) AS INTEGER)
               END)) AS bin,
           count(*) AS n_cur
    FROM base, rng, refp WHERE wk <> rp GROUP BY 1, 2
), grid AS (
    SELECT b.batch_id, bb.bin,
           COALESCE(rc.n, 0) AS n_ref,
           COALESCE(c.n_cur, 0) AS n_cur
    FROM (SELECT DISTINCT batch_id FROM cur) b
    CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bin) bb
    LEFT JOIN refc rc ON rc.bin = bb.bin
    LEFT JOIN cur c ON c.batch_id = b.batch_id AND c.bin = bb.bin
), j AS (
    SELECT batch_id, n_ref, n_cur,
           sum(n_ref) OVER (PARTITION BY batch_id) AS tr,
           sum(n_cur) OVER (PARTITION BY batch_id) AS tc
    FROM grid
), terms AS (
    SELECT batch_id, n_cur,
           (greatest(n_ref / CAST(tr AS DOUBLE), 0.000001)
            - greatest(n_cur / CAST(tc AS DOUBLE), 0.000001))
           * ln(greatest(n_ref / CAST(tr AS DOUBLE), 0.000001)
                / greatest(n_cur / CAST(tc AS DOUBLE), 0.000001)) AS term
    FROM j
)
SELECT CAST(batch_id AS BIGINT) AS batch_id,
       CAST(sum(n_cur) AS BIGINT) AS n_values,
       round(sum(term), 6) AS psi,
       round(sum(term), 6) > 0.2 AS is_alert
FROM terms GROUP BY batch_id
"""


@query("stream_psi_monitor", oracle=SQL_STREAM_PSI, serial=True)
def q_stream_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PSI drift monitor (streaming/ops.py run_psi_monitor —
    the 12th streaming class): the EARLIEST epoch week of events is
    the static reference; the remaining events arrive as THREE
    deterministic waves (event_id % 3, synthetic mtimes pin the
    file-source order), and every micro-batch appends one audit row
    scored against the reference. Batches are independent against the
    static reference, so the oracle is a per-wave PSI grouped by
    event_id % 3 — the batch SPLIT (not order) is what the fixture
    pins."""
    import atexit
    import glob as _glob
    import shutil

    from stockpy_spark.streaming.ops import run_psi_monitor

    ev = read_events(spark, sf_dir).where(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    wk = F.floor(F.col("ts").cast("timestamp").cast("long") / 604800)
    refp = ev.agg(F.min(wk).alias("rp")).collect()[0].rp
    ref = ev.where(wk == F.lit(refp))
    rest = ev.where(wk != F.lit(refp)).select("event_id", "value")
    work = tempfile.mkdtemp(prefix="stockpy_stream_psi_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    landing = os.path.join(work, "landing")
    os.makedirs(landing)
    for w in range(3):
        tmp = os.path.join(work, f"w{w}")
        rest.where(F.col("event_id") % 3 == w).coalesce(1).write.parquet(tmp)
        part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(landing, f"batch-{w}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_000_000_000 + w, 1_000_000_000 + w))
    stream = (
        spark.readStream.schema(rest.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    return run_psi_monitor(
        spark,
        stream,
        ref,
        "value",
        os.path.join(work, "sink"),
        os.path.join(work, "ckpt"),
    )


SQL_STREAM_SHARDPOS = """
WITH w AS (
    SELECT doc_id, (doc_id // 5) % 3 AS wave,
           md5('shard' || chr(31) || CAST(doc_id AS VARCHAR)) AS draw,
           CAST(CAST(concat('0x', substr(md5('shard' || chr(31)
                || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) % 4
                AS INTEGER) AS shard
    FROM documents WHERE doc_id % 5 = 0
)
SELECT doc_id, shard,
       CAST(row_number() OVER (
           PARTITION BY shard ORDER BY wave, draw, doc_id
       ) AS BIGINT) AS position
FROM w
"""


@query("stream_shard_positions", oracle=SQL_STREAM_SHARDPOS, serial=True)
def q_stream_shard_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous training-order assignment (streaming/ops.py
    run_incremental_shard_positions — the 13th streaming class, the
    streaming twin of sample_shard_shuffle): the stream docs
    (doc_id % 5 == 0) arrive as THREE pinned-order waves (synthetic
    mtimes force the file-source sequence); each wave's docs get their
    md5-uniform shard and a position CONTINUING that shard's sequence
    from earlier waves' per-shard count table (the KB-per-batch CDC
    state — never an O(corpus) rescan). The oracle replays the
    sequential semantics as ONE window: position = row_number over
    (shard) ordered by (wave, draw, doc_id) — wave-major is exactly
    what continuation means."""
    import atexit
    import glob as _glob
    import shutil

    from stockpy_spark.streaming.ops import run_incremental_shard_positions

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch_all = docs.where(F.col("doc_id") % 5 == 0).select("doc_id")
    work = tempfile.mkdtemp(prefix="stockpy_stream_shardpos_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    landing = os.path.join(work, "landing")
    os.makedirs(landing)
    for w in range(3):
        tmp = os.path.join(work, f"w{w}")
        batch_all.where(
            F.expr("(doc_id div 5) % 3") == w
        ).coalesce(1).write.parquet(tmp)
        part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(landing, f"batch-{w}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_000_000_000 + w, 1_000_000_000 + w))
    stream = (
        spark.readStream.schema(batch_all.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    return run_incremental_shard_positions(
        spark,
        stream,
        "doc_id",
        os.path.join(work, "state"),
        os.path.join(work, "ckpt"),
    )
