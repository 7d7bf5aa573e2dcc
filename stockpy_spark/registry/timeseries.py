"""Time-series queries: range joins (banding, event-in-window, interval
overlap), time-bucket and multi-resolution rollups, gap fill, EWMA and
trend folds, sessions, change points, seasonal outliers and interval
concurrency.

The range joins' oracles are the NAIVE inequality joins, so a hash
match proves the bucket decomposition loses or double-counts nothing
against the O(n*m) semantics.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stockpy_spark.operators.rangejoin import (
    bucketed_range_join,
    interval_overlap_join,
)
from stockpy_spark.operators.timeseries import (
    continuous_aggregate,
    cusum_changepoint,
    gap_fill_linear,
    gap_fill_locf,
    hopping_window_rollup,
    interval_concurrency,
    reaggregate,
    rolling_zscore,
)
from stockpy_spark.registry._common import _t, query
from stockpy_spark.sources.testdata import read_events


SQL_TS_ACF = r"""
WITH b AS (
    SELECT user_id AS k, ts, event_id AS tb, CAST(value AS DOUBLE) AS x
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
), l AS (
    SELECT k, x,
           lead(x, 1) OVER w AS x1,
           lead(x, 2) OVER w AS x2,
           lead(x, 3) OVER w AS x3
    FROM b WINDOW w AS (PARTITION BY k ORDER BY ts, tb)
), m AS (
    SELECT k, count(*) AS n, sum(x) AS s, sum(x * x) AS ss,
           sum(x * x1) AS sxy1, sum(CASE WHEN x1 IS NOT NULL THEN x END) AS sx1,
           sum(x1) AS sy1, sum(CASE WHEN x1 IS NOT NULL THEN 1 ELSE 0 END) AS m1,
           sum(x * x2) AS sxy2, sum(CASE WHEN x2 IS NOT NULL THEN x END) AS sx2,
           sum(x2) AS sy2, sum(CASE WHEN x2 IS NOT NULL THEN 1 ELSE 0 END) AS m2,
           sum(x * x3) AS sxy3, sum(CASE WHEN x3 IS NOT NULL THEN x END) AS sx3,
           sum(x3) AS sy3, sum(CASE WHEN x3 IS NOT NULL THEN 1 ELSE 0 END) AS m3
    FROM l GROUP BY k
)
SELECT k AS user_id, CAST(n AS BIGINT) AS n_points,
       CASE WHEN m1 > 0 AND (ss - n * (s / n) * (s / n)) > 1e-12
            THEN round((sxy1 - (s / n) * sy1 - (s / n) * sx1 + m1 * (s / n) * (s / n))
                       / (ss - n * (s / n) * (s / n)), 6) END AS acf_1,
       CASE WHEN m2 > 0 AND (ss - n * (s / n) * (s / n)) > 1e-12
            THEN round((sxy2 - (s / n) * sy2 - (s / n) * sx2 + m2 * (s / n) * (s / n))
                       / (ss - n * (s / n) * (s / n)), 6) END AS acf_2,
       CASE WHEN m3 > 0 AND (ss - n * (s / n) * (s / n)) > 1e-12
            THEN round((sxy3 - (s / n) * sy3 - (s / n) * sx3 + m3 * (s / n) * (s / n))
                       / (ss - n * (s / n) * (s / n)), 6) END AS acf_3
FROM m
"""


@query("ts_acf", oracle=SQL_TS_ACF)
def q_ts_acf(spark, sf_dir):
    """Per-user autocorrelation at lags 1-3
    (operators/timeseries.py autocorrelation_by_key — the is-this-
    series-white-noise diagnostic run before any forecasting
    decision): values ordered by (ts, event_id) so timestamp
    collisions pair deterministically, one key shuffle shared by the
    lag window and the moment aggregate, NULL for lags a series is too
    short to support. Every user's r_1..r_3 hash-checked; the
    numerator/denominator expression trees are mirrored term-for-term
    so the doubles agree bit-for-bit before rounding."""
    from stockpy_spark.operators.timeseries import autocorrelation_by_key
    from stockpy_spark.sources.testdata import read_events

    return autocorrelation_by_key(
        read_events(spark, sf_dir), "user_id", "ts", "value", "event_id"
    )


# --- rj1: value-banding range join (price bands) ------------------------
N_BANDS, BAND_W = 21, 5000.0


SQL_RJ1 = """
WITH bands AS (
    SELECT CAST(range AS BIGINT) AS band,
           range * 5000.0 AS lo,
           range * 5000.0 + 4999.99 AS hi
    FROM range(0, 21)
)
SELECT b.band, COUNT(*) AS n_items, ROUND(SUM(l.l_quantity), 4) AS sum_qty
FROM lineitem l JOIN bands b ON l.l_extendedprice BETWEEN b.lo AND b.hi
GROUP BY b.band
"""


@query("rj1_price_band", oracle=SQL_RJ1)
def q_rj1_price_band(spark, sf_dir):
    """Band every lineitem by price into fixed 5000-wide brackets via
    the bucketed range join (operators/rangejoin.py) — NO nested-loop
    join: the bands explode onto the same floor(price/5000) grid the
    facts map to, so Catalyst plans a broadcast hash equi-join. The
    oracle is the naive BETWEEN join."""
    li = _t(spark, sf_dir, "lineitem")
    bands = spark.range(N_BANDS).select(
        F.col("id").alias("band"),
        (F.col("id") * BAND_W).alias("lo"),
        (F.col("id") * BAND_W + (BAND_W - 0.01)).alias("hi"),
    )
    joined = bucketed_range_join(
        li, bands, "l_extendedprice", "lo", "hi"  # auto width ~ band width
    )
    return joined.groupBy("band").agg(
        F.count("*").cast("long").alias("n_items"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
    )


# --- rj2: event-in-time-window attribution ------------------------------
DAY_LO_S, DAY_HI_S = 9 * 3600, 17 * 3600  # business window, closed


SQL_RJ2 = """
WITH w AS (
    SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y%m%d') AS day,
           CAST(epoch(CAST(CAST(ts AS DATE) AS TIMESTAMP)) AS BIGINT)
               + 32400 AS lo,
           CAST(epoch(CAST(CAST(ts AS DATE) AS TIMESTAMP)) AS BIGINT)
               + 61200 AS hi
    FROM events
)
SELECT w.day, COUNT(*) AS n_events, ROUND(SUM(e.value), 4) AS sum_value
FROM events e
JOIN w ON CAST(floor(epoch(e.ts)) AS BIGINT) BETWEEN w.lo AND w.hi
GROUP BY w.day
"""


@query("rj2_event_windows", oracle=SQL_RJ2)
def q_rj2_event_windows(spark, sf_dir):
    """Attribute events to per-day business windows (09:00-17:00 UTC,
    closed on whole seconds) with the bucketed range join on epoch
    seconds. The window frame derives from the events' own distinct
    days, so the interval side is data-driven, not a literal table."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts_sec", F.col("ts").cast("timestamp").cast("long")
    )
    days = (
        ev.select(F.to_date("ts").alias("d"))
        .distinct()
        .withColumn("day_start", F.col("d").cast("timestamp").cast("long"))
        .select(
            F.date_format("d", "yyyyMMdd").alias("day"),
            (F.col("day_start") + DAY_LO_S).alias("lo"),
            (F.col("day_start") + DAY_HI_S).alias("hi"),
        )
    )
    joined = bucketed_range_join(
        ev, days, "ts_sec", "lo", "hi"  # auto width ~ the 8h window
    )
    return joined.groupBy("day").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


# --- rj3: interval x interval overlap -----------------------------------
N_PROMOS, PROMO_STRIDE_D, PROMO_LEN_D, ORDER_LEN_D = 10, 220, 13, 6


EPOCH_DATE = "1995-01-01"


SQL_RJ3 = """
WITH promo AS (
    SELECT CAST(range AS BIGINT) AS promo_id,
           range * 220 AS p_lo, range * 220 + 13 AS p_hi
    FROM range(0, 10)
), o AS (
    SELECT date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
               AS o_lo,
           date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) + 6
               AS o_hi,
           o_totalprice
    FROM orders
)
SELECT promo_id, COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS promo_exposure
FROM o JOIN promo ON o.o_lo <= promo.p_hi AND promo.p_lo <= o.o_hi
GROUP BY promo_id
"""


@query("rj3_promo_overlap", oracle=SQL_RJ3)
def q_rj3_promo_overlap(spark, sf_dir):
    """Overlap-join order fulfillment windows [orderdate, +6d] against
    ten 14-day promo windows, exactly once per overlapping pair via the
    first-shared-bucket rule (operators/rangejoin.py). Day arithmetic is
    integer days since 1995-01-01 on both engines."""
    orders = _t(spark, sf_dir, "orders").select(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit(EPOCH_DATE).cast("date")
        ).cast("long").alias("o_lo"),
        "o_totalprice",
    )
    orders = orders.withColumn("o_hi", F.col("o_lo") + ORDER_LEN_D)
    promos = spark.range(N_PROMOS).select(
        F.col("id").alias("promo_id"),
        (F.col("id") * PROMO_STRIDE_D).alias("p_lo"),
        (F.col("id") * PROMO_STRIDE_D + PROMO_LEN_D).alias("p_hi"),
    )
    joined = interval_overlap_join(
        orders, promos, "o_lo", "o_hi", "p_lo", "p_hi"  # auto width
    )
    return joined.groupBy("promo_id").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("promo_exposure"),
    )


# --- ts1/ts2: hypertable rollups ----------------------------------------
FINE_W, COARSE_W = 6 * 3600, 24 * 3600


SQL_TS1 = """
SELECT CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS bucket_start,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 4) AS sum_value,
       ROUND(MIN(value), 4) AS min_value,
       ROUND(MAX(value), 4) AS max_value
FROM events
GROUP BY 1, 2
"""


@query("ts_bucket_rollup", oracle=SQL_TS1)
def q_ts_bucket_rollup(spark, sf_dir):
    """Continuous aggregate: events onto a 6-hour UTC grid per
    event_type — one shuffle, decomposable partials, derived mean at
    select time (operators/timeseries.py)."""
    ev = _t(spark, sf_dir, "events")
    agg = continuous_aggregate(ev, "ts", FINE_W, ["event_type"], "value")
    return agg.select(
        "bucket_start",
        "event_type",
        "n",
        F.round("sum_v", 4).alias("sum_value"),
        F.round("min_v", 4).alias("min_value"),
        F.round("max_v", 4).alias("max_value"),
    )


SQL_TS2 = """
SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS bucket_start,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 4) AS sum_value,
       ROUND(MIN(value), 4) AS min_value,
       ROUND(MAX(value), 4) AS max_value
FROM events
GROUP BY 1, 2
"""


@query("ts_rollup_two_level", oracle=SQL_TS2)
def q_ts_rollup_two_level(spark, sf_dir):
    """The hypertable point: the DAILY rollup reaggregates the 6-hour
    rollup (sum of sums, sum of counts, min of mins) — raw events are
    scanned once, at the finest grid. The oracle computes the daily
    stats straight from raw events, so a hash match proves the
    reaggregation algebra is exact, not approximately right."""
    ev = _t(spark, sf_dir, "events")
    fine = continuous_aggregate(ev, "ts", FINE_W, ["event_type"], "value")
    daily = reaggregate(fine, COARSE_W, ["event_type"], fine_width_seconds=FINE_W)
    return daily.select(
        "bucket_start",
        "event_type",
        "n",
        F.round("sum_v", 4).alias("sum_value"),
        F.round("min_v", 4).alias("min_value"),
        F.round("max_v", 4).alias("max_value"),
    )


SQL_TS_LOCF = """
WITH ranked AS (
    SELECT user_id,
           CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS bucket_start,
           value,
           ROW_NUMBER() OVER (
               PARTITION BY user_id,
                            CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT)
               ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
), obs AS (
    SELECT user_id, bucket_start, value FROM ranked WHERE rn = 1
), grid AS (
    SELECT u.user_id, b.bucket_start
    FROM (SELECT DISTINCT user_id FROM events) u
    CROSS JOIN (
        SELECT DISTINCT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT)
            AS bucket_start
        FROM events
    ) b
)
SELECT g.user_id, g.bucket_start,
       last_value(o.value IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.bucket_start
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS locf
FROM grid g LEFT JOIN obs o USING (user_id, bucket_start)
"""


@query("ts_gap_fill_locf", oracle=SQL_TS_LOCF)
def q_ts_gap_fill_locf(spark, sf_dir):
    """Dense per-user daily grid with last-observation-carried-forward
    (operators/timeseries.py:gap_fill_locf): every user gets every
    observed day; days without events carry the user's latest earlier
    value, NULL before the first. Deterministic last-per-day via
    (ts, event_id) tiebreak."""
    ev = _t(spark, sf_dir, "events")
    return gap_fill_locf(ev, "user_id", "ts", "value", "event_id")


SQL_TS_HOP = """
SELECT CAST(floor(epoch(ts) / 7200) * 7200 - i.i * 7200 AS BIGINT)
           AS window_start,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 4) AS sum_value,
       ROUND(MIN(value), 4) AS min_value,
       ROUND(MAX(value), 4) AS max_value
FROM events JOIN generate_series(0, 2) i(i) ON TRUE
GROUP BY 1, 2
"""


@query("ts_hopping_rollup", oracle=SQL_TS_HOP)
def q_ts_hopping_rollup(spark, sf_dir):
    """Overlapping 6h windows sliding every 2h, per event_type — each
    event fans out to its 3 covering windows map-side (no self-join),
    one grouped agg (operators/timeseries.py:hopping_window_rollup;
    streaming twin: F.window(ts, '6 hours', '2 hours'))."""
    ev = _t(spark, sf_dir, "events")
    agg = hopping_window_rollup(ev, "ts", 6 * 3600, 2 * 3600, ["event_type"], "value")
    return agg.select(
        "window_start",
        "event_type",
        "n",
        F.round("sum_v", 4).alias("sum_value"),
        F.round("min_v", 4).alias("min_value"),
        F.round("max_v", 4).alias("max_value"),
    )


# --- sweep-line interval concurrency ------------------------------------
SQL_CONCURRENCY = """
WITH iv AS (
    SELECT event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS start_s,
           CAST(floor(epoch(ts)) AS BIGINT)
               + CAST(floor(value) AS BIGINT) AS end_s
    FROM events
    WHERE ts IS NOT NULL AND value IS NOT NULL
), b AS (
    SELECT event_type, start_s AS at_epoch, 1 AS delta FROM iv
    UNION ALL
    SELECT event_type, end_s AS at_epoch, -1 AS delta FROM iv
), net AS (
    SELECT event_type, at_epoch, SUM(delta) AS net
    FROM b GROUP BY event_type, at_epoch
)
SELECT event_type, at_epoch,
       CAST(SUM(net) OVER (PARTITION BY event_type ORDER BY at_epoch
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS concurrent
FROM net
"""


@query("ev_concurrency", oracle=SQL_CONCURRENCY)
def q_ev_concurrency(spark, sf_dir):
    """Concurrent open sessions per event_type: each event opens an
    interval of ``value`` whole seconds (derived identically on both
    engines via epoch arithmetic); sweep line gives the concurrency
    level at every boundary instant (operators/timeseries.py).

    Boundary instants surface as epoch-second BIGINTs, not timestamps:
    the r06 driver row went red because DuckDB ``to_timestamp()``
    returns TIMESTAMP WITH TIME ZONE and the driver's pandas-dtype
    schema check rejects tz-aware-vs-naive — epoch integers are the
    tz-proof cross-engine surface (the green SQL_STREAM_HOPPING
    pattern)."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    # second-truncated instants (cast timestamp -> long floors) keep
    # the boundary arithmetic integral and identical on both engines
    sec = F.col("ts").cast("timestamp").cast("long")
    iv = ev.select(
        "event_type",
        sec.alias("start_s"),
        (sec + F.floor(F.col("value")).cast("long")).alias("end_s"),
    )
    out = interval_concurrency(iv, "start_s", "end_s", ["event_type"])
    return out.select(
        "event_type", F.col("at_ts").alias("at_epoch"), "concurrent"
    )


# --- native session windows (batch twin of streaming sessionization) ----
SQL_SESSION_WINDOW = """
WITH ev AS (
    SELECT user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS tss,
           value
    FROM events WHERE ts IS NOT NULL
), flagged AS (
    SELECT user_id, tss, value,
           -- Spark's session window is half-open: an event exactly
           -- `gap` after the previous one starts a NEW session
           CASE WHEN tss - LAG(tss) OVER (PARTITION BY user_id ORDER BY tss)
                     >= 1800
                OR LAG(tss) OVER (PARTITION BY user_id ORDER BY tss) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM ev
), sessions AS (
    SELECT user_id, tss, value,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY tss
                                  ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
)
SELECT user_id,
       MIN(tss) AS session_epoch,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       round(SUM(value), 4) AS sum_value
FROM sessions GROUP BY user_id, sid
"""


@query("ts_session_window", oracle=SQL_SESSION_WINDOW)
def q_ts_session_window(spark, sf_dir):
    """Per-user session aggregates via Spark's NATIVE
    ``F.session_window`` (30-minute inactivity gap) — the built-in
    operator behind streaming session aggregation, exercised in batch.
    Semantically identical to the window-function sessionization the
    w5_sessionize query builds by hand (lag + gap flag + running sum),
    which is exactly what the DuckDB oracle computes; a hash match
    proves the native operator and the classic formulation agree.
    Events are second-truncated so the gap arithmetic is integral on
    both engines; session starts surface as epoch BIGINTs (tz-proof —
    see q_ev_concurrency)."""
    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    sec = F.col("ts").cast("timestamp").cast("long")
    ev = ev.select(
        "user_id", F.timestamp_seconds(sec).alias("tss"), "value"
    )
    return (
        ev.groupBy("user_id", F.session_window("tss", "30 minutes"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").cast("long").alias("session_epoch"),
            "n_events",
            "sum_value",
        )
    )


# --- regression aggregates (trend per key) -------------------------------
SQL_TS_TREND = """
SELECT event_type,
       COUNT(*) AS n,
       round(regr_slope(value, CAST(floor(epoch(ts)) AS BIGINT) / 86400.0), 6)
           AS slope_per_day,
       round(regr_intercept(value, CAST(floor(epoch(ts)) AS BIGINT) / 86400.0), 6)
           AS intercept,
       round(corr(value, CAST(floor(epoch(ts)) AS BIGINT) / 86400.0), 6)
           AS corr_yx
FROM events
WHERE ts IS NOT NULL AND value IS NOT NULL
GROUP BY event_type
"""


@query("ts_trend", oracle=SQL_TS_TREND)
def q_ts_trend(spark, sf_dir):
    """Per-event-type linear trend of value over time via the built-in
    regression aggregates (regr_slope / regr_intercept / corr — the
    SQL-standard OLS family, one aggregation pass, decomposable
    partials). Time axis is days since epoch so slopes are
    human-scaled; outputs rounded to 6."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    x = F.col("ts").cast("timestamp").cast("long") / F.lit(86400.0)
    prepared = ev.select("event_type", x.alias("x"), F.col("value").alias("y"))
    return prepared.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.regr_slope("y", "x"), 6).alias("slope_per_day"),
        F.round(F.regr_intercept("y", "x"), 6).alias("intercept"),
        F.round(F.corr("y", "x"), 6).alias("corr_yx"),
    )


# --- EWMA (recursive smoothing as an exact cross-engine fold) ------------
SQL_TS_EWMA = """
WITH seq AS (
    SELECT user_id,
           list(value ORDER BY ts, event_id) AS vals
    FROM events
    WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
    GROUP BY user_id
)
SELECT user_id,
       CAST(len(vals) AS BIGINT) AS n_events,
       round(list_reduce(vals, (acc, v) -> v * 0.1 + acc * 0.9), 8) AS ewma
FROM seq
"""


@query("ts_ewma", oracle=SQL_TS_EWMA)
def q_ts_ewma(spark, sf_dir):
    """Per-user exponentially weighted moving average of event values
    (alpha = 0.1): the classic RECURSIVE smoother s = a*v + (1-a)*s
    that window frames cannot express, computed as a left fold over the
    time-ordered value list — the same builtin-expression fold idiom as
    the Rabin-Karp fingerprint (functions/text.py), so DuckDB
    reproduces every double operation in the same order and the result
    is bit-exact cross-engine. Seeded with the first value, ties on ts
    broken by event_id.

    Scale note: collect_list bounds state by the per-key series length
    — the right tool when per-key series fit an executor (user/device
    telemetry); an unbounded-key variant would ride
    applyInPandasWithState (streaming/ops.py stateful_running_stats is
    that shape).

    ts is declared non-null for this query: Spark's array_sort places
    a null-ts struct FIRST while DuckDB's ORDER BY places NULLS LAST
    (probed empirically), so a regenerated fixture with null
    timestamps would silently reorder the fold between engines — the
    filter pins the contract instead (same defensive move as
    gate_hll_rollup's)."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    )
    ordered = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("__seq")
    )
    vals = F.transform(F.col("__seq"), lambda s: s["value"])
    ewma = F.aggregate(
        F.slice(vals, 2, F.greatest(F.lit(0), F.size(vals) - 1)),
        F.element_at(vals, 1),
        lambda acc, v: v * F.lit(0.1) + acc * F.lit(0.9),
    )
    return ordered.select(
        "user_id",
        F.size("__seq").cast("long").alias("n_events"),
        F.round(ewma, 8).alias("ewma"),
    )


# --- linear-interpolation gap fill ---------------------------------------
SQL_TS_LINEAR = """
WITH ranked AS (
    SELECT user_id,
           CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS bucket_start,
           value,
           ROW_NUMBER() OVER (
               PARTITION BY user_id,
                            CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT)
               ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
), obs AS (
    SELECT user_id, bucket_start, value FROM ranked WHERE rn = 1
), grid AS (
    SELECT u.user_id, b.bucket_start
    FROM (SELECT DISTINCT user_id FROM events) u
    CROSS JOIN (
        SELECT DISTINCT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT)
            AS bucket_start
        FROM events
    ) b
), j AS (
    SELECT g.user_id, g.bucket_start, o.value
    FROM grid g LEFT JOIN obs o USING (user_id, bucket_start)
), wv AS (
    SELECT user_id, bucket_start, value,
        last_value(value IGNORE NULLS) OVER wb AS pv,
        last_value(CASE WHEN value IS NOT NULL THEN bucket_start END
                   IGNORE NULLS) OVER wb AS pb,
        first_value(value IGNORE NULLS) OVER wf AS nv,
        first_value(CASE WHEN value IS NOT NULL THEN bucket_start END
                    IGNORE NULLS) OVER wf AS nb
    FROM j
    WINDOW wb AS (PARTITION BY user_id ORDER BY bucket_start
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wf AS (PARTITION BY user_id ORDER BY bucket_start
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, bucket_start,
       round(CASE WHEN value IS NOT NULL THEN value
             ELSE pv + (nv - pv) *
                  (CAST(bucket_start - pb AS DOUBLE) / (nb - pb))
             END, 6) AS filled
FROM wv
"""


@query("ts_gap_fill_linear", oracle=SQL_TS_LINEAR)
def q_ts_gap_fill_linear(spark, sf_dir):
    """Dense per-user daily grid with linear interpolation between the
    nearest observed days (operators/timeseries.py:gap_fill_linear) —
    the interpolate() companion to ts_gap_fill_locf; NULL outside the
    first/last observation (no extrapolation)."""
    ev = _t(spark, sf_dir, "events")
    return gap_fill_linear(ev, "user_id", "ts", "value", "event_id")


# --- rolling z-score anomaly flags ---------------------------------------
SQL_TS_ZSCORE = """
WITH w AS (
    SELECT user_id, ts, event_id, value,
           count(value) OVER fr AS n,
           sum(value) OVER fr AS s,
           sum(value * value) OVER fr AS ss
    FROM events
    WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, ts, event_id, value,
       CASE WHEN n >= 2 AND (ss - n * (s / n) * (s / n)) / (n - 1) > 0
            THEN round((value - s / n)
                       / sqrt((ss - n * (s / n) * (s / n)) / (n - 1)), 6)
       END AS z,
       coalesce(abs(CASE WHEN n >= 2
                          AND (ss - n * (s / n) * (s / n)) / (n - 1) > 0
                         THEN round((value - s / n)
                              / sqrt((ss - n * (s / n) * (s / n)) / (n - 1)),
                              6)
                    END) > 2.0, false) AS is_anomaly
FROM w
"""


@query("ts_anomaly_zscore", oracle=SQL_TS_ZSCORE)
def q_ts_anomaly_zscore(spark, sf_dir):
    """Per-user rolling anomaly score over the 10 PRECEDING
    observations (operators/timeseries.py:rolling_zscore) — variance
    from decomposable n/sum/sumsq partials so both engines compute the
    identical algebra; z rounded to 6 before the |z|>2 flag."""
    ev = _t(spark, sf_dir, "events")
    return rolling_zscore(
        ev, "user_id", "ts", "value", "event_id", lookback=10, threshold=2.0
    )


# --- CUSUM change detection ----------------------------------------------

# The oracle replays the same closed form the operator uses (Lindley
# reflection: s_i = C_i - min(0, running-min C_j)); both engines build
# the running sum left-to-right over the identical (ts, event_id)
# order, so every s_i is the same double and the threshold
# comparisons replay exactly.
SQL_CUSUM = """
WITH base AS (
    SELECT user_id AS key, ts, event_id, value - 55.0 AS c
    FROM events WHERE value IS NOT NULL
), cum AS (
    SELECT key,
           row_number() OVER w AS i,
           sum(c) OVER w AS C
    FROM base
    WINDOW w AS (PARTITION BY key ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), s AS (
    SELECT key, i,
           C - least(0.0, min(C) OVER w) AS s
    FROM cum
    WINDOW w AS (PARTITION BY key ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), flagged AS (
    SELECT key, i, s,
           coalesce(lag(s) OVER (PARTITION BY key ORDER BY i), 0.0) < 200.0
               AND s >= 200.0 AS crossed
    FROM s
)
SELECT key, count(*) AS n,
       round(arg_max(s, i), 6) AS cusum_final,
       round(max(s), 6) AS cusum_max,
       CAST(sum(CASE WHEN crossed THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
       min(CASE WHEN crossed THEN i END) AS first_alarm_idx
FROM flagged
GROUP BY key
"""


@query("ts_cusum_alarm", oracle=SQL_CUSUM)
def q_ts_cusum_alarm(spark, sf_dir):
    """Per-user upward CUSUM over event values
    (operators/timeseries.py:cusum_changepoint): s = max(0, s + v - 55)
    alarming at 200 — the Page (1954) recursive control chart via its
    Lindley closed form s_i = C_i - min(0, running-min C_j): pure
    windows over one (key, time) sort, bit-exact cross-engine because
    both engines accumulate the same running sum in the same order."""
    ev = _t(spark, sf_dir, "events")
    return cusum_changepoint(
        ev,
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        target=50.0,
        slack=5.0,
        threshold=200.0,
        tiebreak_col="event_id",
    )


# --- incremental aggregate-state maintenance ------------------------------
_SPLIT_EPOCH = 1706000000  # 2024-01-23T08:53:20Z — inside the event range


SQL_INCR_STATE = """
SELECT CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS bucket_start,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 4) AS sum_value,
       ROUND(MIN(value), 4) AS min_value,
       ROUND(MAX(value), 4) AS max_value
FROM events
GROUP BY 1, 2
"""


@query("ts_incremental_state", oracle=SQL_INCR_STATE)
def q_ts_incremental_state(spark, sf_dir):
    """Incremental rollup maintenance
    (operators/timeseries.py:merge_aggregate_state): the 6-hour
    partials table built from HISTORY (ts < split) absorbs a freshly
    aggregated BATCH (ts >= split) through the monoid merge — history
    is never rescanned. The oracle recomputes the same rollup from ALL
    raw events in one pass, so a hash match proves the merge algebra
    is exact (including the split-straddling buckets, which exist in
    both inputs and must combine)."""
    from stockpy_spark.operators.timeseries import (
        continuous_aggregate,
        merge_aggregate_state,
    )

    ev = _t(spark, sf_dir, "events")
    split = F.col("ts").cast("timestamp").cast("long") < _SPLIT_EPOCH
    hist = continuous_aggregate(
        ev.filter(split), "ts", 21600, ["event_type"], "value"
    )
    batch = continuous_aggregate(
        ev.filter(~split), "ts", 21600, ["event_type"], "value"
    )
    merged = merge_aggregate_state(
        hist, batch, ["bucket_start", "event_type"]
    )
    return merged.select(
        "bucket_start",
        "event_type",
        "n",
        F.round("sum_v", 4).alias("sum_value"),
        F.round("min_v", 4).alias("min_value"),
        F.round("max_v", 4).alias("max_value"),
    )


# --- seasonality-adjusted outlier screen ----------------------------------
SQL_SEASONAL = """
WITH base AS (
    SELECT event_type AS key,
           CAST(CAST(floor(epoch(ts)) AS BIGINT) // 3600 % 168 AS INTEGER)
               AS phase,
           CAST(value AS DOUBLE) AS v
    FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
), prof AS (
    SELECT key, phase, count(*) AS n, round(avg(v), 6) AS seasonal_mean
    FROM base GROUP BY 1, 2
), sp AS (
    SELECT key, round(stddev_samp(v), 6) AS sigma FROM base GROUP BY 1
)
SELECT b.key AS event_type, b.phase,
       CAST(min(p.n) AS BIGINT) AS n,
       min(p.seasonal_mean) AS seasonal_mean,
       CAST(SUM(CASE WHEN abs(b.v - p.seasonal_mean) > 3.0 * s.sigma
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM base b
JOIN prof p ON b.key = p.key AND b.phase = p.phase
JOIN sp s ON b.key = s.key
GROUP BY 1, 2
"""


@query("ts_seasonal_outliers", oracle=SQL_SEASONAL)
def q_ts_seasonal_outliers(spark, sf_dir):
    """Hour-of-week seasonal profile per event_type + count of events
    beyond 3 sigma of THEIR OWN phase's mean (operators/timeseries.py
    seasonal_outlier_counts) — the screen that distinguishes "low" from
    "low even for 3am Sunday", which a raw rolling z-score flags
    wrongly during normal seasonal swings. Two decomposable passes, a
    KB profile broadcast, no windows."""
    from pyspark.sql import functions as F

    from stockpy_spark.operators.timeseries import seasonal_outlier_counts
    from stockpy_spark.sources.testdata import read_events

    ev = read_events(spark, sf_dir)
    return seasonal_outlier_counts(ev, "ts", "value", "event_type")
