"""Relational queries: the reference's SQL surface (SURVEY.md §2 inventory)
and the TPC-H shapes, plus joins, merges and iterative graph joins.

Column names are aliased identically in the Spark plan and its DuckDB
oracle; double-typed aggregates are rounded identically on both sides,
so cross-engine float-summation-order noise cannot flip the value hash.

TPC-H shapes are adapted where the testdata lacks TPC-H columns:
there is no partsupp table (Q2/Q16-style queries use lineitem as the
part-supplier link) and lineitem has no commitdate/receiptdate/shipmode,
so Q9 uses p_retailprice as the cost proxy and Q12/Q21 define lateness
as l_shipdate > o_orderdate + interval. Every TPC-H query keeps the
canonical plan: dims broadcast, fact-fact joins shuffle once on the
join key, aggregates combine map-side, top-k is TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from stockpy_spark.functions import strip_time_suffix
from stockpy_spark.operators import (
    add_literal_column,
    anti_join,
    attach_group_stats,
    attach_group_stats_window,
    cast_columns,
    cube_summary,
    dedup_by_key_first,
    distinct_rows,
    drop_na_subset,
    enrich_left_join,
    filter_cross_column_equal,
    filter_not_null_positive,
    group_summary,
    lag_delta,
    pivot_summary,
    rename_columns,
    rolling_mean,
    rollup_summary,
    running_sum,
    select_with_conditional_cast,
    semi_join,
    sessionize,
    top_k,
    topk_per_group,
    union_by_name,
)
from stockpy_spark.operators.aggregate import (
    grouping_sets_summary,
    unpivot_measures,
)
from stockpy_spark.operators.graph import bfs_hops
from stockpy_spark.operators.joins import (
    asof_join,
    blocked_fuzzy_join,
    salted_join,
)
from stockpy_spark.operators.merge import merge_upsert
from stockpy_spark.registry._common import _t, query


# --- flagship: the reference's richest query shape (transform_stocks
# requirements A+B+C fused; transform_stocks_job.py:169-199) on events ---
SQL_FLAGSHIP = """
WITH base AS (
    SELECT * FROM events WHERE event_type IS NOT NULL AND value > 0
), stats AS (
    SELECT event_type,
           round(avg(value), 4) AS avg_value_type,
           round(sum(value), 2) AS total_value_type
    FROM base GROUP BY event_type
)
SELECT b.event_id, b.user_id, b.event_type, b.ts, b.value,
       s.avg_value_type, s.total_value_type,
       b.value - lag(b.value) OVER (PARTITION BY b.user_id ORDER BY b.ts, b.event_id)
           AS value_delta
FROM base b LEFT JOIN stats s USING (event_type)
"""


@query("flagship_event_enrichment", oracle=SQL_FLAGSHIP)
def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type avg/sum attached to every row (J2) + per-user lag delta
    (W1/W2), the StockPy per-sector/per-ticker analytics re-expressed on
    the events table."""
    ev = _t(spark, sf_dir, "events")
    ev = filter_not_null_positive(ev, not_null=["event_type"], positive=["value"])
    ev = attach_group_stats(
        ev,
        ["event_type"],
        {"avg_value_type": F.round(F.avg("value"), 4), "total_value_type": F.round(F.sum("value"), 2)},
    )
    ev = lag_delta(ev, "value", ["user_id"], ["ts", "event_id"], delta_name="value_delta")
    return ev.select(
        "event_id", "user_id", "event_type", "ts", "value",
        "avg_value_type", "total_value_type", "value_delta",
    )


# --- projections / filters (P1-P9) ---
SQL_P1 = """
SELECT event_id, event_type,
       CASE WHEN value IS NOT NULL AND NOT isnan(value)
            THEN CAST(value AS DOUBLE) END AS value_clean
FROM events
"""


@query("p1_conditional_cast", oracle=SQL_P1)
def q_p1_conditional_cast(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = select_with_conditional_cast(
        ev, {"value": T.DoubleType()}, keep=["event_id", "event_type"]
    )
    return out.withColumnRenamed("value", "value_clean")


SQL_P2 = """
SELECT l_orderkey AS order_id, l_linenumber AS line_no, l_quantity AS qty,
       '20260813' AS dataproc
FROM lineitem
"""


@query("p2_rename_literal", oracle=SQL_P2)
def q_p2_rename_literal(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    out = rename_columns(li, {"l_orderkey": "order_id", "l_linenumber": "line_no", "l_quantity": "qty"})
    return add_literal_column(out, "dataproc", "20260813")


SQL_P4 = """
SELECT doc_id, text, lang, n_chars, CAST(NULL AS VARCHAR) AS editor_note
FROM documents
"""


@query("p4_fuzzy_align", oracle=SQL_P4)
def q_p4_fuzzy_align(spark, sf_dir):
    """P4 with schema drift: incoming headers are cased/spaced/fused
    variants of the expected names ("Doc ID" -> doc_id, " TEXT " ->
    text, "nchars" -> n_chars); the fuzzy ladder in align_to_columns
    must claim them and null-fill only the truly-missing column
    (reference: transform_news_job.py:52-84)."""
    from stockpy_spark.operators import align_to_columns

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("Doc ID"),
        F.col("text").alias(" TEXT "),
        F.col("lang").alias("Lang"),
        F.col("n_chars").alias("nchars"),
    )
    return align_to_columns(
        docs,
        {
            "doc_id": T.LongType(),
            "text": T.StringType(),
            "lang": T.StringType(),
            "n_chars": T.LongType(),
            "editor_note": T.StringType(),
        },
    )


SQL_P6 = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE l_returnflag IS NOT NULL AND l_quantity > 0 AND l_extendedprice > 30000
"""


@query("p6_filter_range", oracle=SQL_P6)
def q_p6_filter_range(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    out = filter_not_null_positive(
        li, not_null=["l_returnflag"], positive=["l_quantity"]
    ).filter(F.col("l_extendedprice") > 30000)
    return out.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


SQL_P7 = """
SELECT l_orderkey, l_linenumber, l_tax, l_discount
FROM lineitem
WHERE l_tax IS NOT NULL AND l_discount IS NOT NULL AND l_tax = l_discount
"""


@query("p7_cross_column_equal", oracle=SQL_P7)
def q_p7_cross_column_equal(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    out = filter_cross_column_equal(li, "l_tax", "l_discount")
    return out.select("l_orderkey", "l_linenumber", "l_tax", "l_discount")


SQL_P8 = """
SELECT event_id, CAST(user_id AS BIGINT) AS user_id, event_type,
       CAST(value AS DOUBLE) AS value, props
FROM events
WHERE props IS NOT NULL AND event_type IS NOT NULL
"""


@query("p8_p9_dropna_cast", oracle=SQL_P8)
def q_p8_p9_dropna_cast(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = drop_na_subset(ev, ["props", "event_type"])
    out = cast_columns(out, {"user_id": T.LongType(), "value": T.DoubleType()})
    return out.select("event_id", "user_id", "event_type", "value", "props")


# --- joins (J1/J2 + semi/anti/inner) ---
SQL_J1 = """
SELECT n_nationkey, n_name, r.r_name AS region_name
FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
"""


@query("j1_broadcast_enrich", oracle=SQL_J1)
def q_j1_broadcast_enrich(spark, sf_dir):
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").withColumnRenamed("r_name", "region_name")
    out = enrich_left_join(
        nation, region, on=nation["n_regionkey"] == region["r_regionkey"]
    )
    return out.select("n_nationkey", "n_name", "region_name")


SQL_J2 = """
WITH stats AS (
    SELECT c_mktsegment, round(avg(c_acctbal), 4) AS seg_avg_bal,
           count(*) AS seg_count
    FROM customer GROUP BY c_mktsegment
)
SELECT c.c_custkey, c.c_mktsegment, s.seg_avg_bal, s.seg_count
FROM customer c LEFT JOIN stats s USING (c_mktsegment)
"""


@query("j2_agg_backjoin", oracle=SQL_J2)
def q_j2_agg_backjoin(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    out = attach_group_stats(
        cust,
        ["c_mktsegment"],
        {"seg_avg_bal": F.round(F.avg("c_acctbal"), 4), "seg_count": F.count(F.lit(1))},
    )
    return out.select("c_custkey", "c_mktsegment", "seg_avg_bal", "seg_count")


SQL_J2W = """
SELECT s_suppkey, s_nationkey,
       round(avg(s_acctbal) OVER (PARTITION BY s_nationkey), 4) AS nation_avg_bal,
       max(s_acctbal) OVER (PARTITION BY s_nationkey) AS nation_max_bal
FROM supplier
"""


@query("j2w_window_stats", oracle=SQL_J2W)
def q_j2w_window_stats(spark, sf_dir):
    sup = _t(spark, sf_dir, "supplier")
    out = attach_group_stats_window(
        sup,
        ["s_nationkey"],
        {"nation_avg_bal": F.avg("s_acctbal"), "nation_max_bal": F.max("s_acctbal")},
    )
    return out.select(
        "s_suppkey",
        "s_nationkey",
        F.round("nation_avg_bal", 4).alias("nation_avg_bal"),
        "nation_max_bal",
    )


SQL_J3 = """
SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c_mktsegment
"""


@query("j3_inner_join_agg", oracle=SQL_J3)
def q_j3_inner_join_agg(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = orders.join(cust, orders["o_custkey"] == cust["c_custkey"], "inner")
    return group_summary(
        joined,
        ["c_mktsegment"],
        {"n_orders": F.count(F.lit(1)), "revenue": F.round(F.sum("o_totalprice"), 2)},
    )


SQL_J4 = """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


@query("j4_semi_join", oracle=SQL_J4)
def q_j4_semi_join(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
    return semi_join(cust, orders.select("c_custkey"), "c_custkey").select(
        "c_custkey", "c_name"
    )


SQL_J5 = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


@query("j5_anti_join", oracle=SQL_J5)
def q_j5_anti_join(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
    return anti_join(cust, orders.select("c_custkey"), "c_custkey").select(
        "c_custkey", "c_name"
    )


# --- aggregations (A1-A7 + rollup/cube/pivot) ---
SQL_A1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@query("a1_group_agg", oracle=SQL_A1)
def q_a1_group_agg(spark, sf_dir):
    """TPC-H Q1 shape — the canonical grouped hash aggregate."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return group_summary(
        li,
        ["l_returnflag", "l_linestatus"],
        {
            "sum_qty": F.round(F.sum("l_quantity"), 2),
            "sum_base_price": F.round(F.sum("l_extendedprice"), 2),
            "sum_disc_price": F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ),
            "avg_qty": F.round(F.avg("l_quantity"), 4),
            "avg_price": F.round(F.avg("l_extendedprice"), 4),
            "avg_disc": F.round(F.avg("l_discount"), 6),
            "count_order": F.count(F.lit(1)),
        },
    )


SQL_A2 = "SELECT count(*) AS n FROM lineitem"


@query("a2_count_star", oracle=SQL_A2)
def q_a2_count_star(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n"))


SQL_A3 = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


@query("a3_distinct", oracle=SQL_A3)
def q_a3_distinct(spark, sf_dir):
    return distinct_rows(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag", "l_linestatus"]
    )


SQL_A4 = """
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
FROM orders
QUALIFY row_number() OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC
) = 1
"""


@query("a4_dedup_first", oracle=SQL_A4)
def q_a4_dedup_first(spark, sf_dir):
    """Deterministic keyed dedup: latest order per customer (reference A4
    semantics made deterministic via row_number, SURVEY.md §2.4)."""
    orders = _t(spark, sf_dir, "orders")
    out = dedup_by_key_first(
        orders, ["o_custkey"], ["o_orderdate", "o_orderkey"], descending=True
    )
    return out.select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")


SQL_A6 = """
SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers,
       count(*) AS n_orders
FROM orders GROUP BY o_orderpriority
"""


@query("a6_count_distinct", oracle=SQL_A6)
def q_a6_count_distinct(spark, sf_dir):
    return group_summary(
        _t(spark, sf_dir, "orders"),
        ["o_orderpriority"],
        {"n_customers": F.countDistinct("o_custkey"), "n_orders": F.count(F.lit(1))},
    )


SQL_A7 = """
SELECT c_mktsegment, min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
       round(stddev_samp(c_acctbal), 4) AS stddev_bal
FROM customer GROUP BY c_mktsegment
"""


@query("a7_minmax_stddev", oracle=SQL_A7)
def q_a7_minmax_stddev(spark, sf_dir):
    return group_summary(
        _t(spark, sf_dir, "customer"),
        ["c_mktsegment"],
        {
            "min_bal": F.min("c_acctbal"),
            "max_bal": F.max("c_acctbal"),
            "stddev_bal": F.round(F.stddev_samp("c_acctbal"), 4),
        },
    )


SQL_A8 = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


@query("a8_rollup", oracle=SQL_A8)
def q_a8_rollup(spark, sf_dir):
    return rollup_summary(
        _t(spark, sf_dir, "orders"),
        ["o_orderstatus", "o_orderpriority"],
        {"n": F.count(F.lit(1)), "total": F.round(F.sum("o_totalprice"), 2)},
    )


SQL_A9 = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@query("a9_cube", oracle=SQL_A9)
def q_a9_cube(spark, sf_dir):
    return cube_summary(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag", "l_linestatus"],
        {"n": F.count(F.lit(1)), "sum_qty": F.round(F.sum("l_quantity"), 2)},
    )


SQL_A10 = """
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS "O",
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS "F"
FROM lineitem GROUP BY l_returnflag
"""


@query("a10_pivot", oracle=SQL_A10)
def q_a10_pivot(spark, sf_dir):
    out = pivot_summary(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        "l_linestatus",
        ["O", "F"],
        F.round(F.sum("l_quantity"), 2),
    )
    return out


# --- windows (W1-W5) ---
SQL_W1 = """
SELECT event_id, user_id, ts, value,
       value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS value_delta
FROM events
"""


@query("w1_lag_delta", oracle=SQL_W1)
def q_w1_lag_delta(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = lag_delta(ev, "value", ["user_id"], ["ts", "event_id"], delta_name="value_delta")
    return out.select("event_id", "user_id", "ts", "value", "value_delta")


SQL_W2 = """
SELECT event_id, user_id, ts,
       round(avg(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS rolling_avg
FROM events
"""


@query("w2_rolling_mean", oracle=SQL_W2)
def q_w2_rolling_mean(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = rolling_mean(ev, "value", ["user_id"], ["ts", "event_id"], 7, "rolling_avg")
    return out.select(
        "event_id", "user_id", "ts", F.round("rolling_avg", 4).alias("rolling_avg")
    )


SQL_W3 = """
SELECT o_orderpriority, o_orderkey, o_totalprice
FROM orders
QUALIFY row_number() OVER (
    PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey
) <= 3
"""


@query("w3_topk_per_group", oracle=SQL_W3)
def q_w3_topk_per_group(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    out = topk_per_group(
        orders,
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        3,
    )
    return out.select("o_orderpriority", "o_orderkey", "o_totalprice")


SQL_W4 = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       sum(l_quantity) OVER (
           PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
           ROWS UNBOUNDED PRECEDING) AS cum_qty
FROM lineitem
"""


@query("w4_running_sum", oracle=SQL_W4)
def q_w4_running_sum(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    out = running_sum(
        li, "l_quantity", ["l_suppkey"], ["l_shipdate", "l_orderkey", "l_linenumber"],
        "cum_qty",
    )
    return out.select("l_suppkey", "l_orderkey", "l_linenumber", "cum_qty")


SQL_W5 = """
WITH g AS (
    SELECT event_id, user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR CAST(floor(epoch(ts)) AS BIGINT)
                        - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id, ts,
       CAST(sum(is_new) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
FROM g
"""


@query("w5_sessionize", oracle=SQL_W5)
def q_w5_sessionize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = sessionize(
        ev, ["user_id"], "ts", 1800, "session_id", order_by=["ts", "event_id"]
    )
    return out.select("event_id", "user_id", "ts", "session_id")


# --- sort / limit / set ops / scalar functions ---
SQL_O1 = """
SELECT o_orderkey, o_totalprice, o_orderpriority
FROM orders ORDER BY o_totalprice DESC, o_orderkey DESC LIMIT 10
"""


@query("o1_topk", oracle=SQL_O1)
def q_o1_topk(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    out = top_k(orders, ["o_totalprice", "o_orderkey"], 10, descending=True)
    return out.select("o_orderkey", "o_totalprice", "o_orderpriority")


SQL_SET1 = """
SELECT c_custkey AS id, c_name AS name, 'customer' AS side FROM customer
UNION ALL
SELECT s_suppkey AS id, s_name AS name, 'supplier' AS side FROM supplier
"""


@query("set1_union_by_name", oracle=SQL_SET1)
def q_set1_union_by_name(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.lit("customer").alias("side"),
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"),
        F.col("s_name").alias("name"),
        F.lit("supplier").alias("side"),
    )
    return union_by_name(cust, sup)


SQL_F1 = """
SELECT event_id,
       CAST(regexp_replace(strftime(ts, '%Y-%m-%dT%H:%M:%S'), 'T.*', '') AS DATE)
           AS event_date,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int
FROM events
"""


@query("f1_regexp_date_json", oracle=SQL_F1)
def q_f1_regexp_date_json(spark, sf_dir):
    """F1/F2 news-style normalization: format, strip time suffix, to_date;
    plus JSON field extraction (reference regexp/date family,
    transform_news_job.py:104-110)."""
    ev = _t(spark, sf_dir, "events")
    iso = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss")
    day = strip_time_suffix(iso)
    return ev.select(
        "event_id",
        F.to_date(day, "yyyy-MM-dd").alias("event_date"),
        F.get_json_object("props", "$.k").cast("int").alias("k_int"),
    )


SQL_F7 = """
SELECT doc_id, upper(lang) AS lang_upper, lower(trim(source)) AS source_norm,
       length(text) AS text_len, substr(text, 1, 10) AS text_head
FROM documents
"""


@query("f7_string_funcs", oracle=SQL_F7)
def q_f7_string_funcs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.upper("lang").alias("lang_upper"),
        F.lower(F.trim("source")).alias("source_norm"),
        F.length("text").alias("text_len"),
        F.substring("text", 1, 10).alias("text_head"),
    )


# --- multi-table analytics (TPC-H-style shapes; the scale stress tests) ---
SQL_Q5 = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderstatus = 'F'
GROUP BY r_name, n_name
"""


@query("q5_multi_join", oracle=SQL_Q5)
def q_q5_multi_join(spark, sf_dir):
    """TPC-H Q5 shape: fact-fact join (lineitem x orders) + dimension
    joins, grouped revenue per nation. The plan to want at 100 TB: one
    big-side shuffle (or SMJ) for the fact join, broadcasts for the
    structurally-tiny dims (nation/region), partial aggregation before
    the final exchange. customer GROWS with scale factor, so its join
    strategy is left to Catalyst/AQE — broadcast at test scale, shuffle
    join on a real cluster."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    return group_summary(
        joined.filter(F.col("o_orderstatus") == "F"),
        ["r_name", "n_name"],
        {
            "revenue": F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ),
            "n_items": F.count(F.lit(1)),
        },
    )


SQL_Q3 = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING' AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey DESC LIMIT 10
"""


@query("q3_top_unshipped", oracle=SQL_Q3)
def q_q3_top_unshipped(spark, sf_dir):
    """TPC-H Q3 shape: join + group + top-k by aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, orders["o_orderkey"] == li["l_orderkey"])
        .filter(li["l_shipdate"] > "1995-03-15")
    )
    agg = group_summary(
        joined,
        ["o_orderkey", "o_orderdate", "o_orderpriority"],
        {"revenue": F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)},
    )
    return top_k(agg, [F.col("revenue"), F.col("o_orderkey")], 10, descending=True)


SQL_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query("q1_pricing_summary", oracle=SQL_Q1)
def q_q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: the canonical scan-heavy aggregate. No join, no
    skew — at 100 TB this is one pass over lineitem with map-side partial
    aggregation into a 4-row result; the only shuffle moves a handful of
    partial-agg rows. The filter and the 7-column projection both reach
    the parquet scan (pushdown + pruning)."""
    li = _t(spark, sf_dir, "lineitem")
    out = group_summary(
        li.filter(F.col("l_shipdate") <= "1998-09-02"),
        ["l_returnflag", "l_linestatus"],
        {
            "sum_qty": F.round(F.sum("l_quantity"), 2),
            "sum_base_price": F.round(F.sum("l_extendedprice"), 2),
            "sum_disc_price": F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ),
            "sum_charge": F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ),
            "avg_qty": F.round(F.avg("l_quantity"), 4),
            "avg_price": F.round(F.avg("l_extendedprice"), 4),
            "avg_disc": F.round(F.avg("l_discount"), 4),
            "count_order": F.count(F.lit(1)),
        },
    )
    return out.orderBy("l_returnflag", "l_linestatus")


SQL_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.09
  AND l_quantity < 24
"""


@query("q6_forecast_revenue", oracle=SQL_Q6)
def q_q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure filter + global agg. The whole predicate is
    parquet-pushdown-able; the scan reads 4 columns and the shuffle is a
    single partial-sum row per task."""
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount").between(0.03, 0.09))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    return out


SQL_J6 = """
SELECT l_orderkey, l_linenumber, l_quantity, o_orderpriority
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""


@query("j6_salted_join", oracle=SQL_J6)
def q_j6_salted_join(spark, sf_dir):
    """Skew-resistant salted join — result must equal the plain join."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    out = salted_join(li, orders, "l_orderkey", salt_buckets=8)
    return out.select("l_orderkey", "l_linenumber", "l_quantity", "o_orderpriority")


# --- second-wave aggregates / windows / reshaping ---
SQL_A11 = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
FROM lineitem GROUP BY l_returnflag
"""


@query("a11_percentiles", oracle=SQL_A11)
def q_a11_percentiles(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return group_summary(
        li,
        ["l_returnflag"],
        {
            "median_qty": F.round(F.expr("percentile(l_quantity, 0.5)"), 4),
            "p90_price": F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4),
        },
    )


SQL_A12 = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


@query("a12_grouping_sets", oracle=SQL_A12)
def q_a12_grouping_sets(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return grouping_sets_summary(
        orders,
        sets=[["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        all_keys=["o_orderstatus", "o_orderpriority"],
        agg_exprs={"n": "count(*)", "total": "round(sum(o_totalprice), 2)"},
    )


SQL_W6 = """
SELECT s_suppkey, s_nationkey,
       CAST(rank() OVER w AS INTEGER) AS rnk,
       CAST(dense_rank() OVER w AS INTEGER) AS drnk,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
"""


@query("w6_rank_family", oracle=SQL_W6)
def q_w6_rank_family(spark, sf_dir):
    sup = _t(spark, sf_dir, "supplier")
    from pyspark.sql.window import Window

    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey")
    )
    return sup.select(
        "s_suppkey",
        "s_nationkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


SQL_W7 = """
SELECT event_id, user_id, ts,
       round(sum(value) OVER (
           PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
           RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4) AS hour_sum
FROM events
"""


@query("w7_range_frame", oracle=SQL_W7)
def q_w7_range_frame(spark, sf_dir):
    """Time-range window frame: per-user sum of value over the trailing
    1 hour (RANGE frame on epoch seconds — the rolling-window family
    from SURVEY.md §2.5 with a value-based frame instead of rows)."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("timestamp").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum("value").over(w), 4).alias("hour_sum"),
    )


SQL_P10 = """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
"""


@query("p10_unpivot", oracle=SQL_P10)
def q_p10_unpivot(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return unpivot_measures(
        li,
        ids=["l_orderkey", "l_linenumber"],
        measures=["l_quantity", "l_extendedprice", "l_discount"],
        var_name="measure",
        value_name="val",
    )


SQL_F8 = """
SELECT l_orderkey, l_linenumber,
       round(sqrt(l_quantity), 6) AS sqrt_qty,
       round(ln(l_extendedprice), 6) AS ln_price,
       CAST(ceil(l_discount) AS BIGINT) AS ceil_disc,
       CAST(floor(l_quantity / 10) AS BIGINT) AS qty_decile,
       round(pow(1.0 + l_tax, 2), 6) AS tax_sq
FROM lineitem
"""


@query("f8_math_funcs", oracle=SQL_F8)
def q_f8_math_funcs(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sqrt("l_quantity"), 6).alias("sqrt_qty"),
        F.round(F.log(F.col("l_extendedprice")), 6).alias("ln_price"),
        F.ceil("l_discount").cast("long").alias("ceil_disc"),
        F.floor(F.col("l_quantity") / 10).cast("long").alias("qty_decile"),
        F.round(F.pow(F.lit(1.0) + F.col("l_tax"), 2), 6).alias("tax_sq"),
    )


SQL_F13 = """
SELECT vec_id,
       len(embedding) AS dim,
       round(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))), 6)
           AS head_sum,
       len(list_filter(embedding, x -> x > 0)) AS n_positive,
       round(CAST(list_max(embedding[1:8]) AS DOUBLE), 6) AS head_max,
       round(list_sum(list_transform(embedding[1:8],
                                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6)
           AS head_sq_sum
FROM embeddings
"""


@query("f13_array_funcs", oracle=SQL_F13)
def q_f13_array_funcs(spark, sf_dir):
    """Higher-order array functions over the embedding column: slice,
    transform, filter, aggregate (fold), array_sort + element_at — the
    lambda-expression surface that keeps array math JVM-side instead of
    in a Python UDF."""
    emb = _t(spark, sf_dir, "embeddings")
    head8 = F.slice(F.col("embedding"), 1, 8)
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(
            F.aggregate(
                head8, F.lit(0.0), lambda acc, x: acc + x.cast("double")
            ),
            6,
        ).alias("head_sum"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("n_positive"),
        F.round(
            F.element_at(F.array_sort(head8), -1).cast("double"), 6
        ).alias("head_max"),
        F.round(
            F.aggregate(
                F.transform(head8, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("head_sq_sum"),
    )


SQL_F9 = """
SELECT doc_id,
       unnest(range(0, len(regexp_split_to_array(trim(text), '\\s+')))) AS pos,
       unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
FROM documents
WHERE text IS NOT NULL AND trim(text) <> ''
"""


@query("f9_posexplode_tokens", oracle=SQL_F9)
def q_f9_posexplode_tokens(spark, sf_dir):
    """Array ops: tokenize + positional explode (the UDTF-shaped surface,
    built-in generator instead of a Python UDTF)."""
    from stockpy_spark.functions.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.posexplode(tokenize("text")).alias("pos", "token")
    )


# --- third wave: set ops, function families, subquery shapes ---
SQL_SET2 = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
"""


@query("set2_intersect", oracle=SQL_SET2)
def q_set2_intersect(spark, sf_dir):
    """INTERSECT (distinct): nations that have both customers and
    suppliers."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nationkey")
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nationkey")
    )
    return cust.intersect(sup)


SQL_SET3 = """
SELECT o_orderpriority FROM orders
EXCEPT
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
"""


@query("set3_except", oracle=SQL_SET3)
def q_set3_except(spark, sf_dir):
    """EXCEPT (distinct): order priorities never seen on 'F' orders."""
    all_p = _t(spark, sf_dir, "orders").select("o_orderpriority")
    f_p = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderpriority")
    )
    return all_p.subtract(f_p)


SQL_F10 = """
SELECT p_partkey,
       upper(p_brand) AS brand_up,
       CAST(length(p_name) AS BIGINT) AS name_len,
       substring(p_type, 1, 5) AS type5,
       lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS key_pad,
       concat_ws('/', p_brand, p_type) AS brand_type,
       split_part(p_name, ' ', 1) AS first_word,
       CAST(strpos(p_type, 'a') AS BIGINT) AS a_pos,
       replace(p_brand, '#', '-') AS brand_dash
FROM part
"""


@query("f10_string_funcs", oracle=SQL_F10)
def q_f10_string_funcs(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_up"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type5"),
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("key_pad"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.instr(F.col("p_type"), "a").cast("long").alias("a_pos"),
        F.translate("p_brand", "#", "-").alias("brand_dash"),
    )


SQL_F11 = """
SELECT o_orderkey,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
       CAST(year(o_orderdate) AS INTEGER) AS yr,
       CAST(month(o_orderdate) AS INTEGER) AS mo,
       CAST(day(o_orderdate) AS INTEGER) AS dom,
       CAST(isodow(o_orderdate) AS INTEGER) AS isodow,
       CAST(o_orderdate AS DATE) + 30 AS due_date,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       date_diff('day', CAST(o_orderdate AS DATE), DATE '1996-01-01') AS days_to_96
FROM orders
"""


@query("f11_date_funcs", oracle=SQL_F11)
def q_f11_date_funcs(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
        F.dayofmonth("o_orderdate").cast("int").alias("dom"),
        (F.weekday("o_orderdate") + 1).cast("int").alias("isodow"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        F.last_day("o_orderdate").alias("month_end"),
        F.datediff(F.lit("1996-01-01").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("long")
        .alias("days_to_96"),
    )


SQL_F12 = """
SELECT c_custkey,
       coalesce(c_mktsegment, 'UNKNOWN') AS seg,
       nullif(c_mktsegment, 'BUILDING') AS seg_nb,
       greatest(c_acctbal, 0.0) AS bal_floor,
       least(c_acctbal, 5000.0) AS bal_cap,
       CASE WHEN c_acctbal < 0 THEN 'overdrawn'
            WHEN c_acctbal < 1000 THEN 'low'
            WHEN c_acctbal < 5000 THEN 'mid'
            ELSE 'high' END AS bal_tier
FROM customer
"""


@query("f12_conditional", oracle=SQL_F12)
def q_f12_conditional(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("seg"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_nb"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_floor"),
        F.least(F.col("c_acctbal"), F.lit(5000.0)).alias("bal_cap"),
        F.when(F.col("c_acctbal") < 0, "overdrawn")
        .when(F.col("c_acctbal") < 1000, "low")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("bal_tier"),
    )


SQL_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
    SELECT c_custkey, count(o_orderkey) AS c_count
    FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
) t
GROUP BY c_count
"""


@query("q13_custdist", oracle=SQL_Q13)
def q_q13_custdist(spark, sf_dir):
    """TPC-H Q13 shape: LEFT OUTER join fact to dim, per-customer count
    (zero included), then the distribution of those counts — a
    two-level aggregation where losing the zero-order customers is the
    classic correctness bug."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return group_summary(per_cust, ["c_count"], {"custdist": F.count(F.lit(1))})


SQL_Q17 = """
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, half_avg
FROM lineitem
JOIN (
    SELECT l_partkey AS pk, round(avg(l_quantity) * 0.5, 6) AS half_avg
    FROM lineitem GROUP BY l_partkey
) a ON l_partkey = pk
WHERE l_quantity < half_avg
"""


@query("q17_small_qty", oracle=SQL_Q17)
def q_q17_small_qty(spark, sf_dir):
    """TPC-H Q17 shape: correlated per-group threshold — lineitems below
    half their part's average quantity. Decorrelated as per-part
    aggregate + join (what a correlated scalar subquery plans to)."""
    li = _t(spark, sf_dir, "lineitem")
    avg_per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.round(F.avg("l_quantity") * 0.5, 6).alias("half_avg")
    )
    # no broadcast hint: one row per part GROWS with scale factor;
    # AQE broadcasts it at test scale, shuffles at 100 TB
    return (
        li.join(avg_per_part, li["l_partkey"] == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "half_avg")
    )


SQL_Q15 = """
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem
WHERE l_quantity = (SELECT max(l_quantity) FROM lineitem)
"""


@query("q15_scalar_subquery", oracle=SQL_Q15)
def q_q15_scalar_subquery(spark, sf_dir):
    """Scalar-subquery shape: rows at the global maximum (exact, so the
    boundary is engine-stable). Decorrelated as a 1-row broadcast
    cross join."""
    li = _t(spark, sf_dir, "lineitem")
    mx = li.agg(F.max("l_quantity").alias("max_qty"))
    return (
        li.crossJoin(F.broadcast(mx))
        .filter(F.col("l_quantity") == F.col("max_qty"))
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


SQL_W8 = """
SELECT event_id, user_id,
       lead(event_type) OVER w AS next_type,
       first_value(event_type) OVER wf AS first_type,
       last_value(event_type) OVER wf AS last_type,
       round(percent_rank() OVER w, 6) AS pr
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
       wf AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


@query("w8_lead_first_last", oracle=SQL_W8)
def q_w8_lead_first_last(spark, sf_dir):
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        F.lead("event_type").over(w).alias("next_type"),
        F.first("event_type").over(wf).alias("first_type"),
        F.last("event_type").over(wf).alias("last_type"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
    )


SQL_A13 = """
SELECT l_linestatus,
       count(*) FILTER (WHERE l_returnflag = 'R') AS n_returned,
       round(sum(CASE WHEN l_returnflag = 'R'
                      THEN l_extendedprice * (1 - l_discount)
                      ELSE 0.0 END), 2) AS ret_revenue,
       round(avg(l_discount) FILTER (WHERE l_quantity > 25), 6) AS avg_disc_hi
FROM lineitem
GROUP BY l_linestatus
"""


@query("a13_conditional_agg", oracle=SQL_A13)
def q_a13_conditional_agg(spark, sf_dir):
    """Conditional aggregation (FILTER-clause family): one pass, several
    predicated measures — the idiomatic replacement for N filtered
    scans."""
    li = _t(spark, sf_dir, "lineitem")
    return group_summary(
        li,
        ["l_linestatus"],
        {
            "n_returned": F.count(F.when(F.col("l_returnflag") == "R", 1)),
            "ret_revenue": F.round(
                F.sum(
                    F.when(
                        F.col("l_returnflag") == "R",
                        F.col("l_extendedprice") * (1 - F.col("l_discount")),
                    ).otherwise(0.0)
                ),
                2,
            ),
            "avg_disc_hi": F.round(F.avg(F.when(F.col("l_quantity") > 25, F.col("l_discount"))), 6),
        },
    )


SQL_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


@query("q4_priority_exists", oracle=SQL_Q4)
def q_q4_priority_exists(spark, sf_dir):
    """TPC-H Q4 shape: grouped count of orders in a date window that
    have at least one matching lineitem (EXISTS). Decorrelated as a
    left-semi join — Catalyst plans exactly this for the EXISTS form."""
    from stockpy_spark.operators.joins import semi_join

    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    returned = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return (
        semi_join(orders, returned, "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


SQL_Q22 = """
SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= DATE '1999-01-01')
GROUP BY c_nationkey
"""


@query("q22_idle_rich_customers", oracle=SQL_Q22)
def q_q22_idle_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape: customers with above-average balance and no
    RECENT orders — scalar aggregate subquery (1-row broadcast) + anti
    join + grouped count/sum. (The date scope keeps the anti join
    non-trivial: in this data every customer has *some* order.)"""
    from stockpy_spark.operators.joins import anti_join

    cust = _t(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("ab"))
    with_orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "1999-01-01")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        anti_join(rich, with_orders, "c_custkey")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


SQL_Q10 = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("q10_returned_revenue", oracle=SQL_Q10)
def q_q10_returned_revenue(spark, sf_dir):
    """TPC-H Q10 shape: revenue lost to returns per customer — 4-way
    join, grouped revenue, top 20 (TakeOrderedAndProject). nation is
    structurally tiny -> explicit broadcast; customer is NOT (it grows
    with scale factor), so its join strategy is left to Catalyst/AQE —
    broadcast at test scale, shuffle join at 100 TB."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(revenue, 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# --- as-of join ---
SQL_ASOF = """
WITH v AS (
    SELECT user_id, ts, value AS view_value
    FROM events WHERE event_type = 'view'
    QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
), p AS (
    SELECT event_id, user_id, ts, value
    FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.ts, p.value, v.view_value
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
"""


@query("asof_purchase_view", oracle=SQL_ASOF)
def q_asof_purchase_view(spark, sf_dir):
    """For each purchase event, the user's most recent prior (or same-
    instant) view value — the stock-vs-news alignment shape from
    SURVEY.md §2.3 on the events table."""
    ev = _t(spark, sf_dir, "events")
    views = dedup_by_key_first(
        ev.filter(F.col("event_type") == "view"),
        ["user_id", "ts"],
        ["event_id"],
        descending=True,
    ).select("user_id", "ts", F.col("value").alias("view_value"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return asof_join(
        purchases, views, ["user_id"], "ts", "ts", ["view_value"]
    ).select("event_id", "user_id", "ts", "value", "view_value")


SQL_ER_FS = """
WITH n AS (
    SELECT CAST(count(*) AS DOUBLE) AS n FROM part
), ut AS (
    SELECT sum((c / n.n) ^ 2) AS u
    FROM (SELECT count(*) AS c FROM part GROUP BY p_type), n
), us AS (
    SELECT sum((c / n.n) ^ 2) AS u
    FROM (SELECT count(*) AS c FROM part GROUP BY p_size), n
), pairs AS (
    SELECT a.p_partkey AS id_1, b.p_partkey AS id_2,
           CAST(a.p_type IS NOT DISTINCT FROM b.p_type AS INTEGER)
               AS agree_p_type,
           CAST(a.p_size IS NOT DISTINCT FROM b.p_size AS INTEGER)
               AS agree_p_size
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
)
SELECT id_1, id_2, agree_p_type, agree_p_size,
       round(
           (CASE WHEN agree_p_type = 1 THEN ln(0.9 / ut.u)
                 ELSE ln(0.1 / (1 - ut.u)) END)
         + (CASE WHEN agree_p_size = 1 THEN ln(0.9 / us.u)
                 ELSE ln(0.1 / (1 - us.u)) END), 6) AS score
FROM pairs, ut, us
WHERE round(
          (CASE WHEN agree_p_type = 1 THEN ln(0.9 / ut.u)
                ELSE ln(0.1 / (1 - ut.u)) END)
        + (CASE WHEN agree_p_size = 1 THEN ln(0.9 / us.u)
                ELSE ln(0.1 / (1 - us.u)) END), 6) >= 0.0
"""


@query("er_fellegi_sunter", oracle=SQL_ER_FS)
def q_er_fellegi_sunter(spark, sf_dir):
    """Fellegi-Sunter probabilistic linkage over brand-blocked part
    pairs (operators/joins.py fellegi_sunter_scores): u per field =
    the data's collision probability (sum of squared value
    frequencies), m fixed at 0.9, score = summed field log-likelihood
    ratios over (type, size) agreement, candidate matches = score >=
    0. The theory layer the fuzzy-string matcher (er_fuzzy_match)
    lacks: field weights are DERIVED from value distributions, so a
    rare-value agreement (size, 50 values) outweighs a common-value
    one (type, 6 values) by construction. Every pair's flags and score
    hash-checked."""
    from stockpy_spark.operators.joins import fellegi_sunter_scores

    parts = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    return fellegi_sunter_scores(
        parts, "p_brand", ["p_type", "p_size"], "p_partkey"
    )


SQL_Q7 = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN customer  ON o_custkey = c_custkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
"""


@query("q7_volume_shipping", oracle=SQL_Q7)
def q_q7_volume_shipping(spark, sf_dir):
    """Q7 shape: revenue flow between distinct (supplier nation,
    customer nation) pairs by ship year. Two fact joins (li-orders,
    orders-customer) shuffle; both nation dims broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        # at lake scale l_year should come from the table's date
        # partition column (year=.../month=...) rather than
        # year(l_shipdate): the derivation is free AND a ship-year
        # predicate then prunes partitions instead of scanning 100 TB.
        # The driver testdata is unpartitioned, so derive it here.
        .withColumn("l_year", F.year("l_shipdate"))
    )
    # 4k+ groups make a float-summation-order rounding tie likely
    # somewhere: sum exact decimals (order-independent) instead of
    # rounding an order-dependent double sum. The FINAL output is cast
    # to double on both engines — DuckDB types the decimal aggregate as
    # DECIMAL(38,2), which driver hashers canonicalize differently from
    # Spark's decimal(18,2) even when values are identical (round-2
    # finding); a 2-dp value well under 2^53 converts to the same
    # double bit pattern on both sides.
    rev_term = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return group_summary(
        joined,
        ["supp_nation", "cust_nation", "l_year"],
        {"revenue": F.round(F.sum(rev_term), 2).cast("double")},
    )


SQL_Q8 = """
SELECT year(o_orderdate) AS o_year,
       round(sum(CASE WHEN n2.n_name = 'NATION_1'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
FROM lineitem
JOIN part      ON l_partkey = p_partkey
JOIN orders    ON l_orderkey = o_orderkey
JOIN customer  ON o_custkey = c_custkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
JOIN region    ON n1.n_regionkey = r_regionkey
WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
GROUP BY year(o_orderdate)
"""


@query("q8_market_share", oracle=SQL_Q8)
def q_q8_market_share(spark, sf_dir):
    """Q8 shape: per order-year share of EUROPE-customer revenue on
    ECONOMY parts contributed by one supplier nation. The share is a
    conditional-sum / sum ratio over one aggregate pass."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part")
    nat_c = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    nat_s = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    region = _t(spark, sf_dir, "region")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(F.broadcast(part.filter(F.col("p_type") == "ECONOMY")),
                li["l_partkey"] == F.col("p_partkey"))
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nat_c), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(nat_s), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(region), F.col("c_rk") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
        .withColumn("o_year", F.year("o_orderdate"))
    )
    return group_summary(
        joined,
        ["o_year"],
        {
            "mkt_share": F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_1", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            )
        },
    )


SQL_Q9 = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           - p_retailprice * CAST(0.1 AS DOUBLE) * l_quantity
                      AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(o_orderdate)
"""


@query("q9_product_profit", oracle=SQL_Q9)
def q_q9_product_profit(spark, sf_dir):
    """Q9 shape: profit per (supplier nation, order year) on a part-name
    filter. No partsupp in the testdata, so cost = 10% of
    p_retailprice x quantity — the join/agg structure (two fact joins,
    part + nation broadcast, substring filter) is the point."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    nation = _t(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * 0.1 * F.col("l_quantity")
    ).cast("decimal(18,4)")
    joined = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            profit.alias("amount"),
        )
    )
    # final double cast on both engines — see q7 note on decimal hashing
    return group_summary(
        joined,
        ["nation", "o_year"],
        {"sum_profit": F.round(F.sum("amount"), 2).cast("double")},
    )


SQL_Q12 = """
SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
            THEN 'LATE' ELSE 'ON_TIME' END AS ship_class,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


@query("q12_late_shipments", oracle=SQL_Q12)
def q_q12_late_shipments(spark, sf_dir):
    """Q12 shape: per lateness class, conditional counts of
    critical-priority orders. The testdata has no
    commitdate/receiptdate/shipmode; lateness = shipped more than 60
    days after the order date, classes = late vs on-time."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).withColumn(
        "ship_class",
        F.when(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
            F.lit("LATE"),
        ).otherwise(F.lit("ON_TIME")),
    )
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return group_summary(
        joined,
        ["ship_class"],
        {
            "high_line_count": F.sum(F.when(crit, 1).otherwise(0)),
            "low_line_count": F.sum(F.when(~crit, 1).otherwise(0)),
        },
    )


SQL_Q14 = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
"""


@query("q14_promo_revenue", oracle=SQL_Q14)
def q_q14_promo_revenue(spark, sf_dir):
    """Q14 shape: promo-type revenue share inside a ship-date window —
    one broadcast part join, one conditional/total ratio."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    return joined.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev),
            6,
        ).alias("promo_revenue")
    )


SQL_Q18 = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       round(total_qty, 2) AS total_qty
FROM orders
JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 150) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey DESC
LIMIT 20
"""


@query("q18_large_orders", oracle=SQL_Q18)
def q_q18_large_orders(spark, sf_dir):
    """Q18 shape: orders whose total quantity clears a threshold,
    joined back to customer, top-k by totalprice. The having-aggregate
    is computed once on the fact and semi-joins the detail — no
    re-aggregation after the join."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    joined = (
        orders.join(big, orders["o_orderkey"] == big["l_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
            F.round("total_qty", 2).alias("total_qty"),
        )
    )
    return top_k(joined, ["o_totalprice", "o_orderkey"], 20, descending=True)


SQL_Q19 = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 35)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 5 AND 50
       AND l_quantity BETWEEN 20 AND 50)
"""


@query("q19_disjunctive", oracle=SQL_Q19)
def q_q19_disjunctive_predicates(spark, sf_dir):
    """Q19 shape: revenue under a disjunction of (brand, size-range,
    quantity-range) triples — the OR-of-ANDs predicate family the
    optimizer must evaluate post-join without falling into a
    cartesian plan."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 35)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(5, 50)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return joined.filter(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


SQL_Q21 = """
WITH late AS (
    SELECT DISTINCT l_orderkey, l_suppkey
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
), blamed AS (
    SELECT l1.l_orderkey, l1.l_suppkey
    FROM late l1
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
)
SELECT s_name, count(*) AS numwait
FROM blamed JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name DESC
LIMIT 20
"""


@query("q21_blame_supplier", oracle=SQL_Q21)
def q_q21_blame_supplier(spark, sf_dir):
    """Q21 shape: suppliers solely responsible for a late
    multi-supplier order (EXISTS another supplier's line / NOT EXISTS
    another supplier's late line). Lateness = shipped > 30 days after
    the order date (no receipt/commit dates in the testdata). All
    set-probes are semi/anti joins on (orderkey, suppkey) pairs —
    never a per-row correlated subquery."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    pairs = li.select("l_orderkey", "l_suppkey").distinct()
    late = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    other = pairs.select(
        F.col("l_orderkey").alias("o_k"), F.col("l_suppkey").alias("o_s")
    )
    other_exists = (
        late.join(
            other,
            (late["l_orderkey"] == other["o_k"]) & (late["l_suppkey"] != other["o_s"]),
            "left_semi",
        )
    )
    other_late = late.select(
        F.col("l_orderkey").alias("o_k"), F.col("l_suppkey").alias("o_s")
    )
    blamed = other_exists.join(
        other_late,
        (other_exists["l_orderkey"] == other_late["o_k"])
        & (other_exists["l_suppkey"] != other_late["o_s"]),
        "left_anti",
    )
    counted = group_summary(
        blamed.join(supp, blamed["l_suppkey"] == supp["s_suppkey"]),
        ["s_name"],
        {"numwait": F.count(F.lit(1))},
    )
    return top_k(counted, ["numwait", "s_name"], 20, descending=True)


SQL_Q16 = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5'
GROUP BY p_brand, p_type, p_size
"""


@query("q16_supplier_variety", oracle=SQL_Q16)
def q_q16_supplier_variety(spark, sf_dir):
    """Q16 shape: how many distinct suppliers serve each (brand, type,
    size) bucket, excluding one brand — a count-distinct AFTER a join,
    which Spark executes as expand + two-phase aggregate (no partsupp
    in the testdata; lineitem is the part-supplier link)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#5")
    joined = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    return group_summary(
        joined,
        ["p_brand", "p_type", "p_size"],
        {"supplier_cnt": F.countDistinct("l_suppkey")},
    )


SQL_Q20 = """
SELECT s_suppkey, s_name, n_name AS nation
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'small%'
    GROUP BY l_suppkey
    HAVING sum(l_quantity) > 100
)
"""


@query("q20_heavy_shippers", oracle=SQL_Q20)
def q_q20_heavy_shippers(spark, sf_dir):
    """Q20 shape: suppliers that moved more than a threshold quantity
    of a filtered part family — nested aggregation feeding a semi-join
    (the original's NOT-IN/partsupp ladder collapses to the same
    aggregate -> semi-join chain without partsupp)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").startswith("small"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    heavy = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 100)
    )
    out = semi_join(
        supp.withColumnRenamed("s_suppkey", "l_suppkey"), heavy, "l_suppkey"
    ).join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
    return out.select(
        F.col("l_suppkey").alias("s_suppkey"), "s_name", F.col("n_name").alias("nation")
    )


# --- merge: upsert emulation --------------------------------------------
MERGE_BASE_END, MERGE_UPD_LO, MERGE_UPD_HI = "2024-01-20", "2024-01-15", "2024-01-25"


SQL_MERGE = """
WITH base AS (
    SELECT * FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-20'
), upd AS (
    SELECT event_id, ts, user_id, event_type, value * 2 AS value, props
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-15' AND DATE '2024-01-25'
), merged AS (
    SELECT * FROM base
    WHERE event_id NOT IN (SELECT event_id FROM upd)
    UNION ALL
    SELECT * FROM upd
)
SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
FROM merged GROUP BY event_type
"""


@query("merge_incremental_upsert", oracle=SQL_MERGE)
def q_merge_incremental_upsert(spark, sf_dir):
    """MERGE INTO emulated on plain parquet (operators/merge.py): base =
    events through Jan 20; update feed = events Jan 15-25 with value
    doubled. Colliding event_ids (Jan 15-20) must take the doubled
    value, Jan 21-25 rows must appear once, Jan 1-14 rows must survive
    — the post-merge aggregate hash catches double-counted collisions,
    dropped inserts, and lost base rows alike."""
    ev = _t(spark, sf_dir, "events")
    d = F.to_date(F.col("ts"))
    base = ev.where(d <= F.lit(MERGE_BASE_END))
    updates = ev.where(
        (d >= F.lit(MERGE_UPD_LO)) & (d <= F.lit(MERGE_UPD_HI))
    ).withColumn("value", F.col("value") * 2)
    merged = merge_upsert(base, updates, "event_id")
    return merged.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


# --- VARIANT semi-structured path (Spark 4 native) -----------------------
SQL_VARIANT_PROPS = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS min_k,
       CAST(MAX(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS max_k,
       MIN(CASE WHEN json_valid(props) THEN 'OBJECT<k: BIGINT>' END)
           AS variant_schema
FROM events WHERE props IS NOT NULL
GROUP BY event_type
"""


@query("f14_variant_props", oracle=SQL_VARIANT_PROPS)
def q_f14_variant_props(spark, sf_dir):
    """Semi-structured JSON via Spark 4's native VARIANT type:
    ``parse_json`` once into the binary variant encoding, then typed
    ``try_variant_get`` extraction — the modern engine path for ragged
    event properties (shredded columnar access, no per-query string
    re-parsing like get_json_object, schema discovered not declared).
    Per event_type: count, sum/min/max of $.k, plus the
    schema_of_variant the data actually carries."""
    ev = _t(spark, sf_dir, "events").where(F.col("props").isNotNull())
    v = ev.select(
        "event_type", F.parse_json("props").alias("v")
    ).select(
        "event_type",
        F.try_variant_get("v", "$.k", "long").alias("k"),
        F.schema_of_variant("v").alias("vschema"),
    )
    return v.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("k").cast("long").alias("sum_k"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
        F.min("vschema").alias("variant_schema"),
    )


# --- TPC-H Q2 shape: cheapest regional supplier per part -----------------
SQL_Q2 = """
WITH eur AS (
    SELECT s_suppkey, s_name, s_acctbal, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
), costs AS (
    SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS cost
    FROM lineitem GROUP BY l_partkey, l_suppkey
), best AS (
    SELECT c.l_partkey, c.cost, e.s_name, e.s_acctbal, e.n_name,
           row_number() OVER (PARTITION BY c.l_partkey
                              ORDER BY c.cost, c.l_suppkey) AS rn
    FROM costs c JOIN eur e ON c.l_suppkey = e.s_suppkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, p_type,
       cost AS min_cost
FROM best JOIN part ON l_partkey = p_partkey
WHERE rn = 1
"""


@query("q2_min_cost_supplier", oracle=SQL_Q2)
def q_q2_min_cost_supplier(spark, sf_dir):
    """Q2 shape (argmin-per-group + join-back): for every part, the
    cheapest EUROPE supplier by observed unit price. Dimensions
    (region->nation->supplier, part) broadcast; the only shuffle is the
    (partkey, suppkey) unit-cost aggregate; the argmin is a window over
    that already-reduced frame, ties broken by suppkey."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = _t(spark, sf_dir, "part")

    eur = (
        sup.join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    costs = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("__cost")
    )
    offers = costs.join(
        F.broadcast(eur), costs["l_suppkey"] == eur["s_suppkey"]
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("__cost").asc(), F.col("l_suppkey").asc()
    )
    best = offers.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    return (
        best.join(F.broadcast(part), best["l_partkey"] == part["p_partkey"])
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            "p_type",
            # NOT rounded: the quotient price/qty systematically lands on
            # exact decimal halves (integer quantities), where Spark's
            # BigDecimal HALF_UP and DuckDB's fp-multiply round() disagree.
            # No reordering happens here (min over the same doubles), so
            # the raw double is bit-identical across engines.
            F.col("__cost").alias("min_cost"),
        )
    )


# --- TPC-H Q11 shape: value share above a scalar-subquery threshold ------
SQL_Q11 = """
WITH nsup AS (SELECT s_suppkey FROM supplier WHERE s_nationkey = 7),
vals AS (
    SELECT l_partkey,
           sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS val
    FROM lineitem JOIN nsup ON l_suppkey = s_suppkey
    GROUP BY l_partkey
), thr AS (
    SELECT CAST(sum(val) AS DOUBLE) * CAST(0.001 AS DOUBLE) AS t FROM vals
)
SELECT l_partkey, CAST(round(val, 2) AS DOUBLE) AS part_value
FROM vals, thr
WHERE CAST(val AS DOUBLE) > t
"""


@query("q11_important_parts", oracle=SQL_Q11)
def q_q11_important_parts(spark, sf_dir, nationkey: int = 7):
    """Q11 shape (HAVING vs scalar subquery): parts whose revenue
    through nation-7 suppliers exceeds 0.1% of that nation's total.
    Order-independent exact decimal sums; the grand total is a 1-row
    broadcast; the threshold comparison happens on the bit-identical
    double cast of the exact decimals, so both engines agree exactly."""
    li = _t(spark, sf_dir, "lineitem")
    sup = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == nationkey)
        .select("s_suppkey")
    )
    joined = li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
    grouped = joined.groupBy("l_partkey").agg(
        F.sum(
            F.expr("CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))")
        ).alias("__val")
    )
    total = grouped.agg(
        (F.sum("__val").cast("double") * F.lit(0.001)).alias("__thr")
    )
    return (
        grouped.crossJoin(F.broadcast(total))
        .filter(F.col("__val").cast("double") > F.col("__thr"))
        .select(
            "l_partkey",
            F.expr("CAST(round(__val, 2) AS DOUBLE)").alias("part_value"),
        )
    )


# --- co-purchase PageRank -----------------------------------------------
SQL_PAGERANK = """
WITH e AS (
    SELECT a.l_partkey AS s, b.l_partkey AS d, CAST(count(*) AS DOUBLE) AS w
    FROM lineitem a
    JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey <> b.l_partkey
    GROUP BY 1, 2
), outw AS (
    SELECT s, sum(w) AS ow FROM e GROUP BY 1
), nodes AS (
    SELECT DISTINCT s AS node FROM e
), n AS (
    SELECT count(*) AS n FROM nodes
), r0 AS (
    SELECT node, CAST(1 AS DOUBLE) / n.n AS rank FROM nodes, n
), c1 AS (
    SELECT e.d AS node, sum(r0.rank * e.w / o.ow) AS cin
    FROM e JOIN outw o ON e.s = o.s JOIN r0 ON e.s = r0.node
    GROUP BY 1
), r1 AS (
    SELECT nodes.node,
           round((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n.n
                 + CAST(0.85 AS DOUBLE)
                   * coalesce(c1.cin, CAST(0 AS DOUBLE)), 6) AS rank
    FROM nodes LEFT JOIN c1 ON nodes.node = c1.node, n
), c2 AS (
    SELECT e.d AS node, sum(r1.rank * e.w / o.ow) AS cin
    FROM e JOIN outw o ON e.s = o.s JOIN r1 ON e.s = r1.node
    GROUP BY 1
), r2 AS (
    SELECT nodes.node,
           round((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n.n
                 + CAST(0.85 AS DOUBLE)
                   * coalesce(c2.cin, CAST(0 AS DOUBLE)), 6) AS rank
    FROM nodes LEFT JOIN c2 ON nodes.node = c2.node, n
)
SELECT node AS part, rank FROM r2
"""


@query("part_pagerank", oracle=SQL_PAGERANK)
def q_part_pagerank(spark, sf_dir):
    """Two fixed PageRank iterations over the part co-purchase graph
    (parts sharing an order; ~4 items/order bounds the self-join
    fan-out). Third iterative distributed algorithm under the exact
    value-hash oracle, after connected components and k-means."""
    from stockpy_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    ranks = pagerank(edges, "src", "dst", weight="w", iterations=2)
    return ranks.select(F.col("node").alias("part"), "rank")


# --- SCD2 history build -------------------------------------------------
SQL_SCD2 = """
WITH seq AS (
    SELECT user_id, event_type, ts, event_id,
           CASE WHEN lag(event_type) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) IS NULL
                  OR lag(event_type) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) <> event_type
                THEN 1 ELSE 0 END AS chg
    FROM events
), isl AS (
    SELECT user_id, event_type, ts, event_id,
           sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS ver
    FROM seq
), vers AS (
    SELECT user_id, ver, min(event_type) AS attr, min(ts) AS valid_from
    FROM isl GROUP BY 1, 2
)
SELECT user_id, attr, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY ver) AS valid_to,
       CAST(ver AS INTEGER) AS version
FROM vers
"""


@query("scd2_event_history", oracle=SQL_SCD2)
def q_scd2_event_history(spark, sf_dir):
    from stockpy_spark.operators.merge import scd2_history

    ev = _t(spark, sf_dir, "events")
    return scd2_history(ev, "user_id", "event_type", "ts", tiebreak_col="event_id")


# --- triangle counting ---------------------------------------------------
SQL_TRIANGLES = """
WITH e AS (
    SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
    FROM lineitem a
    JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey < b.l_partkey
)
SELECT CAST(count(*) AS BIGINT) AS n_triangles
FROM e e1
JOIN e e2 ON e1.b = e2.a
JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
"""


@query("graph_triangles", oracle=SQL_TRIANGLES)
def q_graph_triangles(spark, sf_dir):
    """Triangles in the part co-purchase graph via degree-ordered
    orientation (graph.triangle_count); the oracle counts the same
    triangles with a plain a<b<c triple join — the count is
    orientation-invariant, so a hash match proves the oriented
    enumeration exact."""
    from stockpy_spark.operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
    )
    return triangle_count(pairs)


# --- fractional-rank window family + histograms -------------------------
SQL_W9 = """
SELECT s_suppkey, s_nationkey,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
"""


@query("w9_rank_fractions", oracle=SQL_W9)
def q_w9_rank_fractions(spark, sf_dir):
    """ntile / percent_rank / cume_dist — the fractional rank windows
    (w6 covers rank/dense_rank). percent_rank and cume_dist are exact
    rationals of integer rank/count, so the doubles agree bit-for-bit
    across engines; no rounding needed."""
    sup = _t(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey")
    )
    return sup.select(
        "s_suppkey",
        "s_nationkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# --- blocked Levenshtein entity resolution -------------------------------
SQL_ER_FUZZY = """
WITH named AS (
    SELECT p_partkey, p_name || ' ' || p_brand || ' ' || p_type AS nm
    FROM part
), catalog AS (
    SELECT nm AS cat_name, min(p_partkey) AS cat_id FROM named GROUP BY nm
), dirty AS (
    SELECT substring(nm, 1, length(nm) - 1) AS dirty_name,
           min(p_partkey) AS dirty_id
    FROM named WHERE p_partkey % 2 = 1
    GROUP BY substring(nm, 1, length(nm) - 1)
)
SELECT d.dirty_id, d.dirty_name, c.cat_id, c.cat_name,
       CAST(levenshtein(d.dirty_name, c.cat_name) AS INT) AS dist
FROM dirty d
JOIN catalog c
  ON substring(d.dirty_name, 1, 18) = substring(c.cat_name, 1, 18)
WHERE levenshtein(d.dirty_name, c.cat_name) <= 2
"""


@query("er_fuzzy_match", oracle=SQL_ER_FUZZY)
def q_er_fuzzy_match(spark, sf_dir):
    """Entity resolution (operators/joins.py:blocked_fuzzy_join) with
    the production staging: exact-collapse FIRST, fuzzy on distinct
    values only. "Dirty" entity strings (name+brand+type with the last
    character dropped, odd partkeys) are matched back against the
    catalog within 2 edits.

    Both sides are reduced to distinct strings (min partkey as the
    representative) BEFORE the fuzzy join, so the quadratic-in-block
    stage runs on the name VOCABULARY — bounded — while corpus growth
    only grows the two exact groupBys. Skipping that collapse is the
    classic blocked-ER scale killer: with this synthetic catalog's 1.8k
    distinct names the raw-rows variant measured 42 s at sf0.1 and
    grows ~quadratically with SF; the collapsed variant is flat.
    Candidates come from the (18-char-prefix, length-band) equi-key —
    a shuffle hash join plus in-block levenshtein, never a nested-loop
    cross. Blocked semantics exactly: prefix-equal AND distance<=2
    (the length band is implied by the bound: cost, not recall)."""
    part = _t(spark, sf_dir, "part")
    fname = F.concat_ws(" ", "p_name", "p_brand", "p_type")
    catalog = (
        part.select(F.col("p_partkey"), fname.alias("cat_name"))
        .groupBy("cat_name")
        .agg(F.min("p_partkey").alias("cat_id"))
    )
    dirty = (
        part.filter(F.col("p_partkey") % 2 == 1)
        .select(
            F.col("p_partkey"),
            F.expr(
                "substring(concat_ws(' ', p_name, p_brand, p_type), 1, "
                "length(concat_ws(' ', p_name, p_brand, p_type)) - 1)"
            ).alias("dirty_name"),
        )
        .groupBy("dirty_name")
        .agg(F.min("p_partkey").alias("dirty_id"))
    )
    matched = blocked_fuzzy_join(
        dirty, catalog, "dirty_name", "cat_name", max_dist=2, prefix_len=18
    )
    return matched.select(
        "dirty_id",
        "dirty_name",
        "cat_id",
        "cat_name",
        F.levenshtein("dirty_name", "cat_name").cast("int").alias("dist"),
    )


# --- multi-source BFS hop counts -----------------------------------------
SQL_BFS = """
WITH RECURSIVE e AS (
    SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
    FROM lineitem a
    JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey <> b.l_partkey
), seeds AS (
    SELECT DISTINCT p_partkey AS v FROM part WHERE p_size = 50
), walk(v, hop) AS (
    SELECT v, 0 FROM seeds
    UNION
    SELECT e.d, walk.hop + 1
    FROM walk JOIN e ON e.s = walk.v
    WHERE walk.hop < 2
)
SELECT v AS part, CAST(min(hop) AS INT) AS hop FROM walk GROUP BY v
"""


@query("graph_bfs_hops", oracle=SQL_BFS)
def q_graph_bfs_hops(spark, sf_dir):
    """2-hop neighborhood of the p_size=50 seed parts over the
    co-purchase graph (operators/graph.py:bfs_hops — min-plus frontier
    propagation, checkpointed rounds, frontier-sized joins). Fourth
    iterative distributed algorithm under the exact recursive-CTE
    oracle (after CC, PageRank, k-means)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    # NO .distinct(): min-plus propagation is duplicate-edge-tolerant
    # (each round's groupBy-min absorbs multiplicity map-side), and the
    # corpus-sized distinct hash aggregate was THE memory wall at the
    # synthetic sf10 (AGGREGATE_OUT_OF_MEMORY in the 200M-pair dedup —
    # BASELINE.md §4). Orient a<b so the operator's symmetric union
    # doesn't double already-bidirectional pairs.
    edges = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
    seeds = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") == 50)
        .select(F.col("p_partkey").alias("v"))
    )
    out = bfs_hops(edges, seeds, max_hops=2)
    return out.select(F.col("v").alias("part"), F.col("hop").cast("int").alias("hop"))


# --- period-over-period top movers ---------------------------------------
SQL_TOP_MOVERS = """
WITH per AS (
    SELECT o_custkey AS key,
           round(sum(CASE WHEN EXTRACT(year FROM o_orderdate) = 1996
                          THEN o_totalprice ELSE 0.0 END), 6) AS metric_a,
           round(sum(CASE WHEN EXTRACT(year FROM o_orderdate) = 1997
                          THEN o_totalprice ELSE 0.0 END), 6) AS metric_b
    FROM orders
    WHERE EXTRACT(year FROM o_orderdate) IN (1996, 1997)
    GROUP BY o_custkey
), top AS (
    SELECT key, metric_a, metric_b,
           round(metric_b - metric_a, 6) AS delta
    FROM per
    ORDER BY abs(round(metric_b - metric_a, 6)) DESC, key
    LIMIT 20
)
SELECT key, metric_a, metric_b, delta,
       row_number() OVER (ORDER BY abs(delta) DESC, key) AS rank
FROM top
"""


@query("agg_top_movers", oracle=SQL_TOP_MOVERS)
def q_agg_top_movers(spark, sf_dir):
    """Top-20 customers by absolute revenue change, 1996 vs 1997
    (operators/aggregate.py:top_movers): one conditional aggregate over
    a year-filtered scan — no two-subquery self-join — then
    per-partition top-k heaps. Zero-period customers stay in (a
    collapse to zero IS a mover)."""
    from stockpy_spark.operators.aggregate import top_movers

    od = _t(spark, sf_dir, "orders")
    return top_movers(
        od,
        key_col="o_custkey",
        period_col=F.year("o_orderdate"),
        period_a=1996,
        period_b=1997,
        metric_col="o_totalprice",
        k=20,
    )


# --- price/volume revenue decomposition -----------------------------------
SQL_PRICE_VOLUME = """
WITH per AS (
    SELECT l_returnflag AS dim,
           sum(CASE WHEN EXTRACT(year FROM l_shipdate) = 1996
                    THEN l_quantity ELSE 0.0 END) AS q0,
           sum(CASE WHEN EXTRACT(year FROM l_shipdate) = 1997
                    THEN l_quantity ELSE 0.0 END) AS q1,
           sum(CASE WHEN EXTRACT(year FROM l_shipdate) = 1996
                    THEN l_extendedprice ELSE 0.0 END) AS r0,
           sum(CASE WHEN EXTRACT(year FROM l_shipdate) = 1997
                    THEN l_extendedprice ELSE 0.0 END) AS r1
    FROM lineitem
    WHERE EXTRACT(year FROM l_shipdate) IN (1996, 1997)
    GROUP BY l_returnflag
)
SELECT dim,
       round(q0, 2) AS qty_a, round(q1, 2) AS qty_b,
       round(r0, 2) AS rev_a, round(r1, 2) AS rev_b,
       round(r1 - r0, 2) AS delta,
       round(CASE WHEN q0 > 0 AND q1 > 0
                  THEN (q1 - q0) * (r0 / q0) ELSE r1 - r0 END, 2)
           AS volume_effect,
       round(CASE WHEN q0 > 0 AND q1 > 0
                  THEN q1 * (r1 / q1 - r0 / q0) ELSE 0.0 END, 2)
           AS price_effect
FROM per
"""


@query("agg_price_volume", oracle=SQL_PRICE_VOLUME)
def q_agg_price_volume(spark, sf_dir):
    """1996-vs-1997 revenue-change decomposition per return flag
    (operators/aggregate.py:price_volume_decomposition): exact
    volume-at-old-price / price-at-new-volume split, one conditional
    aggregate, self-reconciling (delta = volume + price)."""
    from stockpy_spark.operators.aggregate import price_volume_decomposition

    li = _t(spark, sf_dir, "lineitem")
    return price_volume_decomposition(
        li,
        dim_col="l_returnflag",
        period_col=F.year("l_shipdate"),
        period_a=1996,
        period_b=1997,
        qty_col="l_quantity",
        revenue_col="l_extendedprice",
    )


# --- bounded weighted shortest paths -------------------------------------
SQL_SSSP = """
WITH RECURSIVE e AS (
    SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d,
           (a.l_partkey + b.l_partkey) % 7 + 1 AS w
    FROM lineitem a
    JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey <> b.l_partkey
), seeds AS (
    SELECT DISTINCT p_partkey AS v FROM part WHERE p_size = 50
), walk(v, dist, hops) AS (
    SELECT v, CAST(0 AS BIGINT), 0 FROM seeds
    UNION
    SELECT e.d, walk.dist + e.w, hops + 1
    FROM walk JOIN e ON e.s = walk.v
    WHERE hops < 2
)
SELECT v AS part, CAST(min(dist) AS BIGINT) AS dist
FROM walk GROUP BY v
"""


@query("graph_sssp_weighted", oracle=SQL_SSSP)
def q_graph_sssp_weighted(spark, sf_dir):
    """Multi-source WEIGHTED shortest paths (<= 2 edges) over the
    co-purchase graph from the p_size=50 seed parts, edge cost
    (src + dst) % 7 + 1 — Bellman-Ford delta-frontier rounds
    (operators/graph.py weighted_sssp_hops), the weighted
    generalization of graph_bfs_hops, under the exact recursive-CTE
    oracle (integer costs -> exact min-plus sums). Fifth iterative
    distributed algorithm under a full value hash."""
    from pyspark.sql import functions as F

    from stockpy_spark.operators.graph import weighted_sssp_hops

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    # a<b orientation; the operator symmetrizes. NO .distinct() — the
    # min-plus rounds absorb duplicate edges map-side (bfs_hops policy)
    edges = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("src"),
        F.col("b.l_partkey").alias("dst"),
        ((F.col("a.l_partkey") + F.col("b.l_partkey")) % 7 + 1)
        .cast("long")
        .alias("w"),
    )
    seeds = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") == 50)
        .select(F.col("p_partkey").alias("v"))
    )
    out = weighted_sssp_hops(edges, seeds, max_hops=2)
    return out.select(F.col("v").alias("part"), F.col("dist").alias("dist"))
