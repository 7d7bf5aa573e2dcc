"""Unit tests for joins / aggregations / windows, incl. plan-shape checks
(broadcast join chosen, top-k plans TakeOrderedAndProject)."""

from __future__ import annotations

from pyspark.sql import functions as F

from stockpy_spark.operators import (
    anti_join,
    asof_join,
    attach_group_stats,
    attach_group_stats_window,
    dedup_by_key_first,
    enrich_left_join,
    group_summary,
    lag_delta,
    semi_join,
    sessionize,
    top_k,
    topk_per_group,
    union_by_name,
)


def _quotes(spark):
    return spark.createDataFrame(
        [
            ("ITUB4", "Banks", "2024-01-01", 10.0),
            ("ITUB4", "Banks", "2024-01-02", 12.0),
            ("ITUB4", "Banks", "2024-01-03", 11.0),
            ("ELET3", "Energy", "2024-01-01", 40.0),
        ],
        "ticker string, sector string, date string, close double",
    )


def test_enrich_left_join_broadcasts(spark):
    fact = _quotes(spark)
    dim = spark.createDataFrame(
        [("ITUB4", "Itau"), ("MISS", "Missing")], "ticker string, company string"
    )
    out = enrich_left_join(dim, fact, on="ticker")  # dim LEFT JOIN fact, J1 shape
    assert out.count() == 4  # 3 ITUB4 rows + MISS with null quote
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()


def test_attach_group_stats_join_and_window_agree(spark):
    df = _quotes(spark)
    aggs = {"avg_close": F.avg("close"), "n": F.count(F.lit(1))}
    a = attach_group_stats(df, ["sector"], aggs).select("ticker", "date", "avg_close", "n")
    b = attach_group_stats_window(df, ["sector"], aggs).select("ticker", "date", "avg_close", "n")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_semi_anti_partition(spark):
    left = spark.createDataFrame([(1,), (2,), (3,)], "k int")
    right = spark.createDataFrame([(2,), (3,), (3,)], "k int")
    assert semi_join(left, right, "k").count() == 2
    assert anti_join(left, right, "k").count() == 1


def test_group_summary_and_dedup(spark):
    df = _quotes(spark)
    g = group_summary(df, ["sector"], {"avg_close": F.avg("close"), "n": F.count(F.lit(1))})
    banks = {r.sector: r for r in g.collect()}["Banks"]
    assert banks.n == 3 and abs(banks.avg_close - 11.0) < 1e-9

    d = dedup_by_key_first(df, ["ticker"], ["date"], descending=True)
    rows = {r.ticker: r.date for r in d.collect()}
    assert rows["ITUB4"] == "2024-01-03"  # deterministic latest-wins


def test_lag_delta_first_row_null(spark):
    out = lag_delta(_quotes(spark), "close", ["ticker"], ["date"], delta_name="chg")
    rows = {(r.ticker, r.date): r.chg for r in out.collect()}
    assert rows[("ITUB4", "2024-01-01")] is None  # W1 first-row NULL
    assert rows[("ITUB4", "2024-01-02")] == 2.0
    assert rows[("ELET3", "2024-01-01")] is None  # single-row ticker


def test_topk_per_group_and_global(spark):
    df = _quotes(spark)
    t = topk_per_group(df, ["ticker"], [F.col("close").desc(), F.col("date")], 1)
    assert {(r.ticker, r.close) for r in t.collect()} == {("ITUB4", 12.0), ("ELET3", 40.0)}

    g = top_k(df, ["close", "date"], 2, descending=True)
    assert [r.close for r in g.collect()] == [40.0, 12.0]
    assert "TakeOrderedAndProject" in g._jdf.queryExecution().executedPlan().toString()


def test_union_by_name_missing_cols(spark):
    a = spark.createDataFrame([(1, "x")], "id int, name string")
    b = spark.createDataFrame([(2,)], "id int")
    out = union_by_name(a, b)
    assert out.count() == 2
    assert {r.name for r in out.collect()} == {"x", None}


def test_sessionize_gap(spark):
    df = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 00:00:00"),
            (2, 1, "2024-01-01 00:10:00"),
            (3, 1, "2024-01-01 02:00:00"),
            (4, 2, "2024-01-01 00:00:00"),
        ],
        "event_id int, user_id int, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s"))
    out = sessionize(df, ["user_id"], "ts", 1800, order_by=["ts", "event_id"])
    sessions = {r.event_id: r.session_id for r in out.collect()}
    assert sessions == {1: 1, 2: 1, 3: 2, 4: 1}


def test_asof_join(spark):
    trades = spark.createDataFrame(
        [("A", 10, "t1"), ("A", 25, "t2"), ("B", 5, "t3")],
        "sym string, t int, trade_id string",
    )
    quotes = spark.createDataFrame(
        [("A", 5, 100.0), ("A", 20, 101.0), ("A", 25, 102.0), ("B", 50, 99.0)],
        "sym string, t int, px double",
    )
    out = asof_join(trades, quotes, ["sym"], "t", "t", ["px"])
    rows = {r.trade_id: r.px for r in out.collect()}
    assert rows == {"t1": 100.0, "t2": 102.0, "t3": None}  # <= semantics

    strict = asof_join(trades, quotes, ["sym"], "t", "t", ["px"], strict=True)
    rows = {r.trade_id: r.px for r in strict.collect()}
    assert rows == {"t1": 100.0, "t2": 101.0, "t3": None}  # < semantics


def test_salted_join_rejects_right_and_full_outer(spark):
    import pytest

    from stockpy_spark.operators.joins import salted_join

    left = spark.createDataFrame([(1, "a")], "k int, v string")
    right = spark.createDataFrame([(1, "x")], "k int, w string")
    for how in ["right", "right_outer", "full", "full_outer", "outer"]:
        with pytest.raises(ValueError, match="salted_join does not support"):
            salted_join(left, right, "k", how=how)
    # supported modes still match the plain join
    for how in ["inner", "left", "left_semi", "left_anti"]:
        got = sorted(map(tuple, salted_join(left, right, "k", how=how).collect()))
        want = sorted(map(tuple, left.join(right, "k", how).collect()))
        assert got == want, how


def test_dim_preserving_enrich_equals_left_join(spark, sql_conf, tmp_path):
    """Both plans of dim_preserving_enrich — the fact broadcast under
    autoBroadcastJoinThreshold, the two-pass plan with broadcasting
    off — give the rows and column order of ``dim.join(fact, on,
    "left")``, with a NULL dim key and a duplicated dim key."""
    from stockpy_spark.operators import dim_preserving_enrich

    dim = spark.createDataFrame(
        [("A", "dim-a"), ("B", "dim-b"), ("B", "dim-b2"), ("MISS", "dim-miss"),
         (None, "dim-null")],
        "k string, d string",
    )
    # a scanned fact carries Catalyst's size estimate; driver rows do not
    spark.createDataFrame(
        [("A", 1), ("A", 2), ("B", 3), ("X", 9), (None, 7)], "k string, v int"
    ).write.parquet(str(tmp_path / "fact"))
    fact = spark.read.parquet(str(tmp_path / "fact"))
    for confs, two_pass in [
        ({}, False),
        ({"spark.sql.autoBroadcastJoinThreshold": "-1"}, True),
    ]:
        with sql_conf(confs):
            out = dim_preserving_enrich(dim, fact, "k")
            want_df = dim.join(fact, "k", "left")
            assert out.columns == want_df.columns == ["k", "d", "v"]
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert ("Union" in plan) == two_pass, plan
            got = sorted(map(tuple, out.collect()), key=repr)
            want = sorted(map(tuple, want_df.collect()), key=repr)
        assert got == want, confs
        assert ("MISS", "dim-miss", None) in got  # unmatched dim preserved
        assert (None, "dim-null", None) in got  # a NULL dim key never matches
        assert [r for r in got if r[0] == "B"] == [("B", "dim-b", 3), ("B", "dim-b2", 3)]
        assert not any(r[0] == "X" for r in got)  # fact-only keys excluded

    # an int dim key against a bigint fact key (nation's n_nationkey
    # against lineitem's l_suppkey): the output keeps the dim's key type
    dim = spark.createDataFrame([(1, "one"), (2, "two")], "k int, d string")
    spark.createDataFrame([(1, 10), (3, 30)], "k bigint, v int").write.parquet(
        str(tmp_path / "wide_fact"))
    fact = spark.read.parquet(str(tmp_path / "wide_fact"))
    with sql_conf({"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        out = dim_preserving_enrich(dim, fact, "k")
        want_df = dim.join(fact, "k", "left")
        assert out.schema == want_df.schema, (out.schema, want_df.schema)
        assert sorted(map(tuple, out.collect())) == [(1, "one", 10), (2, "two", None)]


def test_fellegi_sunter_weights_and_threshold(spark):
    """Pins FS scoring (operators/joins.py fellegi_sunter_scores):
    u is the field's exact collision probability, rare-field agreement
    outweighs common-field agreement, disagreement weights are
    negative, and the min_score cut keeps exactly the pairs whose
    summed weights clear it."""
    import math

    from stockpy_spark.operators.joins import fellegi_sunter_scores

    # one block of 4: type has 2 values (50/50 -> u=0.5); sizes are
    # [10, 20, 30, 10] -> u = (2/4)^2 + (1/4)^2 + (1/4)^2 = 0.375
    rows = [
        (1, "B", "t1", 10),
        (2, "B", "t1", 20),
        (3, "B", "t2", 30),
        (4, "B", "t2", 10),
    ]
    df = spark.createDataFrame(rows, "id long, brand string, typ string, size int")
    out = {
        (r["id_1"], r["id_2"]): r
        for r in fellegi_sunter_scores(
            df, "brand", ["typ", "size"], "id", m=0.9, min_score=-100.0
        ).collect()
    }
    u_t, u_s = 0.5, 0.375
    wa_t, wd_t = math.log(0.9 / u_t), math.log(0.1 / (1 - u_t))
    wa_s, wd_s = math.log(0.9 / u_s), math.log(0.1 / (1 - u_s))
    assert len(out) == 6  # all brand-blocked pairs kept at -100
    assert out[(1, 2)]["agree_typ"] == 1 and out[(1, 2)]["agree_size"] == 0
    assert out[(1, 2)]["score"] == round(wa_t + wd_s, 6)
    assert out[(1, 4)]["score"] == round(wd_t + wa_s, 6)
    assert wa_s > wa_t > 0 > wd_t > wd_s  # rare-field agreement worth more
