"""Round-6 third wave: corpus line dedup, temperature resampling,
blocked fuzzy ER join, linear gap fill, rolling z-score, DQ suite."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from stockpy_spark.operators.joins import blocked_fuzzy_join
from stockpy_spark.operators.quality import (
    accepted_values,
    min_rows,
    null_fraction,
    orphan_count,
    run_checks,
    unique_key,
    value_range,
)
from stockpy_spark.operators.sampling import temperature_resample
from stockpy_spark.operators.textcorpus import remove_frequent_lines
from stockpy_spark.operators.timeseries import gap_fill_linear, rolling_zscore


# --- remove_frequent_lines ------------------------------------------------

def _corpus(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text="keep me\ncookie banner\nunique line one"),
            Row(doc_id=2, text="cookie banner\nunique line two"),
            Row(doc_id=3, text="cookie banner\nanother original"),
            Row(doc_id=4, text="cookie banner"),
        ]
    )


def test_remove_frequent_lines_drops_boilerplate_keeps_order(spark):
    out = {
        r.doc_id: r.text
        for r in remove_frequent_lines(
            _corpus(spark), "doc_id", "text", max_doc_freq=2
        ).collect()
    }
    # "cookie banner" occurs in 4 docs > 2 -> removed everywhere
    assert out[1] == "keep me\nunique line one"
    assert out[2] == "unique line two"
    assert out[3] == "another original"
    # doc 4 was all boilerplate: dropped entirely by default
    assert 4 not in out


def test_remove_frequent_lines_keep_empty_docs(spark):
    out = {
        r.doc_id: r.text
        for r in remove_frequent_lines(
            _corpus(spark), "doc_id", "text", max_doc_freq=2,
            keep_empty_docs=True,
        ).collect()
    }
    assert out[4] == ""
    assert len(out) == 4


def test_remove_frequent_lines_within_doc_repeats_dont_count(spark):
    # a line repeated 5x inside ONE document has doc-frequency 1: kept
    df = spark.createDataFrame(
        [Row(doc_id=1, text="\n".join(["echo"] * 5)), Row(doc_id=2, text="x")]
    )
    out = {
        r.doc_id: r.text
        for r in remove_frequent_lines(df, "doc_id", "text", max_doc_freq=1).collect()
    }
    assert out[1] == "\n".join(["echo"] * 5)


# --- temperature_resample -------------------------------------------------

def test_temperature_alpha1_keeps_everything(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert temperature_resample(docs, "lang", "doc_id", alpha=1.0).count() == docs.count()


def test_temperature_flattens_head_group(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    before = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    after = {
        r["lang"]: r["n"]
        for r in temperature_resample(docs, "lang", "doc_id", alpha=0.5)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    smallest = min(before, key=before.get)
    biggest = max(before, key=before.get)
    # smallest group is untouched (keep-rate 1), head is downsampled
    assert after[smallest] == before[smallest]
    assert after[biggest] < before[biggest]
    # realized keep-rate of the head ~ sqrt(c_min/c_max), loosely
    expect = before[biggest] * (before[smallest] / before[biggest]) ** 0.5
    assert after[biggest] == pytest.approx(expect, rel=0.5)


def test_temperature_stable_under_repartition(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = {r.doc_id for r in temperature_resample(docs, "lang", "doc_id", 0.5).select("doc_id").collect()}
    b = {
        r.doc_id
        for r in temperature_resample(docs.repartition(7), "lang", "doc_id", 0.5)
        .select("doc_id")
        .collect()
    }
    assert a == b


# --- blocked_fuzzy_join ---------------------------------------------------

def test_blocked_fuzzy_join_matches_and_blocks(spark):
    catalog = spark.createDataFrame(
        [Row(cid=i, cname=n) for i, n in enumerate(
            ["alphabet inc", "alphabeta gmbh", "zebra corp", "alpine llc"]
        )]
    )
    dirty = spark.createDataFrame(
        [Row(did=0, dname="alphabet inc."),   # 1 edit from alphabet inc
         Row(did=1, dname="zebre corp"),      # 1 edit from zebra corp
         Row(did=2, dname="betamax")]         # no prefix-block partner
    )
    out = blocked_fuzzy_join(dirty, catalog, "dname", "cname", max_dist=2).collect()
    pairs = {(r.did, r.cid) for r in out}
    assert (0, 0) in pairs
    assert (1, 2) in pairs
    assert all(d != 2 for d, _ in pairs)
    # no duplicate pairs from the band explode
    assert len(pairs) == len(out)


def test_blocked_fuzzy_join_length_band_never_loses_close_matches(spark):
    # lengths differing by exactly max_dist must still pair up
    catalog = spark.createDataFrame([Row(cid=0, cname="abcdef")])
    dirty = spark.createDataFrame([Row(did=0, dname="abcdefgh")])
    out = blocked_fuzzy_join(dirty, catalog, "dname", "cname", max_dist=2).collect()
    assert len(out) == 1


# --- gap_fill_linear ------------------------------------------------------

def test_gap_fill_linear_interior_interpolation_and_null_edges(spark):
    rows = [
        Row(k="a", ts="2024-01-01 00:00:00", v=10.0, i=1),
        Row(k="a", ts="2024-01-04 00:00:00", v=40.0, i=2),
        Row(k="b", ts="2024-01-02 00:00:00", v=5.0, i=3),
    ]
    df = spark.createDataFrame(rows).select(
        "k", F.col("ts").cast("timestamp").alias("ts"), "v", "i"
    )
    out = {
        (r.k, r.bucket_start): r.filled
        for r in gap_fill_linear(df, "k", "ts", "v", "i").collect()
    }
    days = sorted({b for (_, b) in out})
    assert len(days) == 3  # days 1, 2, 4 observed anywhere
    d1, d2, d4 = days
    assert out[("a", d1)] == 10.0
    # day 2 interpolates a third of the way from 10 -> 40
    assert out[("a", d2)] == 20.0
    assert out[("a", d4)] == 40.0
    # key b: before first observation and after last -> NULL
    assert out[("b", d1)] is None
    assert out[("b", d2)] == 5.0
    assert out[("b", d4)] is None


def test_gap_fill_linear_matches_locf_on_observed_buckets(spark, sf_dir):
    from stockpy_spark.operators.timeseries import gap_fill_locf

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lin = gap_fill_linear(ev, "user_id", "ts", "value", "event_id")
    locf = gap_fill_locf(ev, "user_id", "ts", "value", "event_id")
    j = lin.join(locf, ["user_id", "bucket_start"])
    # wherever LOCF equals the raw observation (i.e. observed buckets),
    # linear must agree exactly
    mism = j.filter(
        F.col("filled").isNotNull()
        & F.col("locf").isNotNull()
        & (F.abs(F.col("filled") - F.round(F.col("locf"), 6)) > 1e-9)
    )
    # interpolated buckets may differ; observed ones may not. Check via
    # recomputing observed pairs:
    from stockpy_spark.operators.timeseries import time_bucket

    obs = (
        ev.withColumn("bucket_start", time_bucket("ts", 86400))
        .groupBy("user_id", "bucket_start")
        .count()
        .select("user_id", "bucket_start")
    )
    assert mism.join(obs, ["user_id", "bucket_start"], "left_semi").count() == 0


# --- rolling_zscore -------------------------------------------------------

def test_rolling_zscore_flags_obvious_spike(spark):
    rows = [Row(k="a", ts=float(i), v=10.0 + (i % 3) * 0.5, i=i) for i in range(12)]
    rows.append(Row(k="a", ts=12.0, v=100.0, i=12))
    df = spark.createDataFrame(rows).select(
        "k", F.col("ts").cast("timestamp").alias("ts"), "v", "i"
    )
    out = {r.i: r for r in rolling_zscore(df, "k", "ts", "v", "i", lookback=10, threshold=3.0).collect()}
    assert out[12].is_anomaly
    assert out[12].z > 3
    # first row has no lookback: NULL z, not anomalous
    assert out[0].z is None and not out[0].is_anomaly
    # normal rows aren't flagged
    assert not any(out[i].is_anomaly for i in range(12))


def test_rolling_zscore_zero_variance_is_null(spark):
    rows = [Row(k="a", ts=float(i), v=5.0, i=i) for i in range(6)]
    df = spark.createDataFrame(rows).select(
        "k", F.col("ts").cast("timestamp").alias("ts"), "v", "i"
    )
    out = rolling_zscore(df, "k", "ts", "v", "i").collect()
    assert all(r.z is None and not r.is_anomaly for r in out)


# --- DQ constraint suite --------------------------------------------------

def test_run_checks_single_pass_and_verdicts(spark):
    df = spark.createDataFrame(
        [Row(pk=1, v=5.0, s="ok"), Row(pk=2, v=50.0, s="bad"),
         Row(pk=2, v=None, s="ok")]
    )
    out = {
        r.constraint: (r.metric, r.passed)
        for r in run_checks(
            df,
            [
                min_rows(2),
                unique_key("pk"),
                null_fraction("v", 0.5),
                value_range("v", 0.0, 10.0),
                accepted_values("s", ["ok"]),
            ],
        ).collect()
    }
    assert out["rows>=2"] == (3.0, True)
    assert out["unique(pk)"] == (1.0, False)          # pk=2 duplicated
    m, p = out["null_fraction(v)<=0.5"]
    assert p and abs(m - 1 / 3) < 1e-12
    assert out["range(v)in[0.0,10.0]"] == (1.0, False)  # v=50 out of range
    assert out["accepted(s)"] == (1.0, False)
    # the whole suite is ONE aggregate: a single job, no per-check scan
    plan = run_checks(df, [min_rows(1), unique_key("pk")])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") <= 4  # one partial+final pair (+objagg)


def test_orphan_count_anti_join(spark):
    child = spark.createDataFrame([Row(fk=1), Row(fk=2), Row(fk=99)])
    parent = spark.createDataFrame([Row(pk=1), Row(pk=2)])
    r = orphan_count(child, parent, "fk", "pk", "ref").collect()[0]
    assert r.metric == 1.0 and not r.passed


# --- pareto_frontier_2d ---------------------------------------------------

def _naive_skyline(points):
    # maximize x, minimize y over distinct points
    pts = set(points)
    out = []
    for (x, y) in pts:
        dominated = any(
            (x2 >= x and y2 <= y and (x2 > x or y2 < y)) for (x2, y2) in pts
        )
        if not dominated:
            out.append((x, y))
    return sorted(out)


def test_pareto_frontier_matches_naive_and_bucket_invariant(spark):
    import random

    from stockpy_spark.operators.skyline import pareto_frontier_2d

    rng = random.Random(7)
    rows = [Row(x=float(rng.randrange(1000)), y=float(rng.randrange(1000)))
            for _ in range(500)]
    df = spark.createDataFrame(rows)
    got = sorted((r.x, r.y) for r in pareto_frontier_2d(df, "x", "y").collect())
    assert got == _naive_skyline([(r.x, r.y) for r in rows])
    # the bucket count is a parallelism knob, never a semantics knob
    one = sorted((r.x, r.y) for r in pareto_frontier_2d(df, "x", "y", n_buckets=1).collect())
    many = sorted((r.x, r.y) for r in pareto_frontier_2d(df, "x", "y", n_buckets=200).collect())
    assert one == got == many


def test_pareto_frontier_degenerate_all_equal_x(spark):
    from stockpy_spark.operators.skyline import pareto_frontier_2d

    df = spark.createDataFrame([Row(x=5.0, y=float(v)) for v in (3, 1, 2)])
    assert [(r.x, r.y) for r in pareto_frontier_2d(df, "x", "y").collect()] == [(5.0, 1.0)]


# --- build_inverted_index -------------------------------------------------

def test_inverted_index_caps_postings_keeps_true_df(spark):
    from stockpy_spark.operators.textstats import build_inverted_index

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="common token" + (" rare" if i == 3 else ""))
         for i in range(10)]
    )
    out = {r.term: r for r in build_inverted_index(docs, "text", "doc_id", max_postings=4).collect()}
    assert out["common"].df == 10                      # true document frequency
    assert out["common"].postings == [0, 1, 2, 3]      # capped, ascending
    assert out["rare"].df == 1 and out["rare"].postings == [3]


def test_inverted_index_within_doc_repeats_counted_once(spark):
    from stockpy_spark.operators.textstats import build_inverted_index

    docs = spark.createDataFrame([Row(doc_id=1, text="echo echo echo")])
    out = build_inverted_index(docs, "text", "doc_id").collect()
    assert len(out) == 1 and out[0].df == 1 and out[0].postings == [1]


# --- bfs_hops -------------------------------------------------------------

def test_bfs_hops_min_hop_and_bound(spark):
    from stockpy_spark.operators.graph import bfs_hops

    # path 1-2-3-4-5 plus shortcut 1-4
    edges = spark.createDataFrame(
        [Row(src=1, dst=2), Row(src=2, dst=3), Row(src=3, dst=4),
         Row(src=4, dst=5), Row(src=1, dst=4)]
    )
    seeds = spark.createDataFrame([Row(v=1)])
    out = {r.v: r.hop for r in bfs_hops(edges, seeds, max_hops=2).collect()}
    assert out == {1: 0, 2: 1, 4: 1, 3: 2, 5: 2}  # 5 via shortcut, 3 via path


def test_bfs_hops_multi_source_and_unreachable(spark):
    from stockpy_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [Row(src=1, dst=2), Row(src=10, dst=11), Row(src=20, dst=21)]
    )
    seeds = spark.createDataFrame([Row(v=1), Row(v=10)])
    out = {r.v: r.hop for r in bfs_hops(edges, seeds, max_hops=3).collect()}
    assert out == {1: 0, 10: 0, 2: 1, 11: 1}  # 20/21 unreachable: absent


# --- quantile_bucketize ---------------------------------------------------

def test_quantile_bucketize_quartiles(spark):
    from stockpy_spark.operators.features import quantile_bucketize

    df = spark.createDataFrame([Row(i=i, v=float(i)) for i in range(101)])
    out = {r.i: r.bin for r in quantile_bucketize(df, "v").collect()}
    # boundaries at 25/50/75 exactly; v >= boundary joins the upper bin
    assert out[0] == 0 and out[24] == 0
    assert out[25] == 1 and out[49] == 1
    assert out[50] == 2 and out[74] == 2
    assert out[75] == 3 and out[100] == 3


def test_quantile_bucketize_null_safe(spark):
    from stockpy_spark.operators.features import quantile_bucketize

    df = spark.createDataFrame([Row(i=0, v=1.0), Row(i=1, v=None), Row(i=2, v=2.0)])
    out = {r.i: r.bin for r in quantile_bucketize(df, "v").collect()}
    assert out[1] is None


def test_snapshot_diff_null_safe_classification(spark):
    """NULL -> value and value -> NULL are CHANGES (eqNullSafe), adds/
    removes/unchanged classified per key, per-column counts attribute
    the change."""
    from stockpy_spark.operators.quality import snapshot_diff

    old = spark.createDataFrame(
        [(1, 10.0, "A"), (2, None, "B"), (3, 30.0, "C"), (4, 40.0, "D")],
        "k long, p double, s string",
    )
    new = spark.createDataFrame(
        [(1, 10.0, "A"),      # unchanged
         (2, 20.0, "B"),      # NULL -> value: changed (p)
         (3, 30.0, None),     # value -> NULL: changed (s)
         (5, 50.0, "E")],     # added; key 4 removed
        "k long, p double, s string",
    )
    r = snapshot_diff(old, new, ["k"], ["p", "s"]).collect()[0]
    assert (r.n_old, r.n_new) == (4, 4)
    assert (r.n_added, r.n_removed) == (1, 1)
    assert (r.n_changed, r.n_unchanged) == (2, 1)
    assert r.changed_p == 1 and r.changed_s == 1


def test_snapshot_diff_empty_snapshots_report_zero_counts(spark):
    """Two empty snapshots: the ungrouped agg runs over zero rows, so
    every SUM is NULL unless coalesced — the contract (and the DuckDB
    oracle) says a single all-zero row (round-8 ADVICE)."""
    from stockpy_spark.operators.quality import snapshot_diff

    empty = spark.createDataFrame([], "k long, p double, s string")
    r = snapshot_diff(empty, empty, ["k"], ["p", "s"]).collect()[0]
    assert (r.n_old, r.n_new, r.n_added, r.n_removed) == (0, 0, 0, 0)
    assert (r.n_changed, r.n_unchanged) == (0, 0)
    assert (r.changed_p, r.changed_s) == (0, 0)


def test_snapshot_diff_rejects_empty_compare_cols(spark):
    """compare_cols=[] used to raise IndexError deep in expression
    construction; it must be a clear ValueError at the API edge."""
    import pytest

    from stockpy_spark.operators.quality import snapshot_diff

    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="compare column"):
        snapshot_diff(df, df, ["k"], [])


def test_heavy_hitters_mg_guarantee_under_any_partitioning(spark):
    """Misra-Gries gate (round 9): every item with count > N/k is found
    with undercount <= N/k regardless of partition layout — checked at
    1, 3, and 16 partitions over a linear-skew column; the hitter set
    itself matches the exact computation."""
    from stockpy_spark.operators.sketches import heavy_hitters_quality

    df = spark.range(500).select(
        F.floor(F.sqrt(F.col("id"))).cast("long").alias("item")
    )
    n = 500
    k = 16
    exact = {}
    for i in range(500):
        v = int(i ** 0.5)
        exact[v] = exact.get(v, 0) + 1
    true_hitters = {str(v) for v, c in exact.items() if c * k > n}
    for parts in (1, 3, 16):
        out = heavy_hitters_quality(df.repartition(parts), "item", k=k)
        rows = {r.item: r for r in out.collect()}
        assert set(rows) == true_hitters, (parts, set(rows))
        assert all(r.found == 1 and r.est_ok == 1 for r in rows.values()), parts


def test_cm_sketch_overestimate_and_partition_invariance(spark):
    """Count-Min (operators/sketches.py cm_sketch_estimates): the
    estimate never undercounts, collisions in a deliberately tiny grid
    force strict overcounts whose value equals the colliding items'
    sum (depth=1 makes the arithmetic hand-checkable), and the full
    (item, exact, est) surface is identical at 1, 3, and 16 input
    partitions — the grid is a pure function of the multiset."""
    from stockpy_spark.operators.sketches import cm_sketch_estimates

    rows = [(i % 10,) for i in range(100)] + [(7,)] * 25  # item 7: 35
    df = spark.createDataFrame(rows, "k long")

    out = {
        r["item"]: r for r in cm_sketch_estimates(df, "k", depth=4, width=64).collect()
    }
    assert all(r["cm_estimate"] >= r["exact_count"] for r in out.values())
    assert out["7"]["exact_count"] == 35

    # depth=1, width=2: every bucket holds several items, so each
    # estimate is the exact SUM of its bucket's counts — all >= exact,
    # and the grand total of any bucket's members is conserved.
    tiny = {
        r["item"]: r
        for r in cm_sketch_estimates(df, "k", depth=1, width=2).collect()
    }
    assert all(r["cm_estimate"] >= r["exact_count"] for r in tiny.values())
    assert any(r["cm_estimate"] > r["exact_count"] for r in tiny.values())
    assert sum(set(r["cm_estimate"] for r in tiny.values())) == 125

    canon = lambda res: sorted(
        (r["item"], r["exact_count"], r["cm_estimate"]) for r in res
    )
    base = canon(cm_sketch_estimates(df.coalesce(1), "k").collect())
    for n in (3, 16):
        assert canon(
            cm_sketch_estimates(df.repartition(n), "k").collect()
        ) == base


def test_bloom_screen_no_false_negatives_and_invariance(spark):
    """Bloom membership screen (operators/sketches.py): every corpus
    key screens as maybe-present (no false negatives under ANY
    m/k), definitely-absent verdicts are true negatives, and the word
    bitmap is identical at 1/3/16 input partitions (bit_or is a pure
    function of the key set). A 63-bit-word boundary key (position %
    63 == 0 forced by trying salts) exercises word-boundary packing."""
    from pyspark.sql import functions as F

    from stockpy_spark.operators.sketches import bloom_build, bloom_screen

    corpus = spark.createDataFrame(
        [(f"k{i}",) for i in range(40)], "fp string"
    )
    bloom = bloom_build(corpus, "fp", m_bits=256, k_hashes=3)
    batch = spark.createDataFrame(
        [(i, f"k{i}") for i in range(40)] + [(i, f"new{i}") for i in range(40, 80)],
        "id long, fp string",
    )
    out = {r["id"]: r["bloom_maybe"] for r in
           bloom_screen(batch, "fp", bloom, m_bits=256, k_hashes=3).collect()}
    assert all(out[i] == 1 for i in range(40))  # no false negatives
    rejected = [i for i in range(40, 80) if out[i] == 0]
    assert rejected, "a 256-bit filter over 40 keys must reject some new keys"

    canon = lambda b: sorted((r["word"], r["bits"]) for r in b.collect())
    base = canon(bloom_build(corpus.coalesce(1), "fp", m_bits=256))
    for n in (3, 16):
        assert canon(bloom_build(corpus.repartition(n), "fp", m_bits=256)) == base


def test_bloom_screen_preserves_duplicates_and_nongroupable_types(spark):
    """Round-10 advice seam: the screen is adds-a-column, so
    byte-identical duplicate input rows must BOTH survive (the old
    groupBy-over-batch-columns silently collapsed them) and a
    non-groupable map column must pass through untouched (the old
    re-group raised on it)."""
    from stockpy_spark.operators.sketches import bloom_build, bloom_screen

    corpus = spark.createDataFrame([("k0",), ("k1",)], "fp string")
    bloom = bloom_build(corpus, "fp", m_bits=256, k_hashes=3)
    batch = spark.createDataFrame(
        [(1, "k0", {"a": 1}), (1, "k0", {"a": 1}), (2, "zz", {})],
        "id long, fp string, meta map<string,int>",
    )
    out = bloom_screen(batch, "fp", bloom, m_bits=256, k_hashes=3)
    rows = out.collect()
    assert len(rows) == 3  # duplicates preserved, map type accepted
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append(r)
    assert len(by_id[1]) == 2 and all(r["bloom_maybe"] == 1 for r in by_id[1])
    assert dict(by_id[1][0]["meta"]) == {"a": 1}
    # empty filter: everything is definitely-absent, nothing crashes
    empty = bloom.where("word < 0")
    assert all(
        r["bloom_maybe"] == 0
        for r in bloom_screen(batch, "fp", empty, m_bits=256).collect()
    )


class TestBoilerplateLineScreen:
    """boilerplate_line_screen (round-12 continuation): the per-line
    heuristic sibling of remove_frequent_lines — one hand case per
    rule and the in-order reassembly contract."""

    def test_rule_battery_and_order(self, spark):
        from stockpy_spark.operators.textcorpus import boilerplate_line_screen

        text = "\n".join(
            [
                "the quick brown fox jumps over the lazy dog today",  # kept
                "Home | About | Contact | Login",  # 0 stopwords, short: drop
                "ok",  # < 4 tokens: drop
                "and here is the second real paragraph of the document",  # kept
                # 30+ tokens with no stopwords: LONG low-stopword line kept
                " ".join(f"w{i}" for i in range(31)),
            ]
        )
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        r = boilerplate_line_screen(df, "doc_id", "text").collect()[0]
        assert r.n_lines == 5 and r.n_kept == 3
        lines = r.text.split("\n")
        assert lines[0].startswith("the quick") and lines[1].startswith("and here")
        assert lines[2].startswith("w0")  # original order preserved
        assert abs(r.boiler_ratio - round(2 / 5, 6)) < 1e-9

    def test_all_boilerplate_doc_kept_with_empty_text(self, spark):
        from stockpy_spark.operators.textcorpus import boilerplate_line_screen

        df = spark.createDataFrame(
            [(7, "ok\nmenu list nav bar")], "doc_id long, text string"
        )
        r = boilerplate_line_screen(df, "doc_id", "text").collect()[0]
        assert r.text == "" and r.n_kept == 0 and r.boiler_ratio == 1.0


def test_normalize_text_rule_battery(spark):
    """normalize_text (round-12 continuation): one hand case per rule
    — zero-width strip, control-char strip (structure whitespace kept
    and folded), typographic fold, ellipsis expansion, whitespace
    collapse, NULL passthrough."""
    from stockpy_spark.functions.text import normalize_text

    cases = [
        (
            "a\u200bb \u201cq\u201d \u2018x\u2019 \u2013 y \u2014 z\u2026 end",
            "ab \"q\" 'x' - y - z... end",
        ),
        ("bell\u0007 and \u0000 nul", "bell and nul"),
        ("  runs \t of\nspace  ", "runs of space"),
        ("nbsp\u00a0here", "nbsp here"),
        (None, None),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "text string")
    got = [r.n for r in df.select(normalize_text("text").alias("n")).collect()]
    for (raw, want), g in zip(cases, got):
        assert g == want, (raw, g, want)


def test_dedup_lines_within_doc_first_wins_order_kept(spark):
    from stockpy_spark.operators.textcorpus import dedup_lines_within_doc

    text = "\n".join(["lead para", "nav bar", "body text", "nav bar", "lead para", "tail"])
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = dedup_lines_within_doc(df, "doc_id", "text").collect()[0]
    assert r.text.split("\n") == ["lead para", "nav bar", "body text", "tail"]
    assert r.n_lines == 4 and r.n_dropped == 2


def test_calibrate_scores_by_group_percentiles_and_ties(spark):
    from stockpy_spark.operators.sampling import calibrate_scores_by_group

    rows = [
        # group a: scores 1, 2, 2, 5 -> percent_rank 0, 1/3, 1/3, 1
        (1, "a", 1.0), (2, "a", 2.0), (3, "a", 2.0), (4, "a", 5.0),
        # group b: one row -> calibrated 0.0 (percent_rank convention)
        (5, "b", 9.9),
    ]
    df = spark.createDataFrame(rows, "doc_id long, src string, score double")
    out = {
        r.doc_id: (r.group_rank, r.calibrated)
        for r in calibrate_scores_by_group(df, "src", "score", "doc_id").collect()
    }
    third = round(1 / 3, 6)
    assert out[1] == (1, 0.0)
    assert out[2] == (2, third) and out[3] == (3, third)  # ties share
    assert out[4] == (4, 1.0)
    assert out[5] == (1, 0.0)


def test_psi_series_reference_week_zero_and_planted_drift(spark):
    """psi_series (round-12 continuation): the reference period reads
    PSI 0.0 by construction, an identical-distribution period reads
    ~0, and a planted shifted period alerts past 0.2."""
    from datetime import datetime

    from stockpy_spark.operators.drift import psi_series

    wk = 604_800
    rows = []
    # week 0 (reference) and week 1: same uniform-ish values
    for week in (0, 1):
        for i in range(200):
            rows.append((datetime.utcfromtimestamp(week * wk + i), float(i % 100)))
    # week 2: mass shifted hard to the top of the reference range
    for i in range(200):
        rows.append((datetime.utcfromtimestamp(2 * wk + i), 95.0 + (i % 5)))
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = {r.period: r for r in psi_series(df, "value", "ts").collect()}
    periods = sorted(out)
    assert len(periods) == 3
    ref, same, shifted = (out[p] for p in periods)
    assert ref.psi == 0.0 and not ref.is_alert
    assert abs(same.psi) < 0.01 and not same.is_alert
    assert shifted.psi > 0.2 and shifted.is_alert
    assert ref.n_values == same.n_values == shifted.n_values == 200


def test_null_text_docs_survive_line_ops(spark):
    """r12 advisor medium #2: posexplode(split(NULL)) yields zero rows,
    so a NULL-text doc used to vanish from every grouped rebuild.
    explode_lines now coalesces to '' — every input document comes
    back from boilerplate_line_screen and dedup_lines_within_doc."""
    from stockpy_spark.operators.textcorpus import (
        boilerplate_line_screen,
        dedup_lines_within_doc,
    )

    df = spark.createDataFrame(
        [(1, "real body text that is long enough to keep here"),
         (2, None),
         (3, "")],
        "doc_id long, text string",
    )
    bp = {r.doc_id: r for r in boilerplate_line_screen(df, "doc_id", "text").collect()}
    assert set(bp) == {1, 2, 3}
    assert bp[2].text == "" and bp[2].n_lines == 1 and bp[2].n_kept == 0
    dd = {r.doc_id: r for r in dedup_lines_within_doc(df, "doc_id", "text").collect()}
    assert set(dd) == {1, 2, 3}
    assert dd[2].text == "" and dd[2].n_dropped == 0


def test_gopher_repetition_edge_rows_bit_exact(spark):
    """gopher_repetition_profile on the tokenizer and rounding edge
    fixtures (empty/NULL text, doc shorter than every n, all-identical
    tokens, tie-broken top gram, Java-\\s tokenization, a HALF_UP
    tie) must return exactly these rows. They were recorded from the
    Spark higher-order-function implementation at commit 535e7fe,
    which agreed with the served Arrow pass bit for bit there; the
    corpus rows are checked against the DuckDB oracle
    (tests/test_oracle_gate.py)."""
    from stockpy_spark.operators.gopher import gopher_repetition_profile

    edge = spark.createDataFrame(
        [
            (100001, None),
            (100002, ""),
            (100003, "one"),
            (100004, "spam spam spam spam spam spam spam spam spam spam spam"),
            (100005, "b a b a c d e f g h i j k l m n o p q r"),
            # Java \s is ASCII-only — NBSP, thin space, and
            # \x1c-\x1f are Unicode whitespace to Python's .split()
            # but TOKEN CHARS to Spark's split; trim strips only
            # ASCII space, so the edge \x1f stays in its token
            # (31 chars over 9 tokens below).
            (100006, "foo bar foo bar foo bar baz qux"),
            (100007, "a b a b a b a b a b x"),
            (100008, "\x1fpad pad\x1c pad pad pad pad pad pad tail\x1f"),
            (100009, " "),
            # rounding tie: dup5 coverage/total = 10/32000 = 0.0003125,
            # whose SHORTEST repr HALF_UPs to 0.000313 while the exact
            # binary expansion (0.00031249999...) rounds DOWN -- the
            # BigDecimal.valueOf vs Decimal(float) discrepancy.
            (100010, " ".join(
                list("abcde") + ["w" * 15995] + list("abcde") + ["v" * 15995]
            )),
            # trim is SPACE-ONLY: leading/trailing tabs survive it and
            # split(limit=-1) then yields empty edge tokens
            (100011, "\tfoo bar foo bar foo bar\t"),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        tuple(r)
        for r in gopher_repetition_profile(edge, "text", "doc_id").collect()
    )
    # (doc_id, n_tokens, total_chars, top2, top3, top4, dup5, dup10)
    assert got == [
        (100001, 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0),
        (100002, 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0),
        (100003, 1, 3, 0.0, 0.0, 0.0, 0.0, 0.0),
        (100004, 11, 44, 1.0, 1.0, 1.0, 1.0, 1.0),
        (100005, 20, 20, 0.2, 0.15, 0.2, 0.0, 0.0),
        (100006, 5, 27, 0.777778, 0.481481, 0.740741, 0.0, 0.0),
        (100007, 6, 16, 0.9375, 0.9375, 0.9375, 0.0, 0.0),
        (100008, 9, 31, 0.580645, 0.580645, 0.580645, 0.580645, 0.0),
        (100009, 1, 1, 0.0, 0.0, 0.0, 0.0, 0.0),
        (100010, 12, 32000, 0.000125, 0.000188, 0.00025, 0.000313, 0.0),
        (100011, 8, 18, 1.0, 0.833333, 1.0, 0.0, 0.0),
    ]
