"""Behavioral analytics (funnel, cohorts), PageRank, and SCD2 history —
operator contracts; oracle parity is the driver gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from stockpy_spark.operators.behavior import cohort_retention, funnel_stages
from stockpy_spark.operators.graph import pagerank
from stockpy_spark.operators.merge import scd2_history


def _events(spark, sf_dir):
    from stockpy_spark.sources.testdata import read_events

    return read_events(spark, sf_dir)


class TestFunnel:
    def test_stage_monotonic_timestamps(self, spark, sf_dir):
        out = funnel_stages(
            _events(spark, sf_dir), ["view", "click", "purchase"]
        ).collect()
        assert len(out) > 0
        for r in out:
            # each completed step strictly after the previous one
            if r["t2"] is not None:
                assert r["t2"] > r["t1"]
            if r["t3"] is not None:
                assert r["t2"] is not None and r["t3"] > r["t2"]
            # stage equals the number of completed steps
            assert r["stage"] == sum(
                r[f"t{i}"] is not None for i in (1, 2, 3)
            )

    def test_order_matters(self, spark, sf_dir):
        # impossible ordering (purchase before signup before error ...) is
        # a subset of the relaxed one-step funnel
        ev = _events(spark, sf_dir)
        strict = funnel_stages(ev, ["purchase", "view"])
        assert (
            strict.filter("t2 is not null").count()
            <= strict.filter("t1 is not null").count()
        )


class TestCohorts:
    def test_retention_matrix(self, spark, sf_dir):
        ev = _events(spark, sf_dir)
        out = cohort_retention(ev, grain="week")
        rows = out.collect()
        # no activity period before its cohort's first week
        assert all(r["period"] >= r["cohort"] for r in rows)
        # first-week diagonal counts every user exactly once
        diag = sum(
            r["n_users"] for r in rows if r["period"] == r["cohort"]
        )
        assert diag == ev.select("user_id").distinct().count()


class TestPageRank:
    def test_triangle_symmetric(self, spark):
        # symmetric triangle -> uniform ranks that sum to ~1
        edges = spark.createDataFrame(
            [(a, b, 1) for a in range(3) for b in range(3) if a != b],
            "src int, dst int, w int",
        )
        rows = pagerank(edges, weight="w", iterations=3).collect()
        assert len(rows) == 3
        assert abs(sum(r["rank"] for r in rows) - 1.0) < 1e-4
        assert max(r["rank"] for r in rows) - min(r["rank"] for r in rows) < 1e-6

    def test_hub_outranks_leaf(self, spark):
        # star graph: center referenced by every leaf (symmetrized)
        edges = spark.createDataFrame(
            [(0, i, 1) for i in range(1, 6)]
            + [(i, 0, 1) for i in range(1, 6)],
            "src int, dst int, w int",
        )
        rows = {r["node"]: r["rank"] for r in pagerank(edges, weight="w").collect()}
        assert rows[0] > max(v for k, v in rows.items() if k != 0)


class TestSCD2:
    def test_versions_partition_the_timeline(self, spark, sf_dir):
        ev = _events(spark, sf_dir)
        hist = scd2_history(ev, "user_id", "event_type", "ts", "event_id")
        # exactly one open (current) version per user
        per_user = hist.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("valid_to").isNull(), 1).otherwise(0)).alias(
                "open"
            ),
        )
        assert per_user.filter("open != 1").count() == 0
        # versions are 1..n contiguous and valid_from strictly before valid_to
        assert hist.filter("valid_to is not null and valid_from > valid_to").count() == 0
        bad_ver = (
            hist.groupBy("user_id")
            .agg(F.max("version").alias("mx"), F.count(F.lit(1)).alias("n"))
            .filter("mx != n")
        )
        assert bad_ver.count() == 0

    def test_consecutive_duplicates_collapse(self, spark):
        rows = [
            (1, "a", 1, 10),
            (1, "a", 2, 11),
            (1, "b", 3, 12),
            (1, "a", 4, 13),
        ]
        df = spark.createDataFrame(rows, "k int, v string, t int, id int")
        hist = scd2_history(df, "k", "v", "t", "id").orderBy("version").collect()
        assert [(r["attr"], r["valid_from"]) for r in hist] == [
            ("a", 1),
            ("b", 3),
            ("a", 4),
        ]
        assert [r["valid_to"] for r in hist] == [3, 4, None]


class TestAssociationRules:
    def test_metrics_consistent(self, spark, sf_dir):
        from stockpy_spark.operators.behavior import association_rules

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_partkey"
        )
        rules = association_rules(li, "l_orderkey", "l_partkey", min_co=2)
        rows = rules.collect()
        for r in rows:
            assert r["co_count"] >= 2
            assert 0 < r["support"] <= 1
            assert 0 < r["confidence"] <= 1
            assert r["lift"] > 0
        # rules are directed: (a -> b) and (b -> a) share co_count
        bykey = {(r["antecedent"], r["consequent"]): r["co_count"] for r in rows}
        for (a, b), co in bykey.items():
            if (b, a) in bykey:
                assert bykey[(b, a)] == co

    def test_toy_lift(self, spark):
        from stockpy_spark.operators.behavior import association_rules

        # bread+butter in 2/3 baskets; milk independent
        rows = [
            (1, "bread"), (1, "butter"),
            (2, "bread"), (2, "butter"), (2, "milk"),
            (3, "milk"),
        ]
        df = spark.createDataFrame(rows, "b int, i string")
        out = {
            (r["antecedent"], r["consequent"]): r
            for r in association_rules(df, "b", "i", min_co=1).collect()
        }
        bb = out[("bread", "butter")]
        assert bb["co_count"] == 2 and bb["confidence"] == 1.0
        assert bb["lift"] == 1.5  # 1.0 / (2/3)

    def test_basket_cap_truncates_by_global_frequency(self, spark):
        from stockpy_spark.operators.behavior import association_rules

        # basket 1 has 3 items; 'rare' is globally least frequent so a
        # cap of 2 drops it there; marginals stay exact (from uncapped)
        rows = [
            (1, "a"), (1, "b"), (1, "rare"),
            (2, "a"), (2, "b"),
            (3, "a"), (3, "rare2"),
        ]
        df = spark.createDataFrame(rows, "b int, i string")
        out = {
            (r["antecedent"], r["consequent"]): r
            for r in association_rules(
                df, "b", "i", min_co=1, max_basket_items=2
            ).collect()
        }
        assert out[("a", "b")]["co_count"] == 2
        # 'rare' truncated out of basket 1 -> no pair survives for it
        # (basket 3's 'rare2' keeps its pair: 2 items, cap doesn't bite)
        assert not any(k == "rare" for pair in out for k in pair)
        assert ("a", "rare2") in out
        # support denominator is the UNCAPPED basket count (3)
        assert out[("a", "b")]["support"] == round(2 / 3, 6)


class TestTransitions:
    def test_rows_normalize(self, spark, sf_dir):
        from stockpy_spark.operators.behavior import transition_matrix
        from stockpy_spark.sources.testdata import read_events

        out = transition_matrix(
            read_events(spark, sf_dir), tiebreak_col="event_id"
        )
        sums = (
            out.groupBy("prev_type").agg(F.sum("prob").alias("s")).collect()
        )
        assert all(abs(r["s"] - 1.0) < 1e-4 for r in sums)


class TestTriangles:
    def test_known_graphs(self, spark):
        from stockpy_spark.operators.graph import triangle_count

        # K4 has 4 triangles; input deliberately messy (dupes, loops,
        # both directions)
        edges = [(a, b) for a in range(4) for b in range(4) if a != b]
        edges += [(0, 0), (1, 2), (2, 1)]
        df = spark.createDataFrame(edges, "src int, dst int")
        assert triangle_count(df).collect()[0]["n_triangles"] == 4
        # a 4-cycle has none
        ring = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (3, 0)], "src int, dst int"
        )
        assert triangle_count(ring).collect()[0]["n_triangles"] == 0


class TestLMPerplexity:
    def test_scores_and_repeat_text(self, spark, sf_dir):
        from stockpy_spark.operators.textstats import lm_perplexity_scores

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = lm_perplexity_scores(docs, "text", "doc_id")
        rows = out.collect()
        assert len(rows) == docs.filter("text is not null").count()
        assert all(r["avg_logprob"] < 0 for r in rows)
        assert all(r["perplexity"] > 1 for r in rows)

    def test_common_beats_rare(self, spark):
        from stockpy_spark.operators.textstats import lm_perplexity_scores

        rows = [(i, "a b a b a b") for i in range(5)] + [(9, "x q z w k j")]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        out = {r["doc"]: r for r in lm_perplexity_scores(df, "text", "doc_id").collect()}
        # the doc made of corpus-frequent bigrams scores higher than the
        # one made of singletons
        assert out[0]["avg_logprob"] > out[9]["avg_logprob"]


class TestBigramKernelParity:
    """lm/kn perplexity run bigram_stats_kernel (per-doc rows) and
    bigram_count_partials (the count table) — the Arrow form of the
    tokenize -> bigram-explode -> groupBy(doc, bg) pass. Both must be
    BIT-IDENTICAL to that Spark-expression reduction, written inline
    in the test, over the real corpus plus the tokenizer edge fixtures
    (NBSP/thin-space are token chars under Java \\s; leading tabs
    survive the space-only trim and make empty edge tokens; 1-token
    and empty docs emit nothing). The scores built on them are checked
    against the DuckDB oracles (tests/test_oracle_gate.py)."""

    EDGE = [
        (900001, None),
        (900002, ""),
        (900003, "one"),
        (900004, "  spaced   out   tokens  "),
        (900005, "a b a b a b"),
        (900006, "foo\xa0bar baz foo\xa0bar baz"),
        (900007, "x y x y qq"),
        (900008, "\tlead tab lead tab\t"),
        (900009, " \xa0 "),
        (900010, "UP low UP low MiXeD case"),
        # non-ASCII case folding (r14 advisor): Spark's UTF8String
        # falls back to Java String.toLowerCase() (default locale) off
        # the ASCII fast path, Python uses Unicode default case
        # conversion — verified to agree on this JVM (root-ish locale)
        # for the canonical hard cases: İ (U+0130 -> i + combining
        # dot), ẞ (capital sharp s -> ß), final sigma, the ǅ digraph.
        # A Turkish-default-locale JVM would diverge on dotted/dotless
        # I — the docstring scopes the parity claim accordingly.
        (900011, "İstanbul ẞTRASSE ΣΊΣΥΦΟΣ ǄUNGLA İstanbul STRASSE"),
    ]

    def test_kernel_frame_matches_expression_per_frame(self, spark, sf_dir):
        """The kernel's (doc, bg, m) rows are EXACTLY the expression
        groupBy(doc, bg) reduction, the count partials sum to its
        per-bigram c12, and the ug=1 rows carry the per-doc token
        census (incl. the final token lm's V needs)."""
        from pyspark.sql import functions as F

        from stockpy_spark.functions.text import tokenize, word_ngrams
        from stockpy_spark.operators.textstats import (
            bigram_count_partials,
            bigram_stats_kernel,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        edge = spark.createDataFrame(self.EDGE, "doc_id long, text string")
        df = docs.select("doc_id", "text").unionByName(edge)
        per = (
            df.select(
                F.col("doc_id").alias("doc"),
                F.explode(word_ngrams(F.col("text"), 2)).alias("bg"),
            )
            .groupBy("doc", "bg")
            .agg(F.count(F.lit(1)).alias("m"))
            .cache()
        )
        kb = bigram_stats_kernel(df, "text", "doc_id").cache()
        got_bg = sorted(
            (r.doc, r.bg, r.m)
            for r in kb.where("ug = 0").collect()
        )
        want_bg = sorted((r.doc, r.bg, r.m) for r in per.collect())
        assert got_bg == want_bg
        # flush_keys=64 forces several flushes per worker, so the
        # partials really are merged by the downstream sum
        got_c12 = sorted(
            (r.bg, r.c12)
            for r in bigram_count_partials(df, "text", flush_keys=64)
            .where("ug = 0")
            .groupBy("bg")
            .agg(F.sum("m").alias("c12"))
            .collect()
        )
        want_c12 = sorted(
            (r.bg, r.c12)
            for r in per.groupBy("bg").agg(F.sum("m").alias("c12")).collect()
        )
        assert got_c12 == want_c12
        got_v = kb.where("ug = 1").agg(
            F.countDistinct("bg").alias("V")
        ).collect()[0].V
        want_v = (
            df.select(F.explode(tokenize(F.lower(F.col("text")))).alias("w"))
            .agg(F.countDistinct("w").alias("V"))
            .collect()[0]
            .V
        )
        assert got_v == want_v


class TestDecontamination:
    def test_planted_overlap(self, spark):
        from stockpy_spark.operators.textstats import ngram_contamination

        corpus = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "completely unrelated corpus text goes right here now"),
            ],
            "doc_id int, text string",
        )
        eval_df = spark.createDataFrame(
            [
                (100, "watch the quick brown fox jumps over everything"),
                (101, "five totally clean evaluation tokens appear within this"),
            ],
            "doc_id int, text string",
        )
        out = {
            r["doc"]: r
            for r in ngram_contamination(
                corpus, eval_df, "text", "doc_id", n=5
            ).collect()
        }
        assert out[100]["is_contaminated"] and out[100]["n_corpus_docs"] == 1
        # "the quick brown fox jumps" + "quick brown fox jumps over"
        assert out[100]["n_shared_ngrams"] == 2
        assert not out[101]["is_contaminated"]
        assert out[101]["n_shared_ngrams"] == 0


def test_last_touch_attribution_window_ties_and_nulls(spark):
    """Pins last_touch_attribution (operators/behavior.py): the most
    recent in-window touch wins, ties at the same second go to the
    larger event id, touches at/after the conversion or beyond the
    lookback never attribute, and touchless conversions keep NULLs."""
    from datetime import datetime, timezone

    from stockpy_spark.operators.behavior import last_touch_attribution

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc).replace(tzinfo=None)

    def ts(sec):
        from datetime import timedelta

        return t0 + timedelta(seconds=sec)

    rows = [
        # user 1: touches at 10 (view) and 10 (click, higher id), conv at 50
        (101, ts(10), 1, "view", 1.0, None),
        (102, ts(10), 1, "click", 1.0, None),
        (103, ts(50), 1, "purchase", 9.0, None),
        # user 2: touch exactly AT conversion second -> not credited;
        # earlier touch beyond the 100s lookback -> not credited
        (201, ts(500), 2, "view", 1.0, None),
        (202, ts(500), 2, "purchase", 9.0, None),
        (203, ts(300), 2, "click", 1.0, None),
        # user 3: conversion with no touches at all
        (301, ts(700), 3, "purchase", 9.0, None),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = {
        r["conversion_id"]: r
        for r in last_touch_attribution(
            ev, ["view", "click"], "purchase", lookback_sec=100
        ).collect()
    }
    assert out[103]["touch_type"] == "click"  # tie -> larger event id
    assert out[103]["touch_lag_sec"] == 40
    assert out[202]["touch_type"] is None  # same-second + stale only
    assert out[301]["touch_type"] is None and out[301]["touch_epoch"] is None


def test_cuped_adjustment_hand_computed(spark):
    """Pins CUPED arithmetic (operators/stats.py cuped_adjusted_metrics):
    theta = cov/var over per-user pre/post sums, the epoch-midpoint
    boundary event lands in PRE (es <= mid), the adjustment uses the
    rounded theta/xbar, and the adjusted mean equals the raw mean
    (CUPED is unbiased)."""
    from datetime import datetime, timedelta, timezone

    from stockpy_spark.operators.stats import cuped_adjusted_metrics

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc).replace(tzinfo=None)
    ts = lambda s: t0 + timedelta(seconds=s)
    # epochs span [0, 100] -> mid = 50; u4's single event sits ON it
    rows = [
        (1, ts(0), 1, "view", 0.0, None),  # anchors min(es)=t0+0
        (2, ts(100), 1, "view", 0.0, None),  # anchors max(es)
        (3, ts(10), 1, "view", 10.0, None),
        (4, ts(60), 1, "view", 20.0, None),
        (5, ts(10), 2, "view", 20.0, None),
        (6, ts(60), 2, "view", 30.0, None),
        (7, ts(10), 3, "view", 30.0, None),
        (8, ts(60), 3, "view", 50.0, None),
        (9, ts(50), 4, "view", 7.0, None),  # boundary -> pre
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = {r["user_id"]: r for r in cuped_adjusted_metrics(ev).collect()}
    x = {1: 10.0, 2: 20.0, 3: 30.0, 4: 7.0}
    y = {1: 20.0, 2: 30.0, 3: 50.0, 4: 0.0}
    n, sx, sy = 4, 67.0, 100.0
    sxx = sum(v * v for v in x.values())
    sxy = sum(x[u] * y[u] for u in x)
    theta = round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6)
    xbar = round(sx / n, 6)
    assert out[4]["pre_value"] == 7.0 and out[4]["post_value"] == 0.0
    for u in x:
        assert out[u]["theta"] == theta
        assert out[u]["post_adjusted"] == round(
            y[u] - theta * (x[u] - xbar), 6
        )
    # unbiasedness: adjusted mean == raw mean (up to rounding)
    adj = [out[u]["post_adjusted"] for u in x]
    assert abs(sum(adj) / n - sy / n) < 1e-4


def test_pagerank_zero_weight_out_edges_null_not_crash(spark):
    """Round-11 degenerate sweep: a node whose out-edges all weigh
    zero has a 0/0 contribution share — it now distributes nothing
    (the dangling-node treatment) instead of crashing the job with
    ANSI DIVIDE_BY_ZERO; positively-weighted nodes keep ranking."""
    from pyspark.sql import functions as F

    from stockpy_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2, 0.0), (2, 1, 1.0), (2, 3, 3.0), (3, 2, 1.0)],
        "src long, dst long, w double",
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, weight="w").collect()}
    assert set(ranks) == {1, 2, 3}
    base = (1 - 0.85) / 3
    # node 1 distributes nothing (zero total out-weight), so node 2's
    # inbound mass comes from node 3 alone; node 1 receives from 2
    assert ranks[1] > base and ranks[2] > base
    assert all(v == v and v is not None for v in ranks.values())  # no NaN/NULL


class TestKNPerplexity:
    """kn_perplexity_scores (round-12 continuation): interpolated
    Kneser-Ney against an independent pure-Python reference, plus the
    continuation-probability property add-k smoothing cannot express."""

    @staticmethod
    def _ref(docs, D=0.75):
        import math
        from collections import Counter

        c12, c1, foll, prec = Counter(), Counter(), {}, {}
        for text in docs.values():
            t = text.lower().split()
            for a, b in zip(t, t[1:]):
                c12[(a, b)] += 1
                c1[a] += 1
                foll.setdefault(a, set()).add(b)
                prec.setdefault(b, set()).add(a)
        n1tot = len(c12)
        out = {}
        for doc, text in docs.items():
            t = text.lower().split()
            if len(t) < 2:
                continue
            lps = []
            for a, b in zip(t, t[1:]):
                p = max(c12[(a, b)] - D, 0.0) / c1[a] + (
                    D * len(foll[a]) / c1[a]
                ) * (len(prec[b]) / n1tot)
                lps.append(math.log(p))
            avg = round(sum(lps) / len(lps), 6)
            out[doc] = (len(lps), avg, round(math.exp(-avg), 6))
        return out

    def test_matches_pure_python_reference(self, spark):
        from stockpy_spark.operators.textstats import kn_perplexity_scores

        docs = {
            1: "san francisco is in california",
            2: "new york is in america",
            3: "the bay near san francisco",
            4: "",  # no bigrams: absent from the output, like lm
            5: "san francisco san francisco",
        }
        df = spark.createDataFrame(
            [(k, v) for k, v in docs.items()], "doc_id int, text string"
        )
        got = {
            r["doc"]: (r["n_bigrams"], r["avg_logprob"], r["kn_perplexity"])
            for r in kn_perplexity_scores(df, "text", "doc_id").collect()
        }
        want = self._ref(docs)
        assert set(got) == set(want)  # doc 4 in neither
        for doc, (n, avg, ppl) in want.items():
            assert got[doc][0] == n, doc
            assert abs(got[doc][1] - avg) < 1e-9, (doc, got[doc], avg)
            assert abs(got[doc][2] - ppl) < 1e-6, doc

    def test_continuation_probability_penalizes_one_context_words(self, spark):
        """The textbook KN property: "francisco" appears 6 times but
        ONLY after "san", while "tea" appears 3 times after 3 distinct
        contexts — so an unseen-context bigram backing off to
        continuation mass must score x-tea ABOVE x-francisco even
        though francisco is the more frequent word. Add-k scores them
        by raw frequency and gets this exactly backwards; here the
        backoff term is visible through interpolation: the seen bigram
        (shared w1 "likes", equal counts) scores higher when w2 has
        the richer context set."""
        from stockpy_spark.operators.textstats import kn_perplexity_scores

        corpus = " . ".join(
            ["san francisco"] * 6
            + ["drinks tea", "brews tea", "loves tea"]
            + ["likes tea", "likes francisco"]
        )
        df = spark.createDataFrame(
            [
                (1, corpus),
                (2, "likes tea"),        # w2 with 4 distinct contexts
                (3, "likes francisco"),  # w2 with 2 distinct contexts
            ],
            "doc_id int, text string",
        )
        out = {
            r["doc"]: r["avg_logprob"]
            for r in kn_perplexity_scores(df, "text", "doc_id").collect()
        }
        assert out[2] > out[3]


class TestFuzzyDecontamination:
    def test_paraphrase_caught_exact_ngram_misses(self, spark):
        """The motivating case: a training doc that paraphrases an eval
        item by swapping two tokens breaks EVERY exact 5-gram, but the
        token set barely moves — ngram_contamination certifies it
        clean, fuzzy_decontamination flags it. An unrelated eval doc
        stays certified clean in the same report."""
        from stockpy_spark.operators.textstats import (
            fuzzy_decontamination,
            ngram_contamination,
        )

        base = (
            "the model was trained on a large corpus of filtered web "
            "documents with careful quality checks applied at every stage"
        )
        # token-swap paraphrase: a substitution every <=4 tokens, so NO
        # 5-token window survives intact, yet token-set overlap stays 0.8
        para = (
            base.replace("trained", "tuned")
            .replace("corpus", "collection")
            .replace("documents", "pages")
            .replace("checks", "tests")
        )
        corpus = spark.createDataFrame(
            [(1, para), (2, "completely different training text about stock prices")],
            "doc_id int, text string",
        )
        eval_df = spark.createDataFrame(
            [(100, base), (101, "pristine evaluation item sharing absolutely nothing")],
            "doc_id int, text string",
        )
        exact = {
            r["doc"]: r["is_contaminated"]
            for r in ngram_contamination(corpus, eval_df, "text", "doc_id", n=5).collect()
        }
        assert not exact[100]  # every 5-gram broken by the swaps
        fuzzy = {
            r["doc"]: r
            for r in fuzzy_decontamination(
                corpus, eval_df, "text", "doc_id", bands=6, threshold=0.5
            ).collect()
        }
        assert fuzzy[100]["is_contaminated"]
        assert fuzzy[100]["max_est_jaccard"] >= 0.5
        assert not fuzzy[101]["is_contaminated"]
        assert fuzzy[101]["n_candidates"] == 0
        assert fuzzy[101]["max_est_jaccard"] is None  # certified clean
