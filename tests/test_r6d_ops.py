"""Round-6 fourth wave: exact prefix-filtered set-similarity join,
drift screens (PSI / KS), association statistics, CUSUM change-point.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from stockpy_spark.operators.dedup import ngram_jaccard_pairs, word_jaccard_pairs
from stockpy_spark.operators.drift import ks_2samp, population_stability_index
from stockpy_spark.operators.setsim import jaccard_similarity_join
from stockpy_spark.operators.stats import (
    categorical_association,
    correlation_matrix,
)
from stockpy_spark.operators.timeseries import cusum_changepoint


# --- exact set-Jaccard joins (setsim + dedup word/n-gram) ---------------

# The same set shapes spelled as words and as character bigrams: 1 and 2
# are duplicates, 3 has Jaccard 3/5 with 1, 4 is disjoint, 5 is 1 with
# different case, 6 is empty. In "split", J(1, 2) = 2/3.
_TEXTS = {
    "dups": {
        "word": ["alpha beta gamma delta", "alpha beta gamma delta",
                 "alpha beta gamma epsilon", "zeta eta theta iota kappa",
                 "Alpha BETA gamma delta", ""],
        "ngram": ["abcde", "abcde", "abcdf", "vwxyz", "ABCDE", ""],
    },
    "split": {"word": ["a b c", "a b"], "ngram": ["abcd", "abc"]},
}

# case -> (texts, [(threshold, pairs that must be in, pairs that must be out)])
_CASES = {
    "bruteforce": ("dups", [(0.5, {(1, 2), (1, 3), (1, 5)}, {(1, 4), (1, 6), (4, 6)})]),
    "boundary": ("dups", [(0.6, {(1, 3)}, set()), (0.61, set(), {(1, 3)})]),
    # J = 2/3 rounds to 0.666667: the round(j, 6) joins admit the pair,
    # setsim's unrounded test rejects it
    "rounding_split": ("split", [(0.6666667, set(), set())]),
}


def _set_join(spark, join, texts, t):
    """Run one public join; {(lo_id, hi_id): jaccard}."""
    df = spark.createDataFrame(
        [Row(doc_id=i, text=x) for i, x in enumerate(texts, 1)]
    )
    if join == "setsim":
        out = jaccard_similarity_join(df, "text", "doc_id", t)
        return {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    if join == "word":
        out = word_jaccard_pairs(df, "text", "doc_id", t)
    else:
        out = ngram_jaccard_pairs(df, "text", "doc_id", 2, t)
    return {(r.d1, r.d2): r.jaccard for r in out.collect()}


def _brute_force(join, texts, t):
    if join == "ngram":
        sets = [{x.lower()[i:i + 2] for i in range(len(x) - 1)} for x in texts]
    else:
        sets = [set(x.lower().split()) for x in texts]
    want = {}
    for a in range(len(sets)):
        for b in range(a + 1, len(sets)):
            inter = len(sets[a] & sets[b])
            if inter:
                j = inter / len(sets[a] | sets[b])
                if (j if join == "setsim" else round(j, 6)) >= t:
                    want[(a + 1, b + 1)] = round(j, 6)
    return want


@pytest.mark.parametrize("join", ["setsim", "word", "ngram"])
@pytest.mark.parametrize("case", sorted(_CASES))
def test_set_jaccard_joins_match_bruteforce(spark, case, join):
    """All three public joins run the one prefix-filtered kernel
    (setsim.set_jaccard_pairs): each must equal a pure-Python all-pairs
    Jaccard under its own threshold test."""
    texts_key, checks = _CASES[case]
    texts = _TEXTS[texts_key][join if join == "ngram" else "word"]
    for t, must_in, must_out in checks:
        got = _set_join(spark, join, texts, t)
        assert got == _brute_force(join, texts, t)
        assert must_in <= set(got) and not must_out & set(got)
        if case == "rounding_split":
            assert ((1, 2) in got) == (join != "setsim")


# --- PSI -----------------------------------------------------------------

def test_psi_identical_distributions_is_zero(spark):
    df = spark.range(1000).select((F.col("id") % 100).cast("double").alias("v"))
    out = population_stability_index(df, df, "v", n_bins=10).collect()
    assert len(out) == 10
    assert all(r.psi == 0.0 and r.psi_term == 0.0 for r in out)
    assert all(r.n_ref == r.n_cur == 100 for r in out)


def test_psi_shift_detected_and_clamped(spark):
    ref = spark.range(1000).select((F.col("id") % 100).cast("double").alias("v"))
    cur = ref.select((F.col("v") + 200.0).alias("v"))  # fully out of range
    out = population_stability_index(ref, cur, "v", n_bins=10).collect()
    # all current mass clamps into the top bin
    top = [r for r in out if r.bin == 9][0]
    assert top.n_cur == 1000
    assert top.psi > 1.0  # massive drift


# --- KS ------------------------------------------------------------------

def test_ks_identical_zero_and_disjoint_one(spark):
    a = spark.range(500).select((F.col("id") % 50).cast("double").alias("v"))
    row = ks_2samp(a, a, "v").collect()[0]
    assert row.d_stat == 0.0 and row.n_ref == row.n_cur == 500
    b = a.select((F.col("v") + 1000.0).alias("v"))
    row = ks_2samp(a, b, "v").collect()[0]
    assert row.d_stat == 1.0
    # D=1 is attained at the largest ref value (all ref mass below all cur)
    assert row.at_value == 49.0


def test_ks_matches_scipy_style_reference(spark):
    xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    ys = [3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
    a = spark.createDataFrame([(v,) for v in xs], ["v"])
    b = spark.createDataFrame([(v,) for v in ys], ["v"])
    row = ks_2samp(a, b, "v", n_buckets=4).collect()[0]
    pooled = sorted(set(xs + ys))
    d = max(
        abs(
            sum(1 for x in xs if x <= v) / len(xs)
            - sum(1 for y in ys if y <= v) / len(ys)
        )
        for v in pooled
    )
    assert row.d_stat == round(d, 6)


# --- correlation matrix ---------------------------------------------------

def test_correlation_matrix_exact_pairs(spark):
    df = spark.createDataFrame(
        [(float(i), 2.0 * i + 1.0, float(-i), float(i * i)) for i in range(20)],
        ["a", "b", "c", "d"],
    )
    rows = {(r.col_x, r.col_y): r for r in correlation_matrix(df, ["a", "b", "c"]).collect()}
    assert set(rows) == {("a", "b"), ("a", "c"), ("b", "c")}
    assert rows[("a", "b")].r == 1.0  # perfectly linear
    assert rows[("a", "c")].r == -1.0
    assert all(r.n == 20 for r in rows.values())


def test_correlation_matrix_listwise_deletion(spark):
    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, None), (3.0, 3.0), (4.0, 4.0)], ["a", "b"]
    )
    row = correlation_matrix(df, ["a", "b"]).collect()[0]
    assert row.n == 3  # the null row dropped from every pair


# --- categorical association ---------------------------------------------

def test_categorical_association_independent(spark):
    # perfectly independent 2x2 with equal counts -> chi2 = 0, MI = 0
    data = [(x, y) for x in "AB" for y in "XY" for _ in range(25)]
    df = spark.createDataFrame(data, ["x", "y"])
    out = categorical_association(df, "x", "y").collect()
    assert len(out) == 4
    assert all(r.chi2 == 0.0 and r.mutual_info == 0.0 for r in out)
    assert all(r.exp_n == 25.0 for r in out)


def test_categorical_association_deterministic_dependence(spark):
    # y fully determined by x -> V = 1, MI = ln(2) for a uniform 2x2
    data = [("A", "X")] * 30 + [("B", "Y")] * 30
    df = spark.createDataFrame(data, ["x", "y"])
    out = categorical_association(df, "x", "y").collect()
    assert all(r.cramers_v == 1.0 for r in out)
    assert all(r.mutual_info == round(math.log(2.0), 6) for r in out)


# --- CUSUM ----------------------------------------------------------------

def _cusum_rows(spark, vals, **kw):
    df = spark.createDataFrame(
        [(1, i, float(v)) for i, v in enumerate(vals)], ["k", "t", "v"]
    )
    return cusum_changepoint(
        df, "k", "t", "v", tiebreak_col=None, **kw
    ).collect()[0]


def test_cusum_matches_recursion(spark):
    vals = [10, 100, 200, 5, 5, 300, 1, 400]
    target, slack, thr = 50.0, 5.0, 200.0
    s = smax = 0.0
    alarms = 0
    first = None
    prev = 0.0
    for i, v in enumerate(vals, 1):
        s = max(0.0, s + (v - target - slack))
        if prev < thr <= s:
            alarms += 1
            first = first or i
        smax = max(smax, s)
        prev = s
    row = _cusum_rows(spark, vals, target=target, slack=slack, threshold=thr)
    assert row.cusum_final == round(s, 6)
    assert row.cusum_max == round(smax, 6)
    assert row.n_alarms == alarms
    assert row.first_alarm_idx == first


def test_cusum_quiet_series_no_alarm(spark):
    row = _cusum_rows(
        spark, [50] * 20, target=50.0, slack=5.0, threshold=10.0
    )
    assert row.cusum_final == 0.0
    assert row.cusum_max == 0.0
    assert row.n_alarms == 0
    assert row.first_alarm_idx is None


# --- welch_ttest ----------------------------------------------------------

def test_welch_matches_closed_form(spark):
    xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
    ys = [2.0, 4.0, 6.0, 8.0]
    from stockpy_spark.operators.stats import welch_ttest

    a = spark.createDataFrame([(v,) for v in xs], ["v"])
    b = spark.createDataFrame([(v,) for v in ys], ["v"])
    row = welch_ttest(a, b, "v").collect()[0]
    import statistics

    m1, m2 = statistics.mean(xs), statistics.mean(ys)
    v1, v2 = statistics.variance(xs), statistics.variance(ys)
    se1, se2 = v1 / len(xs), v2 / len(ys)
    t = (m1 - m2) / math.sqrt(se1 + se2)
    dof = (se1 + se2) ** 2 / (
        se1**2 / (len(xs) - 1) + se2**2 / (len(ys) - 1)
    )
    assert row.n_ref == 6 and row.n_cur == 4
    assert row.t_stat == round(t, 6)
    assert row.df == round(dof, 6)


def test_welch_identical_means_zero_t(spark):
    from stockpy_spark.operators.stats import welch_ttest

    a = spark.createDataFrame([(float(i),) for i in range(10)], ["v"])
    row = welch_ttest(a, a, "v").collect()[0]
    assert row.t_stat == 0.0 and row.mean_ref == row.mean_cur


# --- mahalanobis_outliers_2d ----------------------------------------------

def test_mahalanobis_flags_off_ridge_point(spark):
    from stockpy_spark.operators.stats import mahalanobis_outliers_2d

    # tight y = x ridge plus one point far OFF the ridge but inside
    # both marginal ranges — the case per-column z-scores cannot catch
    pts = [(i, float(i), float(i) + (0.1 if i % 2 else -0.1)) for i in range(40)]
    pts.append((99, 20.0, 2.0))  # on neither tail marginally, off-ridge
    df = spark.createDataFrame(pts, ["id", "x", "y"])
    out = mahalanobis_outliers_2d(df, ["id"], "x", "y", threshold=9.0)
    ids = [r.id for r in out.collect()]
    assert ids == [99]


def test_mahalanobis_excludes_nulls(spark):
    from stockpy_spark.operators.stats import mahalanobis_outliers_2d

    df = spark.createDataFrame(
        [(1, 1.0, 1.0), (2, 2.0, None), (3, 3.0, 3.0), (4, 4.0, 4.2)],
        ["id", "x", "y"],
    )
    out = mahalanobis_outliers_2d(df, ["id"], "x", "y", threshold=0.0)
    assert sorted(r.id for r in out.collect()) == [1, 3, 4]


# --- categorical_entropy ----------------------------------------------------

def test_entropy_constant_and_uniform(spark):
    from stockpy_spark.operators.stats import categorical_entropy

    df = spark.createDataFrame(
        [("a", str(i % 4)) for i in range(80)], ["const_col", "uniform_col"]
    )
    rows = {r.col_name: r for r in categorical_entropy(df, ["const_col", "uniform_col"]).collect()}
    assert rows["const_col"].entropy == 0.0
    assert rows["const_col"].norm_entropy is None  # single category
    assert rows["uniform_col"].entropy == round(math.log(4.0), 6)
    assert rows["uniform_col"].norm_entropy == 1.0
    assert rows["uniform_col"].n_values == 80


def test_entropy_excludes_nulls(spark):
    from stockpy_spark.operators.stats import categorical_entropy

    df = spark.createDataFrame([("x",), (None,), ("x",)], ["c"])
    row = categorical_entropy(df, ["c"]).collect()[0]
    assert row.n_values == 2 and row.n_distinct == 1


# --- negative_pair_sample ---------------------------------------------------

def test_negative_pairs_deterministic_and_sane(spark):
    from stockpy_spark.operators.sampling import negative_pair_sample

    df = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
    out1 = sorted(
        (r.anchor_id, r.negative_id, r.neg_rank)
        for r in negative_pair_sample(df, "doc_id", k=3, n_shards=8).collect()
    )
    out2 = sorted(
        (r.anchor_id, r.negative_id, r.neg_rank)
        for r in negative_pair_sample(df, "doc_id", k=3, n_shards=8).collect()
    )
    assert out1 == out2  # rerun-stable
    assert all(a != n for a, n, _ in out1)  # never self-paired
    assert all(k in (1, 2, 3) for _, _, k in out1)
    # truncation loss is exactly k(k+1)/2 per shard (the last k rows
    # of a shard lose k, k-1, ..., 1 successors)
    assert len(out1) == 200 * 3 - 8 * (3 * 4 // 2)
    # per-anchor negatives are distinct
    from collections import defaultdict

    seen = defaultdict(set)
    for a, n, _ in out1:
        assert n not in seen[a]
        seen[a].add(n)


# --- key_skew_profile -------------------------------------------------------

def test_key_skew_profile_report(spark):
    from stockpy_spark.operators.quality import key_skew_profile

    rows = [("hot",)] * 60 + [("warm",)] * 30 + [("a",)] * 5 + [("b",)] * 5
    df = spark.createDataFrame(rows, ["k"])
    out = key_skew_profile(df, "k", top_k=2).collect()
    assert [r.key for r in out] == ["hot", "warm"]
    top = out[0]
    assert top.rank == 1 and top.n_rows == 60 and top.n_keys == 4
    assert top.share == 0.6
    assert top.mean_rows == 25.0
    assert top.skew_ratio == 2.4  # 60 / 25


def test_key_skew_counts_null_keys(spark):
    from stockpy_spark.operators.quality import key_skew_profile

    df = spark.createDataFrame(
        [(None,)] * 10 + [("x",)] * 3, ["k"]
    )
    out = key_skew_profile(df, "k", top_k=1).collect()
    assert out[0].key is None and out[0].n_rows == 10


# --- gini_by_group ----------------------------------------------------------

def test_gini_uniform_zero_concentrated_high(spark):
    from stockpy_spark.operators.stats import gini_by_group

    rows = [("u", 10.0, i) for i in range(50)]  # perfectly equal
    rows += [("c", 0.0, i) for i in range(49)] + [("c", 1000.0, 99)]
    df = spark.createDataFrame(rows, ["g", "x", "id"])
    out = {r.grp: r for r in gini_by_group(df, "g", "x", "id").collect()}
    assert out["u"].gini == 0.0
    # one holder of everything among n=50: G = (n-1)/n = 0.98
    assert out["c"].gini == 0.98
    assert out["c"].total == 1000.0


# --- top_movers -------------------------------------------------------------

def test_top_movers_includes_collapsed_keys(spark):
    from stockpy_spark.operators.aggregate import top_movers

    rows = [
        ("k1", 2020, 100.0), ("k1", 2021, 150.0),   # +50
        ("k2", 2020, 500.0),                          # collapses to 0: -500
        ("k3", 2021, 30.0),                           # appears: +30
        ("k4", 2020, 10.0), ("k4", 2021, 10.0),       # flat
        ("k5", 2019, 999.0),                          # out-of-period noise
    ]
    df = spark.createDataFrame(rows, ["k", "y", "m"])
    out = top_movers(
        df, "k", F.col("y"), 2020, 2021, "m", k=3
    ).collect()
    assert [(r.key, r.delta, r.rank) for r in out] == [
        ("k2", -500.0, 1),
        ("k1", 50.0, 2),
        ("k3", 30.0, 3),
    ]
    assert out[0].metric_a == 500.0 and out[0].metric_b == 0.0


# --- matched_controls -------------------------------------------------------

def test_matched_controls_nearest_below_with_caliper(spark):
    from stockpy_spark.operators.sampling import matched_controls

    ev = spark.createDataFrame(
        [(100, 50), (200, 7), (300, 500)], ["doc_id", "n"]
    )
    pool = spark.createDataFrame(
        [(1, 40), (2, 48), (3, 49), (4, 60), (5, 100)], ["doc_id", "n"]
    )
    out = {
        r.eval_id: (r.control_id, r.gap)
        for r in matched_controls(ev, pool, "doc_id", "n", 25.0).collect()
    }
    assert out[100] == (3, 1.0)       # nearest below 50 is 49
    assert out[200] == (None, None)   # nothing <= 7
    assert out[300] == (None, None)   # nearest below is 100: beyond caliper
    assert len(out) == 3              # unmatched rows kept


def test_matched_controls_tie_and_equal_value(spark):
    from stockpy_spark.operators.sampling import matched_controls

    ev = spark.createDataFrame([(9, 50)], ["doc_id", "n"])
    pool = spark.createDataFrame(
        [(1, 50), (2, 50), (3, 30)], ["doc_id", "n"]
    )
    row = matched_controls(ev, pool, "doc_id", "n", 25.0).collect()[0]
    # equal value eligible; tie resolves to the largest pool id
    assert row.control_id == 2 and row.gap == 0.0


def test_matched_controls_cross_bucket_boundary(spark):
    from stockpy_spark.operators.sampling import matched_controls

    # eval at 101 (bucket 4 with tol=25), pool at 99 (bucket 3): the
    # replication into the next bucket must carry it across
    ev = spark.createDataFrame([(7, 101)], ["doc_id", "n"])
    pool = spark.createDataFrame([(1, 99)], ["doc_id", "n"])
    row = matched_controls(ev, pool, "doc_id", "n", 25.0).collect()[0]
    assert row.control_id == 1 and row.gap == 2.0


# --- mixture_plan -----------------------------------------------------------

def test_mixture_plan_rates_and_caps(spark):
    from stockpy_spark.operators.sampling import mixture_plan

    df = spark.createDataFrame(
        [("a", 100), ("a", 100), ("b", 50), ("c", 1000)], ["dom", "sz"]
    )
    out = {
        r.domain: r
        for r in mixture_plan(
            df, "dom", {"a": 0.5, "b": 0.5, "missing": 0.0},
            budget_tokens=300.0, size_col="sz",
        ).collect()
    }
    assert out["a"].rate == 0.75 and out["a"].expected_tokens == 150.0
    assert out["b"].rate == 1.0 and out["b"].capped  # quota 150 > 50
    assert out["c"].rate == 0.0  # unweighted domain excluded
    assert out["missing"].available_tokens == 0.0
    assert not out["missing"].capped  # zero quota needs zero inventory


# --- merge_aggregate_state --------------------------------------------------

def test_merge_aggregate_state_equals_full_recompute(spark):
    from stockpy_spark.operators.timeseries import (
        continuous_aggregate,
        merge_aggregate_state,
    )
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, d, h), "t%d" % (d % 2), float(d * 10 + h))
        for d in range(1, 6)
        for h in (0, 7, 13, 23)
    ]
    df = spark.createDataFrame(rows, ["ts", "k", "v"])
    split = dt.datetime(2024, 1, 3, 12)  # mid-day: straddles a bucket
    hist = continuous_aggregate(
        df.filter(F.col("ts") < split), "ts", 86400, ["k"], "v"
    )
    batch = continuous_aggregate(
        df.filter(F.col("ts") >= split), "ts", 86400, ["k"], "v"
    )
    merged = {
        (r.bucket_start, r.k): (r.n, r.sum_v, r.min_v, r.max_v, r.sumsq_v)
        for r in merge_aggregate_state(
            hist, batch, ["bucket_start", "k"]
        ).collect()
    }
    full = {
        (r.bucket_start, r.k): (r.n, r.sum_v, r.min_v, r.max_v, r.sumsq_v)
        for r in continuous_aggregate(df, "ts", 86400, ["k"], "v").collect()
    }
    assert merged == full
    # sanity: the split really did straddle at least one (bucket, key)
    h_keys = {(r.bucket_start, r.k) for r in hist.collect()}
    b_keys = {(r.bucket_start, r.k) for r in batch.collect()}
    assert h_keys & b_keys


# --- extract_audio_dsp ------------------------------------------------------

def test_audio_dsp_matches_numpy_reference(spark):
    import numpy as np

    from stockpy_spark.operators.multimodal import (
        _fake_samples,
        attach_wav_payload,
        extract_audio_dsp,
    )

    docs = spark.createDataFrame([(i,) for i in (3, 17, 40)], ["doc_id"])
    out = {
        r.doc_id: r
        for r in extract_audio_dsp(
            attach_wav_payload(docs, "doc_id")
        ).collect()
    }
    for i in (3, 17, 40):
        s = _fake_samples(i).astype(np.int64)
        nonneg = s >= 0
        assert out[i].zero_crossings == int((nonneg[1:] != nonneg[:-1]).sum())
        assert out[i].peak_amp == int(np.abs(s).max())
        energies = [
            int((s[j : j + 16] ** 2).sum()) for j in range(0, len(s), 16)
        ]
        assert out[i].n_frames == len(energies)
        assert out[i].max_frame_energy == max(energies)
        assert out[i].loudest_frame == energies.index(max(energies))


# --- train_bpe_merges -------------------------------------------------------

def _bpe_reference(texts, n_merges, min_count=2, sep="\x1e"):
    """Pure-Python BPE trainer mirroring the operator's conventions."""
    corpus = []
    for t in texts:
        for tok in t.lower().split():
            corpus.append(list(tok))
    merges = []
    for _ in range(n_merges):
        counts = {}
        for syms in corpus:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + 1
        if not counts:
            break
        # max count, then lexicographically smallest (a, b)
        (a, b), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if n < min_count:
            break
        merges.append((a, b, n))
        merged = a + sep + b
        out = []
        for syms in corpus:
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    res.append(merged)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            out.append(res)
        corpus = out
    return [
        (r + 1, a.replace(sep, ""), b.replace(sep, ""), n)
        for r, (a, b, n) in enumerate(merges)
    ]


def test_bpe_matches_reference_trainer(spark):
    from stockpy_spark.operators.bpe import train_bpe_merges

    texts = [
        "the cat sat on the mat",
        "the bat and the cat chat",
        "that hat is flat",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = [
        (r.rank, r.left, r.right, r.pair_count)
        for r in train_bpe_merges(df, "text", "doc_id", n_merges=6)
            .orderBy("rank").collect()
    ]
    assert got == _bpe_reference(texts, 6)
    # the corpus is 'at'-heavy: the first merge must be (a, t)
    assert got[0][1:3] == ("a", "t")


def test_bpe_greedy_nonoverlap_and_early_stop(spark):
    from stockpy_spark.operators.bpe import train_bpe_merges

    # "aaaa": greedy left-to-right gives two 'aa' per word, no overlap
    df = spark.createDataFrame([(1, "aaaa aaaa")], ["doc_id", "text"])
    got = [
        (r.rank, r.left, r.right, r.pair_count)
        for r in train_bpe_merges(df, "text", "doc_id", n_merges=10)
            .orderBy("rank").collect()
    ]
    assert got == _bpe_reference(["aaaa aaaa"], 10)
    assert got[0] == (1, "a", "a", 6)      # 3 adjacent pairs x 2 words
    assert got[1] == (2, "aa", "aa", 2)    # then the merged pair
    assert len(got) < 10                   # early stop when below min_count


# --- PCA --------------------------------------------------------------------

def test_pca_matches_numpy_reference(spark):
    import numpy as np

    from stockpy_spark.operators.pca import pca_fit, pca_project

    rng = np.random.RandomState(7)
    # anisotropic 6-d cloud with a dominant direction
    base = rng.randn(300, 6) * np.array([5.0, 2.0, 1.0, 0.5, 0.2, 0.1])
    rows = [(i, base[i].astype("float32").tolist()) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    model = pca_fit(df, "embedding", k=3)
    X = np.stack([np.array(r[1], dtype=np.float64) for r in rows])
    cov = np.cov(X, rowvar=False, ddof=1)
    evals = np.sort(np.linalg.eigvalsh(cov))[::-1][:3]
    assert np.allclose(model["eigenvalues"], evals, rtol=1e-8)
    assert np.allclose(
        model["components"] @ model["components"].T, np.eye(3), atol=1e-8
    )
    # projection variance per component == eigenvalue
    proj = pca_project(df, "embedding", "vec_id", model, dp=12)
    P = np.array(
        [r.proj for r in proj.orderBy("id").collect()], dtype=np.float64
    )
    assert np.allclose(P.var(axis=0, ddof=1), evals, rtol=1e-6)
    # projection equals the numpy projection up to rounding
    ref = (X - X.mean(axis=0)) @ model["components"].T
    assert np.allclose(P, np.round(ref, 12), atol=1e-9)


def test_pca_gate_all_green(spark):
    from stockpy_spark.operators.pca import pca_gate

    import numpy as np

    rng = np.random.RandomState(3)
    rows = [
        (i, (rng.randn(8) * (np.arange(8) + 1.0)).astype("float32").tolist())
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    out = pca_gate(df, "embedding", "vec_id", k=2).collect()
    assert len(out) == 2
    assert all(r.var_match_ok and r.ortho_ok for r in out)


def test_bpe_apply_matches_reference_encode(spark):
    from stockpy_spark.operators.bpe import apply_bpe_merges

    texts = ["the cat in the hat", "a thin band and another thing"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    table = [("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d")]
    got = sorted(
        (r.doc, r.sym)
        for r in apply_bpe_merges(df, "text", "doc_id", table).collect()
    )
    # reference: greedy left-to-right replace chain with placeholders
    reps = [("th", "\x01"), ("\x01e", "\x02"), ("in", "\x03"),
            ("an", "\x04"), ("\x04d", "\x05")]
    disp = {"\x01": "th", "\x02": "the", "\x03": "in",
            "\x04": "an", "\x05": "and"}
    want = []
    for i, t in enumerate(texts):
        for tok in t.lower().split():
            for pat, ph in reps:
                tok = tok.replace(pat, ph)
            for ch in tok:
                want.append((i, disp.get(ch, ch)))
    assert got == sorted(want)


def test_bpe_apply_rejects_unknown_operand(spark):
    from stockpy_spark.operators.bpe import apply_bpe_merges

    df = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="neither a base character"):
        apply_bpe_merges(df, "text", "doc_id", [("ab", "c")])


def test_psi_constant_reference_degenerate(spark):
    from stockpy_spark.operators.drift import population_stability_index

    ref = spark.createDataFrame([(5.0,)] * 100, ["v"])
    cur = spark.createDataFrame([(5.0,)] * 50 + [(9.0,)] * 50, ["v"])
    out = {r.bin: r for r in population_stability_index(ref, cur, "v").collect()}
    # constant ref: all ref mass in bin 0; moved current mass clamps
    # to the top bin (out-of-range-above), none of it NaN/NULL-binned
    assert out[0].n_ref == 100 and out[0].n_cur == 50
    assert out[9].n_cur == 50 and out[9].n_ref == 0
    assert all(r.psi is not None for r in out.values())


# --- price_volume_decomposition ---------------------------------------------

def test_price_volume_reconciles_and_handles_one_sided(spark):
    from stockpy_spark.operators.aggregate import price_volume_decomposition

    rows = [
        # dim "x": 10 units @ 2.0 -> 12 units @ 2.5
        ("x", 2020, 10.0, 20.0), ("x", 2021, 12.0, 30.0),
        # dim "new": appears only in period B
        ("new", 2021, 5.0, 50.0),
        # dim "gone": only in period A
        ("gone", 2020, 4.0, 8.0),
    ]
    df = spark.createDataFrame(rows, ["d", "y", "q", "r"])
    out = {
        r.dim: r
        for r in price_volume_decomposition(
            df, "d", F.col("y"), 2020, 2021, "q", "r"
        ).collect()
    }
    x = out["x"]
    assert x.delta == 10.0
    assert x.volume_effect == 4.0      # (12-10) * 2.0
    assert x.price_effect == 6.0       # 12 * (2.5 - 2.0)
    assert round(x.volume_effect + x.price_effect, 2) == x.delta
    assert out["new"].volume_effect == 50.0 and out["new"].price_effect == 0.0
    assert out["gone"].volume_effect == -8.0 and out["gone"].price_effect == 0.0


def test_bpe_arrow_kernel_equals_fold(spark):
    from stockpy_spark.operators.bpe import (
        apply_bpe_merges,
        apply_bpe_merges_arrow,
    )

    texts = [
        "the cat in the hat sat there",
        "a thin band and another thing banana",
        "",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    table = [("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
             ("n", "a")]
    fold = sorted(
        (r.doc, r.sym)
        for r in apply_bpe_merges(df, "text", "doc_id", table).collect()
    )
    arrow = sorted(
        (r.doc, r.sym)
        for r in apply_bpe_merges_arrow(df, "text", "doc_id", table).collect()
    )
    assert fold == arrow and len(fold) > 0


def test_matched_controls_string_pool_ids(spark):
    """Pool ids keep their native type: string/UUID ids must survive
    (a silent long-cast would NULL them all) and the tie-break is the
    string's own lexicographic ordering (round-7 promise)."""
    from stockpy_spark.operators.sampling import matched_controls

    ev = spark.createDataFrame([("e-1", 50), ("e-2", 7)], ["doc_id", "n"])
    pool = spark.createDataFrame(
        [("aa-40", 40), ("uuid-49", 49), ("zz-49", 49), ("big-100", 100)],
        ["doc_id", "n"],
    )
    out = {
        r.eval_id: (r.control_id, r.gap)
        for r in matched_controls(ev, pool, "doc_id", "n", 25.0).collect()
    }
    # nearest below 50 is 49; the 49-tie resolves to the LEXICOGRAPHIC
    # max id ("zz-49" > "uuid-49")
    assert out["e-1"] == ("zz-49", 1.0)
    assert out["e-2"] == (None, None)


def test_group_train_test_split_no_straddle(spark):
    """Leakage guard (round 9): every member of a group gets the SAME
    split, assignment is deterministic across reruns, and singleton
    groups follow their representative's bucket."""
    from stockpy_spark.operators.sampling import group_train_test_split

    rows = [(i, f"g{i % 7}") for i in range(200)] + [(900, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    out = group_train_test_split(df, "doc_id", "grp", 0.5)
    per_group = {}
    for r in out.collect():
        per_group.setdefault(r.grp, set()).add(r.split)
    assert all(len(s) == 1 for s in per_group.values()), per_group
    assert out.count() == 201
    # deterministic: a second run assigns identically
    again = {r.doc_id: r.split for r in
             group_train_test_split(df, "doc_id", "grp", 0.5).collect()}
    first = {r.doc_id: r.split for r in out.collect()}
    assert first == again
    # both splits actually occur at fraction 0.5 over 8 groups
    assert {s for ss in per_group.values() for s in ss} == {"test", "train"}


def test_group_train_test_split_null_group_preserved(spark):
    """NULL group keys are one shared group, not silently dropped rows:
    row count is preserved (null-safe back-join) and every NULL-keyed
    row lands on the same side together."""
    from stockpy_spark.operators.sampling import group_train_test_split

    rows = [(1, "a"), (2, "a"), (3, None), (4, None), (5, "b")]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    out = group_train_test_split(df, "doc_id", "grp", 0.5)
    got = {r.doc_id: (r.grp, r.split) for r in out.collect()}
    assert set(got) == {1, 2, 3, 4, 5}  # no row lost
    assert got[3][0] is None and got[4][0] is None
    assert got[3][1] == got[4][1]  # NULL group moves as one unit


def test_dp_noisy_counts_reproducible_and_calibrated(spark):
    """Laplace-mechanism histogram release (round 9): same data ->
    identical release (hash-seeded draws); noise magnitude tracks the
    1/epsilon scale (empirical mean |noise| over 200 groups within 25%
    of the Laplace mean b = 1/eps); exact counts preserved alongside;
    epsilon <= 0 rejected."""
    import pytest

    from stockpy_spark.operators.privacy import dp_noisy_counts

    df = spark.range(2000).select(
        (F.col("id") % 200).cast("string").alias("g")
    )
    r1 = {r.g: r for r in dp_noisy_counts(df, ["g"], epsilon=1.0).collect()}
    r2 = {r.g: r for r in dp_noisy_counts(df, ["g"], epsilon=1.0).collect()}
    assert all(r1[g].n_noisy == r2[g].n_noisy for g in r1)   # replayable
    assert all(r.n_true == 10 for r in r1.values())          # exact base
    assert any(r.noise != 0.0 for r in r1.values())
    mean_abs = sum(abs(r.noise) for r in r1.values()) / len(r1)
    assert 0.75 < mean_abs < 1.25, mean_abs                  # b = 1/eps = 1
    wide = dp_noisy_counts(df, ["g"], epsilon=0.1).collect() # b = 10
    mean_abs_wide = sum(abs(r.noise) for r in wide) / len(wide)
    assert 7.5 < mean_abs_wide < 12.5, mean_abs_wide
    with pytest.raises(ValueError, match="epsilon"):
        dp_noisy_counts(df, ["g"], epsilon=0.0)


def test_stats_shelf_degenerate_inputs_null_not_crash(spark):
    """Round-11 degenerate sweep: Spark's ANSI mode (default on)
    throws DIVIDE_BY_ZERO even for double division, so a constant
    column (zero variance), a 1-row sample (n-1 = 0), a perfectly
    correlated pair (1 - r^2 = 0), or a 1x1 contingency table used to
    CRASH four stats operators. Undefined statistics now surface NULL
    (try_divide); everything defined in the same row stays computed."""
    from pyspark.sql import functions as F

    from stockpy_spark.operators.stats import (
        categorical_association,
        correlation_matrix,
        mahalanobis_outliers_2d,
        welch_ttest,
    )

    const = spark.createDataFrame(
        [(i, 5.0, 5.0, "A") for i in range(6)],
        "id long, x double, y double, g string",
    )
    one = spark.createDataFrame(
        [(1, 5.0, 7.0, "A")], "id long, x double, y double, g string"
    )
    perf = spark.createDataFrame(
        [(i, float(i), 2.0 * i + 1.0, "A") for i in range(6)],
        "id long, x double, y double, g string",
    )

    r = correlation_matrix(const, ["x", "y"]).collect()[0]
    assert r["n"] == 6 and r["r"] is None

    t = welch_ttest(
        const.select("x"), const.select(F.col("y").alias("x")), "x"
    ).collect()[0]
    assert (t["mean_ref"], t["mean_cur"]) == (5.0, 5.0)
    assert t["t_stat"] is None and t["df"] is None
    t1 = welch_ttest(
        one.select("x"), one.select(F.col("y").alias("x")), "x"
    ).collect()[0]
    assert t1["t_stat"] is None  # no sample variance from n=1

    # degenerate covariance: the ellipse is a point/line — md2 is
    # undefined for every row, so nothing is flaggable
    for frame in (const, perf, one):
        assert (
            mahalanobis_outliers_2d(frame, ["id"], "x", "y", 13.8).count()
            == 0
        )

    c = categorical_association(const, "g", "g").collect()[0]
    assert c["cramers_v"] is None and c["chi2"] == 0.0


def test_drift_and_gini_degenerate_inputs_null_not_crash(spark):
    """Round-11 degenerate sweep, part 2: an EMPTY drift side (no
    data arrived in the monitoring window) and an all-zero gini group
    used to crash under ANSI DIVIDE_BY_ZERO. Undefined stats now
    surface NULL — and PSI must NOT silently floor a missing side at
    EPS (that would fabricate a huge drift score out of no data)."""
    from pyspark.sql import functions as F

    from stockpy_spark.operators.drift import (
        ks_2samp,
        population_stability_index,
    )
    from stockpy_spark.operators.stats import gini_by_group

    ref = spark.createDataFrame([(float(i),) for i in range(8)], "v double")
    empty = ref.where("v < 0")
    psi = population_stability_index(ref, empty, "v").collect()
    assert all(r["p_ref"] is not None for r in psi)
    assert all(
        r["p_cur"] is None and r["psi_term"] is None and r["psi"] is None
        for r in psi
    )
    ks = ks_2samp(ref, empty, "v").collect()[0]
    assert ks["n_cur"] == 0 and ks["d_stat"] is None

    zeros = spark.createDataFrame([("A", 0.0), ("A", 0.0)], "g string, x double")
    g = gini_by_group(zeros, "g", "x").collect()[0]
    assert g["total"] == 0.0 and g["gini"] is None
