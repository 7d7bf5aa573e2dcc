"""Tests for dedup + similarity extensions: semantics on hand-built
frames (known duplicates, known neighbors) and ANN recall vs brute force
on real testdata."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stockpy_spark.operators.dedup import (
    minhash_dedup_assign,
    embedding_cosine_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    simhash_fingerprints,
    simhash_pairs,
    word_jaccard_pairs,
)
from stockpy_spark.operators.similarity import ann_lsh_topk, brute_force_topk


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "The  quick brown fox jumps over the lazy dog "),  # ws/case dup of 1
            (3, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
            (4, "completely different content about spark engines"),
        ],
        "doc_id long, text string",
    )


def test_exact_dedup_normalized(spark):
    out = exact_dedup(_docs(spark), "text", "doc_id")
    assert {r.doc_id for r in out.collect()} == {1, 3, 4}  # 2 collapses into 1


def test_word_jaccard_finds_near_dup(spark):
    pairs = {(r.d1, r.d2): r.jaccard for r in
             word_jaccard_pairs(_docs(spark), "text", "doc_id", 0.5).collect()}
    assert pairs[(1, 2)] == 1.0  # identical token sets
    assert 0.7 < pairs[(1, 3)] < 1.0  # 8/10 shared tokens
    assert (1, 4) not in pairs


def test_minhash_lsh_catches_exact_and_near(spark):
    pairs = {(r.d1, r.d2): r.est_jaccard for r in
             minhash_lsh_pairs(_docs(spark), "text", "doc_id", 12, 6).collect()}
    assert pairs[(1, 2)] == 1.0  # identical sets -> identical signatures
    assert (1, 3) in pairs  # near-dup collides in >=1 of 6 bands
    assert (1, 4) not in pairs and (2, 4) not in pairs and (3, 4) not in pairs


def test_minhash_xxhash64_kernel_recall_and_admit_parity(spark):
    """r12 task: the production hash kernel (hash_fn='xxhash64',
    _hash_kernel — the r11-measured 3x on the signature narrow stage)
    must preserve the LSH structure end-to-end: planted exact dups and
    near-dups are caught identically to the md5 kernel by both the
    pair enumerator and the full admission filter, and key-set schemas
    are type-stable across kernels (STRING fps/bsig both ways)."""
    from stockpy_spark.operators.dedup import (
        corpus_dedup_keys,
        incremental_dedup_admit,
    )

    docs = _docs(spark)
    pairs = {
        (r.d1, r.d2): r.est_jaccard
        for r in minhash_lsh_pairs(
            docs, "text", "doc_id", 12, 6, hash_fn="xxhash64"
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0       # identical token sets
    assert (1, 3) in pairs            # near-dup still collides
    assert (1, 4) not in pairs and (3, 4) not in pairs

    assign = {
        r.doc_id: r.keeper_id
        for r in minhash_dedup_assign(
            docs, "text", "doc_id", 12, 6, hash_fn="xxhash64"
        ).collect()
    }
    assert assign[2] == 1 and assign[4] == 4

    # full admission filter: same admitted set under either kernel
    corpus = spark.createDataFrame(
        [(100, "standing corpus document about oceans")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (11, "standing corpus document about oceans"),   # exact dup
            (12, "oceans about document corpus standing"),   # LSH dup
            (13, "a genuinely new arrival"),
            (14, "a genuinely new arrival"),                 # in-batch dup
        ],
        "doc_id long, text string",
    )
    for kern in ("md5", "xxhash64"):
        got = sorted(
            r.doc_id
            for r in incremental_dedup_admit(
                batch, corpus, "text", "doc_id", hash_fn=kern
            ).collect()
        )
        assert got == [13], (kern, got)

    # type-stable key sets: STRING fps and bsig under both kernels
    for kern in ("md5", "xxhash64"):
        fps, keys = corpus_dedup_keys(
            corpus, "text", "doc_id", hash_fn=kern
        )
        assert dict(fps.dtypes)["__fp"] == "string"
        assert dict(keys.dtypes)["bsig"] == "string"

    import pytest

    with pytest.raises(ValueError, match="hash_fn"):
        minhash_lsh_pairs(docs, "text", "doc_id", hash_fn="sha1")


def test_simhash_near_dup_distance(spark):
    fps = {r.doc_id: r.simhash for r in
           simhash_fingerprints(_docs(spark), "text", "doc_id").collect()}
    assert fps[1] == fps[2]  # identical token sets -> identical fingerprint
    ham_13 = bin(fps[1] ^ fps[3]).count("1")
    ham_14 = bin(fps[1] ^ fps[4]).count("1")
    assert ham_13 < ham_14  # near-dup closer than unrelated

    # 3 is the 4-byte pigeonhole's lossless bound (ham_13 is 6 here)
    pairs = {(r.d1, r.d2) for r in
             simhash_pairs(_docs(spark), "text", "doc_id", max_hamming=3).collect()}
    assert (1, 2) in pairs
    assert pairs == {
        (a, b) for a in fps for b in fps
        if a < b and bin(fps[a] ^ fps[b]).count("1") <= 3
    }


def test_embedding_cosine_pairs(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0]),  # ~parallel to 1
            (3, [0.0, 1.0, 0.0]),  # orthogonal
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = {(r.id1, r.id2) for r in
             embedding_cosine_pairs(df, "embedding", "vec_id", 0.95).collect()}
    assert pairs == {(1, 2)}


def test_ann_recall_vs_brute_force(spark):
    """ANN (8 planes, hamming-3 probe) must reach >=40% recall@10 on the
    real sf0.001 embeddings. These vectors are WEAKLY clustered (best
    cosine ~0.5 -> ~60deg angles -> ~1/3 bit-flip probability per plane),
    which is the hard case for hyperplane LSH; on actual near-dup
    embeddings (cosine>=0.9, flip prob ~0.14) the same config recalls
    ~all. The tunables trade recall for candidate volume."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    exact = brute_force_topk(emb, queries, "embedding", "vec_id", k=10)
    approx = ann_lsh_topk(emb, queries, "embedding", "vec_id", k=10, dim=64,
                          n_planes=8, probe_hamming=3)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.4, f"ANN recall too low: {recall}"


def test_brute_force_topk_self_excluded_and_ranked(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    out = brute_force_topk(df, df.filter("vec_id = 1"), "embedding", "vec_id", k=2)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert [r.neighbor_id for r in rows] == [2, 3]
    assert all(r.query_id == 1 for r in rows)


def test_minhash_assign_keeper_and_propagation(spark):
    out = {r.doc_id: (r.keeper_id, r.is_dup) for r in
           minhash_dedup_assign(_docs(spark), "text", "doc_id", 12, 6).collect()}
    assert out[1] == (1, False)  # cluster representative keeps itself
    assert out[2] == (1, True)  # exact dup assigned to keeper 1
    assert out[3] == (1, True)  # near-dup shares >=1 band with 1
    assert out[4] == (4, False)  # unrelated doc is its own keeper


def test_minhash_assign_iterations_converge_chain(spark):
    # a->b and b->c near-dups but a,c unrelated enough to miss each other:
    # one iteration leaves c labeled via b only if they share a bucket;
    # a second iteration must pull the whole chain to min(label).
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            (3, "alpha beta gamma delta epsilon zeta kappa iota"),
        ],
        "doc_id long, text string",
    )
    two = {r.doc_id: r.keeper_id for r in
           minhash_dedup_assign(docs, "text", "doc_id", 12, 12, iterations=3).collect()}
    # with per-hash bands (bands=12) any shared-minhash pair links, and
    # 3 iterations propagate the chain to a single cluster
    assert set(two.values()) == {1}


def test_ivf_recall_vs_brute_force(spark):
    """IVF (16 cells, probe 4) must beat random-scan recall by a wide
    margin on real embeddings: probing 25% of the corpus should recover
    well over 25% of true neighbors when clusters exist, and the
    centroid/assignment path must be deterministic across runs."""
    from stockpy_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, "embedding", "vec_id", k=10)
    approx = ivf_topk(emb, queries, "embedding", "vec_id", k=10,
                      n_centroids=16, n_probe=4)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.4, f"IVF recall too low: {recall}"
    rerun = {(r.query_id, r.neighbor_id) for r in
             ivf_topk(emb, queries, "embedding", "vec_id", k=10,
                      n_centroids=16, n_probe=4).collect()}
    assert rerun == approx_set  # deterministic


def test_embedding_lsh_neardup_matches_brute_force_high_threshold(spark):
    """At cosine>=0.9 hyperplane blocking must recover most true pairs
    (flip probability per plane ~ acos(0.9)/pi ~ 0.14; with 3 bands of
    4 planes, P(miss) = (1-0.86^4)^3 ~ 0.1)."""
    from stockpy_spark.operators.dedup import (
        embedding_cosine_pairs,
        embedding_neardup_lsh,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r.id1, r.id2) for r in
             embedding_cosine_pairs(emb, "embedding", "vec_id", 0.9).collect()}
    approx = {(r.id1, r.id2) for r in
              embedding_neardup_lsh(emb, "embedding", "vec_id", 0.9, dim=64).collect()}
    assert approx <= exact  # verify stage guarantees no false positives
    if exact:
        assert len(approx) / len(exact) >= 0.5


def test_tfidf_textbook_values(spark):
    from stockpy_spark.operators.textstats import tfidf_terms, top_terms_per_doc
    import math

    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "cherry durian")],
        "doc_id long, text string",
    )
    out = {(r.doc, r.term): (r.tf, r.df, r.tfidf) for r in
           tfidf_terms(docs, "text", "doc_id").collect()}
    assert out[(1, "apple")] == (2, 1, round(2 * math.log(3 / 1), 6))
    assert out[(1, "banana")] == (1, 2, round(math.log(3 / 2), 6))
    top = top_terms_per_doc(docs, "text", "doc_id", 1).collect()
    assert {(r.doc, r.term) for r in top} == {(1, "apple"), (2, "banana"), (3, "durian")}


def _hamming_join(spark, sf_dir, name):
    """(n_blocks, pairs(max_hamming), fingerprint words) of one blocked
    hamming join over the test-scale documents."""
    from stockpy_spark.operators.dedup import (
        simhash64_fingerprints,
        simhash64_pairs,
    )
    from stockpy_spark.operators.imagehash import ahash_near_pairs, perceptual_ahash
    from stockpy_spark.operators.multimodal import attach_bmp_payload

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if name == "simhash32":
        fps = simhash_fingerprints(docs, "text", "doc_id")
        return 4, lambda h: simhash_pairs(docs, "text", "doc_id", h), fps
    if name == "simhash64":
        fps = simhash64_fingerprints(docs, "text", "doc_id")
        return 8, lambda h: simhash64_pairs(docs, "text", "doc_id", h), fps
    hashes = perceptual_ahash(attach_bmp_payload(docs.select("doc_id"), "doc_id"))
    return 4, lambda h: ahash_near_pairs(hashes, h), hashes


@pytest.mark.parametrize("name", ["simhash32", "simhash64", "ahash"])
def test_hamming_join_blocked_equals_bruteforce(spark, sf_dir, name):
    """Each block pigeonhole (dedup.hamming_pairs) is lossless at its
    bound, max_hamming = n_blocks - 1: blocked pairs == a pure-Python
    all-pairs scan over the same fingerprint words. One more bit would
    let a pair differ in every block, so that raises instead."""
    n_blocks, pairs, fps = _hamming_join(spark, sf_dir, name)
    bound = n_blocks - 1
    rows = pairs(bound).collect()
    blocked = {(r.d1, r.d2, r.hamming) for r in rows}
    assert len(blocked) == len(rows)  # each pair once
    words = sorted(tuple(r) for r in fps.collect())
    # fingerprint words stay unsigned and at most 32 bits (portability)
    assert all(0 <= w < 2**32 for row in words for w in row[1:])
    brute = set()
    for i, (a, *wa) in enumerate(words):
        for b, *wb in words[i + 1 :]:
            ham = sum(bin(x ^ y).count("1") for x, y in zip(wa, wb))
            if ham <= bound:
                brute.add((a, b, ham))
    assert blocked == brute and len(blocked) > 0
    with pytest.raises(ValueError, match="pigeonhole"):
        pairs(n_blocks)


def test_embedding_lsh_matches_python_reference(spark, sf_dir):
    """embedding_neardup_lsh == a pure-Python replay of its contract:
    pairs sharing any band sub-signature (signatures collected from
    Spark), verified by cosine rounded half-up to 6 places >= t."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from stockpy_spark.operators.dedup import embedding_neardup_lsh
    from stockpy_spark.operators.similarity import _hyperplane_signature

    t, n_planes, bands = 0.4, 12, 3
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = embedding_neardup_lsh(
        emb, "embedding", "vec_id", t, dim=64, n_planes=n_planes, bands=bands
    ).collect()
    got = {(r.id1, r.id2, r.cosine) for r in out}
    assert len(got) == len(out)  # each pair once
    rows = emb.select(
        "vec_id",
        "embedding",
        _hyperplane_signature(F.col("embedding"), 64, n_planes).alias("sig"),
    ).collect()
    width = n_planes // bands
    buckets = {}
    for r in rows:
        for b in range(bands):
            key = (b, (r.sig >> (b * width)) & ((1 << width) - 1))
            buckets.setdefault(key, []).append(r.vec_id)
    cand = {
        (min(x, y), max(x, y))
        for ids in buckets.values()
        for x in ids
        for y in ids
        if x != y
    }
    vec = {r.vec_id: [float(x) for x in r.embedding] for r in rows}

    def fold(xs):
        acc = 0.0
        for x in xs:
            acc += x
        return acc

    want = set()
    for a, b in cand:
        va, vb = vec[a], vec[b]
        den = math.sqrt(fold(x * x for x in va)) * math.sqrt(fold(x * x for x in vb))
        if den == 0.0:
            continue
        cos = fold(x * y for x, y in zip(va, vb)) / den
        cos = float(Decimal(repr(cos)).quantize(Decimal("1e-6"), ROUND_HALF_UP))
        if cos >= t:
            want.add((a, b, cos))
    assert got == want and len(got) > 0


def test_semantic_dedup_prunes_within_cluster_only(spark):
    """Min-id pruning fires only against CLUSTER-mates: two near-identical
    vectors in the same cluster keep the lower id; a near-identical pair
    split across clusters is never compared (the SemDeDup blocking
    semantics, documented over-prune trade included)."""
    from stockpy_spark.operators.similarity import semantic_dedup

    # two tight groups on orthogonal axes; ids 0,1 nearly parallel
    # (cos ~1) and 10,11 nearly parallel; k=2 seeds = ids 0,1 -> the
    # one Lloyd pass pulls cluster 1's centroid toward the y-axis group
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),
        (10, [0.0, 1.0, 0.0, 0.0]),
        (11, [0.0, 0.999, 0.01, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, "embedding", "vec_id", k=2, threshold=0.9)
    kept = {r.vec_id for r in out.collect()}
    # each near-parallel pair collapses to its min id
    assert 0 in kept and 10 in kept
    assert 1 not in kept and 11 not in kept

    # high threshold keeps everything
    out_all = semantic_dedup(df, "embedding", "vec_id", k=2, threshold=0.9999999)
    assert {r.vec_id for r in out_all.collect()} == {0, 1, 10, 11}


def test_kmeans_and_semdedup_arrow_parity(spark):
    """The Arrow kernels are drop-ins: identical assignment table and
    identical survivor set on the real embeddings fixture (the PQ/BPE
    bit-parity convention — kernel is the fast path, expressions are
    the spec)."""
    from stockpy_spark.operators.similarity import (
        kmeans_assign,
        kmeans_assign_arrow,
        semantic_dedup,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = {(r.vec_id, r.cid, r.sim)
         for r in kmeans_assign(emb, "embedding", "vec_id", k=8).collect()}
    b = {(r.vec_id, r.cid, r.sim)
         for r in kmeans_assign_arrow(emb, "embedding", "vec_id", k=8).collect()}
    assert a == b and len(a) > 0

    s_expr = {(r.vec_id, r.cid, r.sim) for r in semantic_dedup(
        emb, "embedding", "vec_id", k=8, threshold=0.4).collect()}
    s_arrow = {(r.vec_id, r.cid, r.sim) for r in semantic_dedup(
        emb, "embedding", "vec_id", k=8, threshold=0.4, engine="arrow").collect()}
    assert s_expr == s_arrow and 0 < len(s_expr) <= len(a)


def test_temporal_dedup_chained_burst_semantics(spark):
    """The chain rule: a long storm of closely-spaced events is ONE
    burst (each event within tolerance of its predecessor), even when
    it spans many tolerance windows end-to-end; a gap > tolerance opens
    a new burst; different keys never interact."""
    from datetime import datetime, timedelta

    from stockpy_spark.operators.dedup import temporal_dedup_first

    t0 = datetime(2024, 1, 1)
    rows = []
    # storm: 10 events 2s apart (18s span > 5s tolerance end-to-end)
    for i in range(10):
        rows.append((i, "u1", "click", t0 + timedelta(seconds=2 * i)))
    # new burst 100s later
    rows.append((20, "u1", "click", t0 + timedelta(seconds=120)))
    # other key at the same instants: its own burst
    rows.append((30, "u2", "click", t0))
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, event_type string, ts timestamp"
    )
    kept = temporal_dedup_first(
        df, ["user_id", "event_type"], "ts", 5, "event_id"
    )
    assert sorted(r.event_id for r in kept.collect()) == [0, 20, 30]


def test_duplicated_span_coverage_hand_computed(spark):
    """Pins the interval-union arithmetic of duplicated_span_coverage
    (n=3, hand-computed): overlapping spans never double-count,
    disjoint repeats sum, an exactly-n fully-duplicated doc scores 1.0,
    short/empty/all-unique docs score 0.0 — and EVERY input doc gets a
    row regardless."""
    from stockpy_spark.operators.dedup import duplicated_span_coverage

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),          # grams "a b c","b c d" dup -> [0,4)
            (2, "a b c d x y"),          # same two dup grams -> [0,4)
            (3, "a b c"),                # exactly n tokens, gram dup -> 1.0
            (4, "p q"),                  # shorter than n -> 0.0
            (5, ""),                     # empty -> n_tokens 0, 0.0
            (6, "u v w z1 z2"),          # all grams unique -> 0.0
            (7, "a b c q r s a b c"),    # disjoint repeats [0,3)+[6,9)
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_tokens, r.covered_tokens, r.dup_coverage)
        for r in duplicated_span_coverage(docs, "text", "doc_id", n=3).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5, 6, 7}  # every doc gets a row
    # overlapping spans [0,3) and [1,4) union to 4 tokens, not 6
    assert out[1] == (6, 4, round(4 / 6, 6))
    assert out[2] == (6, 4, round(4 / 6, 6))
    assert out[3] == (3, 3, 1.0)               # exact-n doc fully covered
    assert out[4] == (2, 0, 0.0)               # shorter than n
    assert out[5] == (0, 0, 0.0)               # empty doc
    assert out[6] == (5, 0, 0.0)               # no duplicated gram
    # disjoint spans with a gap sum: [0,3) + [6,9) = 6 of 9
    assert out[7] == (9, 6, round(6 / 9, 6))


def test_remove_duplicated_spans_hand_computed(spark):
    """Pins the span-REMOVAL intervention (n=3, same corpus as the
    meter test): covered intervals are cut and survivors reassembled
    in order; untouched/short/empty docs pass through; a fully-covered
    doc empties; counts complement the meter's covered_tokens."""
    from stockpy_spark.operators.dedup import remove_duplicated_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c d x y"),
            (3, "a b c"),
            (4, "p q"),
            (5, ""),
            (6, "u v w z1 z2"),
            (7, "a b c q r s a b c"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_tokens, r.kept_tokens, r.removed_tokens, r.text_kept)
        for r in remove_duplicated_spans(docs, "text", "doc_id", n=3).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5, 6, 7}
    assert out[1] == (6, 2, 4, "e f")      # [0,4) cut, tail survives
    assert out[2] == (6, 2, 4, "x y")
    assert out[3] == (3, 0, 3, "")         # fully covered -> empty
    assert out[4] == (2, 2, 0, "p q")      # shorter than n: untouched
    assert out[5] == (0, 0, 0, "")
    assert out[6] == (5, 5, 0, "u v w z1 z2")
    # disjoint cuts [0,3)+[6,9): the middle survives, order preserved
    assert out[7] == (9, 3, 6, "q r s")


def test_gopher_repetition_hand_computed(spark):
    """Pins the Gopher within-doc repetition battery (operators/gopher.py)
    against hand-computed values: overlapping-occurrence char union (no
    double counting), the (count DESC, gram ASC) top-gram tie-break,
    count-1 top grams still covering their span, short/empty/null docs
    scoring 0.0, and the every-doc-gets-a-row contract."""
    from stockpy_spark.operators.gopher import gopher_repetition_profile

    docs = spark.createDataFrame(
        [
            # "a a a a": top2 "a a" starts [0,1,2] -> union covers all
            # 4 single-char tokens; dup5 impossible (nt=4).
            (1, "a a a a"),
            # top2 tie among "a b","x y","y a" (2 each) -> lexicographic
            # min "a b", starts [2,6] -> covers 4 of 8 chars.
            (2, "x y a b x y a b"),
            # 5-gram "a b c d e" repeats at starts [0,5] -> covers
            # tokens 0..9 = 10 of 12 chars; all 10-grams distinct.
            (3, "a b c d e a b c d e x y"),
            # overlapping dup-5 occurrences: starts [0,1] union -> 6/6.
            (4, "a a a a a a"),
            # single token: every statistic needing n>=2 scores 0.0 but
            # the count-1 top gram rule is n>=2 so all 0; chars counted.
            (5, "hello"),
            (6, ""),
            (7, None),
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r
        for r in gopher_repetition_profile(docs, "text", "doc_id").collect()
    }
    assert set(out) == {1, 2, 3, 4, 5, 6, 7}

    r1 = out[1]
    assert (r1["n_tokens"], r1["total_chars"]) == (4, 4)
    assert r1["top2_char_frac"] == 1.0
    assert r1["top3_char_frac"] == 1.0  # "a a a" x2, starts [0,1]
    assert r1["top4_char_frac"] == 1.0  # count-1 gram still covers
    assert r1["dup5_char_frac"] == 0.0

    assert out[2]["top2_char_frac"] == 0.5  # "a b" covers 4/8
    assert out[3]["dup5_char_frac"] == round(10 / 12, 6)
    assert out[3]["dup10_char_frac"] == 0.0
    assert out[4]["dup5_char_frac"] == 1.0

    r5 = out[5]
    assert (r5["n_tokens"], r5["total_chars"]) == (1, 5)
    assert all(
        r5[c] == 0.0
        for c in ("top2_char_frac", "top3_char_frac", "top4_char_frac",
                  "dup5_char_frac", "dup10_char_frac")
    )
    for d in (6, 7):
        assert out[d]["n_tokens"] == 0 and out[d]["total_chars"] == 0
        assert out[d]["top2_char_frac"] == 0.0
        assert out[d]["dup10_char_frac"] == 0.0


def test_gopher_quality_rules_hand_computed(spark):
    """Pins the Gopher line/word-shape gate battery
    (operators/gopher.py gopher_quality_rules): bullet and ellipsis
    line fractions, alpha-word fraction (a lone '-' token is not
    alphabetic), '#'+'...' symbol accounting, the required-stopword
    count, and the keep gate (min-words fail vs a passing doc)."""
    from stockpy_spark.operators.gopher import gopher_quality_rules

    passing = "the of and " + " ".join(["word"] * 49)  # 52 words, 3 stops
    docs = spark.createDataFrame(
        [
            (1, "- alpha beta...\ngamma delta."),
            (2, passing),
            (3, ""),
            (4, None),
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r
        for r in gopher_quality_rules(docs, "text", "doc_id").collect()
    }
    r1 = out[1]
    # words: ["-", "alpha", "beta...", "gamma", "delta."]
    assert (r1["n_lines"], r1["n_words"]) == (2, 5)
    assert r1["bullet_line_frac"] == 0.5
    assert r1["ellipsis_line_frac"] == 0.5
    assert r1["alpha_word_frac"] == 0.8
    assert r1["symbol_word_ratio"] == 0.2  # one "..." occurrence / 5
    assert r1["mean_word_len"] == 4.8  # (1+5+7+5+6)/5
    assert r1["stop_hits"] == 0
    assert r1["keep"] == 0  # min-words gate

    r2 = out[2]
    assert r2["n_words"] == 52
    assert r2["stop_hits"] == 3
    assert r2["alpha_word_frac"] == 1.0
    assert r2["keep"] == 1

    for d in (3, 4):
        assert out[d]["n_words"] == 0
        assert out[d]["mean_word_len"] == 0.0
        assert out[d]["keep"] == 0


def test_kcenter_coreset_farthest_point_hand_computed(spark):
    """Pins the greedy k-center selection (operators/similarity.py
    kcenter_coreset) on a 1-D line: from seed 1 (min id, at x=0), the
    farthest point is picked each round and running min-distances
    shrink accordingly. Points at x = 0, 1, 4, 10: seed 0 -> pick 10
    (d^2=100) -> pick 4 (min-dist to {0,10} = 16) -> pick 1 (d^2=1)."""
    from stockpy_spark.operators.similarity import kcenter_coreset

    df = spark.createDataFrame(
        [(1, [0.0]), (2, [1.0]), (3, [4.0]), (4, [10.0])],
        "vec_id long, embedding array<float>",
    )
    rows = sorted(
        kcenter_coreset(df, "embedding", "vec_id", k=4).collect(),
        key=lambda r: r["sel_round"],
    )
    assert [(r["sel_round"], r["vec_id"], r["dist"]) for r in rows] == [
        (0, 1, None),
        (1, 4, 100.0),
        (2, 3, 16.0),
        (3, 2, 1.0),
    ]


def test_pmi_collocations_hand_computed(spark):
    """Pins PMI arithmetic (operators/textstats.py pmi_collocations):
    a bigram that always co-occurs scores ln(N / c_x) (since c_xy =
    c_y = count of the pair), the min_count floor drops rare pairs,
    and ordering is (pmi DESC, bigram ASC)."""
    import math

    from stockpy_spark.operators.textstats import pmi_collocations

    # "new york" x3 (always adjacent), "the cat" x3, singles pad N.
    docs = spark.createDataFrame(
        [
            (1, "new york new york new york"),
            (2, "the cat the cat the cat"),
            (3, "dog fish bird"),
        ],
        "doc_id int, text string",
    )
    rows = pmi_collocations(docs, "text", "doc_id", min_count=3, k=10).collect()
    got = {r["xy"]: (r["pair_count"], r["pmi"]) for r in rows}
    # N = 15 tokens; c_new = c_york = 3, c_"new york" = 3
    assert got["new york"] == (3, round(math.log(3 * 15 / (3 * 3)), 6))
    assert got["the cat"] == (3, round(math.log(3 * 15 / (3 * 3)), 6))
    # "york new" occurs twice -> below the floor
    assert "york new" not in got
    # equal PMIs tie-break by bigram text ascending
    assert [r["xy"] for r in rows[:2]] == ["new york", "the cat"]


def test_kcenter_coreset_small_pool_guards(spark):
    """Round-10 advice seam: empty input raises a descriptive error
    instead of IndexError, and a pool smaller than k returns the whole
    pool (selection stops when exhausted)."""
    import pytest

    from stockpy_spark.operators.similarity import kcenter_coreset

    df = spark.createDataFrame(
        [(1, [0.0]), (2, [5.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="no rows"):
        kcenter_coreset(df.where("vec_id < 0"), "embedding", "vec_id", k=2)
    rows = sorted(
        kcenter_coreset(df, "embedding", "vec_id", k=5).collect(),
        key=lambda r: r["sel_round"],
    )
    assert [(r["sel_round"], r["vec_id"]) for r in rows] == [(0, 1), (1, 2)]


def test_cosine_zero_vector_null_not_crash(spark):
    """Round-11 degenerate sweep: a zero embedding (failed encoder
    output) used to kill the whole job with ANSI DIVIDE_BY_ZERO
    anywhere cosine_similarity ran. It now scores NULL — dropping out
    of top-k rankings and failing every similarity threshold — while
    nonzero pairs in the same frame stay scored."""
    from stockpy_spark.operators.similarity import brute_force_topk

    corpus = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.6, 0.8])],
        "vec_id long, embedding array<double>",
    )
    out = brute_force_topk(
        corpus, corpus.where("vec_id = 2"), "embedding", "vec_id", k=2
    ).collect()
    ranked = {r["neighbor_id"]: (r["cosine"], r["rank"]) for r in out}
    assert ranked[3] == (0.6, 1)       # real neighbor scored and first
    assert ranked[1][0] is None        # zero vector: NULL, ranked last
    # zero-vector QUERY: every cosine NULL, no crash
    zq = brute_force_topk(
        corpus.where("vec_id > 1"),
        corpus.where("vec_id = 1"),
        "embedding",
        "vec_id",
        k=2,
    ).collect()
    assert all(r["cosine"] is None for r in zq)
