from __future__ import annotations

from pyspark.sql import functions as F

from stockpy_spark.operators.sampling import (
    hash_sample,
    pack_sequences,
    train_test_split,
)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_hash_sample_deterministic_and_stable_under_repartition(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    a = {r.doc_id for r in hash_sample(docs, "doc_id", 0.2).select("doc_id").collect()}
    b = {
        r.doc_id
        for r in hash_sample(docs.repartition(7), "doc_id", 0.2)
        .select("doc_id")
        .collect()
    }
    assert a == b
    n = docs.count()
    assert 0.1 * n < len(a) < 0.3 * n


def test_hash_sample_nested_fractions(spark, sf_dir):
    # same salt: a 10% sample is a subset of the 20% sample (bucket
    # thresholding), which is what makes scaling a corpus down monotonic
    docs = _docs(spark, sf_dir)
    small = {r.doc_id for r in hash_sample(docs, "doc_id", 0.1).collect()}
    big = {r.doc_id for r in hash_sample(docs, "doc_id", 0.2).collect()}
    assert small <= big


def test_train_test_split_partitions_every_row_once(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    out = train_test_split(docs, "doc_id", 0.25)
    counts = dict(
        out.groupBy("split").count().rdd.map(lambda r: (r["split"], r["count"])).collect()
    )
    assert set(counts) == {"train", "test"}
    assert counts["train"] + counts["test"] == docs.count()
    # deterministic: rerun assigns identically
    again = train_test_split(docs, "doc_id", 0.25)
    assert (
        out.select("doc_id", "split")
        .exceptAll(again.select("doc_id", "split"))
        .count()
        == 0
    )


def test_pack_sequences_bins_respect_start_offsets(spark, sf_dir):
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.length(F.coalesce("text", F.lit(""))).alias("n_tok")
    )
    budget = 500
    out = pack_sequences(docs, "doc_id", "n_tok", budget=budget, n_shards=4)
    rows = out.orderBy("shard", "doc_id").collect()
    # recompute the running sum per shard and check every bin id
    cum: dict[int, int] = {}
    for r in rows:
        start = cum.get(r.shard, 0)
        assert r.bin == start // budget, (r.doc_id, r.shard, start, r.bin)
        cum[r.shard] = start + r.n_tok
    # all docs kept, no shard empty at this size
    assert len(rows) == docs.count()
    assert len(cum) == 4


def test_pack_chunks_ordered_hand_computed_and_bucket_invariant(spark):
    """pack_chunks_ordered: hand-laid chunk stream with budget 10 —
    bins follow the global (doc, chunk) running sum; a chunk LONGER
    than the budget (doc 2 chunk 0, 25 tokens) starts its own offset
    region and pushes the next chunk past the bins it spans; the
    output is invariant to n_buckets (the family's closure contract)."""
    from stockpy_spark.operators.sampling import pack_chunks_ordered

    rows = [
        (1, 0, 4),   # start 0  -> bin 0
        (1, 1, 4),   # start 4  -> bin 0
        (1, 2, 4),   # start 8  -> bin 0 (crosses into 1, stays whole)
        (2, 0, 25),  # start 12 -> bin 1; spans bins 1-3 alone
        (2, 1, 3),   # start 37 -> bin 3
        (3, 0, 5),   # start 40 -> bin 4
    ]
    df = spark.createDataFrame(rows, "doc long, chunk long, n long")
    expect = {(1, 0): (0, 0), (1, 1): (4, 0), (1, 2): (8, 0),
              (2, 0): (12, 1), (2, 1): (37, 3), (3, 0): (40, 4)}
    outs = []
    for nb in (1, 4, 64):
        got = {
            (r["doc"], r["chunk"]): (r["seq_start"], r["bin"])
            for r in pack_chunks_ordered(
                df, "doc", "chunk", "n", budget=10, n_buckets=nb
            ).collect()
        }
        assert got == expect, (nb, got)
        outs.append(got)
    assert outs[0] == outs[1] == outs[2]


def test_dsir_weights_sign_structure_and_topk(spark):
    """Pins DSIR semantics (operators/dsir.py) without replaying md5:
    raw docs made of target-distribution bigrams score positive log
    likelihood ratios, out-of-target bigrams score negative, empty docs
    carry weight 0 but still draw a Gumbel key, and dsir_select_topk
    returns the k largest resample keys."""
    from pyspark.sql import functions as F

    from stockpy_spark.operators.dsir import (
        dsir_importance_weights,
        dsir_select_topk,
    )

    docs = spark.createDataFrame(
        [
            (10, "apple banana apple banana apple"),  # target
            (20, "banana apple banana apple"),  # target
            (1, "apple banana apple banana"),  # raw, target-like
            (2, "zebra quux zebra quux zebra"),  # raw, alien
            (3, ""),  # raw, empty
        ],
        "doc_id long, text string",
    )
    w = dsir_importance_weights(
        docs, "text", "doc_id", F.col("doc_id") >= 10
    )
    rows = {r["doc_id"]: r for r in w.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["n_bigrams"] == 3 and rows[2]["n_bigrams"] == 4
    assert rows[1]["log_weight"] > 0 > rows[2]["log_weight"]
    assert rows[3]["n_bigrams"] == 0 and rows[3]["log_weight"] == 0.0
    # the key is weight + Gumbel noise, a pure function of the id
    for r in rows.values():
        assert r["resample_key"] is not None

    top = dsir_select_topk(w, "doc_id", 2).collect()
    keys = sorted((r["resample_key"] for r in rows.values()), reverse=True)
    assert sorted((r["resample_key"] for r in top), reverse=True) == keys[:2]


def test_dsir_kernel_parity_bit_exact(spark, sf_dir):
    """dsir_importance_weights tokenizes the corpus once, through the
    dsir_bucket_doc_counts Arrow kernel. Its (id, tgt, bucket, cnt)
    rows must be BIT-IDENTICAL to the Spark-expression reduction
    written inline here — explode_outer(word_ngrams(text, 2)), bucketed
    by dsir._bucket, counted per (doc, bucket) — over the real corpus
    plus the tokenizer/bucket edge fixtures: same md5 bucketing, same
    Java-\\s tokenization (NBSP and \\x1c/\\x1f are token chars,
    leading tabs survive the space-only trim), zero-bigram docs carried
    as one (id, tgt, NULL, 0) row. The weights downstream are checked
    against the DuckDB oracle (tests/test_oracle_gate.py)."""
    from pyspark.sql import functions as F

    from stockpy_spark.functions.text import word_ngrams
    from stockpy_spark.operators.dsir import _bucket, dsir_bucket_doc_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edge = spark.createDataFrame(
        [
            (900001, None),
            (900002, ""),
            (900003, "solo"),
            (900004, "nb\xa0sp stays one token nb\xa0sp stays"),
            (900005, "\tedge tab edge tab\t"),
            (900006, "rep rep rep rep rep rep rep rep"),
            (900007, "\x1fsep\x1c not sep\x1c not\x1f"),
            (900010, "İstanbul ẞTRASSE ΣΊΣΥΦΟΣ İstanbul STRASSE"),
            (900020, " "),
        ],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").unionByName(edge)
    tgt = F.col("doc_id") % 10 == 0
    n_buckets, salt = 1024, "dsir"
    got = sorted(
        tuple(r)
        for r in dsir_bucket_doc_counts(
            both, "text", "doc_id", tgt, n_buckets, salt
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in both.select(
            F.col("doc_id").alias("__id"),
            tgt.alias("__tgt"),
            F.explode_outer(word_ngrams("text", 2)).alias("__gram"),
        )
        .groupBy(
            "__id",
            "__tgt",
            F.when(
                F.col("__gram").isNotNull(),
                _bucket(F.col("__gram"), n_buckets, salt),
            ).alias("__b"),
        )
        .agg(F.count("__gram").alias("__cnt"))
        .collect()
    )
    assert got == want
    # the fixtures reach both sides of the target split and the
    # zero-bigram row shape
    assert {r[1] for r in got if r[0] >= 900001} == {False, True}
    assert (900001, False, None, 0) in got


def test_web_domain_filter_parse_block_and_cap(spark):
    """Pins the URL-filter stage (operators/webfilter.py): host/domain
    parsing (subdomain reduced to registrable domain, bare hosts pass
    through, unparseable -> ''), blocklist hits by host OR domain, and
    the per-domain diversity cap keeping exactly max_per_domain
    unblocked rows per domain."""
    from stockpy_spark.operators.webfilter import (
        blocklist_screen,
        domain_diversity_cap,
    )

    rows = [(i, f"https://a{i % 2}.big.com/x/{i}") for i in range(1, 9)]
    rows += [
        (20, "https://www.evil.org/p"),  # domain-blocked
        (21, "https://sub.evil.org/p"),  # domain-blocked
        (22, "http://bad.host.net/p"),  # host-blocked (full host)
        (23, "https://localhost/p"),  # bare label passes through
        (24, "not a url"),  # unparseable -> host ''
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = domain_diversity_cap(
        blocklist_screen(df, "url", ["evil.org", "bad.host.net"]),
        "doc_id",
        3,
    )
    r = {x["doc_id"]: x for x in out.collect()}
    assert r[1]["host"] == "a1.big.com" and r[1]["domain"] == "big.com"
    assert r[23]["domain"] == "localhost"
    assert r[24]["host"] == ""
    assert [r[i]["blocked"] for i in (20, 21, 22)] == [1, 1, 1]
    assert all(r[i]["kept"] == 0 for i in (20, 21, 22))
    # 8 rows share domain big.com; cap 3 keeps exactly 3 of them
    assert sum(r[i]["kept"] for i in range(1, 9)) == 3


def test_domain_cap_null_domain_group_respects_cap(spark):
    """r11 advisor seam: the offset join is null-safe on domain, so a
    NULL-domain group (a caller supplying the screen columns directly)
    gets ONE offset frame and the same cap as any other group — the
    plain equi-join matched nothing and let every bucket restart at
    offset 0, keeping up to n_buckets*max_per_domain rows."""
    from stockpy_spark.operators.webfilter import domain_diversity_cap

    rows = [(i, None, 0) for i in range(1, 41)]  # NULL domain, unblocked
    rows += [(100 + i, "ok.com", 0) for i in range(1, 6)]
    df = spark.createDataFrame(
        rows, "doc_id long, domain string, blocked int"
    )
    out = domain_diversity_cap(df, "doc_id", 3)
    kept_null = sum(
        r["kept"] for r in out.collect() if r["doc_id"] < 100
    )
    kept_ok = sum(r["kept"] for r in out.collect() if r["doc_id"] > 100)
    assert kept_null == 3, kept_null  # capped, not n_buckets * 3
    assert kept_ok == 3


def test_bloom_screen_m_bits_ceiling_guard(spark):
    """r11 advisor seam: the single-row word map concentrates the whole
    filter into one task, so m_bits past the documented 2**26 ceiling
    must fail loudly instead of silently building a giant row."""
    import pytest

    from stockpy_spark.operators.sketches import bloom_build, bloom_screen

    corpus = spark.createDataFrame([("k0",)], "fp string")
    bloom = bloom_build(corpus, "fp", m_bits=256, k_hashes=3)
    batch = spark.createDataFrame([(1, "k0")], "id long, fp string")
    with pytest.raises(ValueError, match="2\\*\\*26"):
        bloom_screen(batch, "fp", bloom, m_bits=(1 << 26) + 63)


def test_target_encode_oof_leak_proof_hand_computed(spark):
    """Pins the out-of-fold arithmetic of target_encode_oof with
    n_folds=2 and smoothing=0 on a two-category frame: each row's
    encoding is the mean of the OTHER fold's targets for its category
    (never its own), and a category present only in the row's own fold
    falls back to the global-prior-smoothed form."""
    from pyspark.sql import functions as F

    from stockpy_spark.operators.sampling import target_encode_oof

    rows = [(i, "a", float(10 * i)) for i in range(1, 9)]
    df = spark.createDataFrame(rows, "id long, cat string, t double")
    out = target_encode_oof(
        df, "cat", "t", "id", n_folds=2, smoothing=0.0
    ).collect()
    folds = {r["id"]: r["fold"] for r in out}
    by_fold = {
        f: [10.0 * i for i in range(1, 9) if folds[i] == f] for f in (0, 1)
    }
    assert all(by_fold[f] for f in (0, 1)), "both folds must be non-empty"
    for r in out:
        other = by_fold[1 - r["fold"]]
        assert r["cat_enc"] == round(sum(other) / len(other), 6)

    # smoothed form, exact: enc = (cs - fold_s + 5*g) / (cn - fold_n + 5)
    # with cs=240, cn=4, g=60 -> (540 - fold_s) / (9 - fold_n)
    t2 = {1: 100.0, 2: 50.0, 3: 60.0, 4: 30.0}
    df2 = spark.createDataFrame(
        [(i, "x", v) for i, v in t2.items()], "id long, cat string, t double"
    )
    out2 = target_encode_oof(df2, "cat", "t", "id", n_folds=2, smoothing=5.0)
    rows2 = out2.collect()
    f2 = {r["id"]: r["fold"] for r in rows2}
    for r in rows2:
        s_f = sum(v for i, v in t2.items() if f2[i] == r["fold"])
        n_f = sum(1 for i in t2 if f2[i] == r["fold"])
        assert r["cat_enc"] == round((540.0 - s_f) / (9 - n_f), 6)


def test_k_anonymity_audit_sets_nulls_and_generalization(spark):
    """Pins k_anonymity_audit (operators/privacy.py): set sizes count
    rows sharing the FULL quasi combination, the violates_k flag fires
    below k, NULL quasi values form their own set and are never
    dropped (null-safe join), and generalize() coarsens before
    counting."""
    from pyspark.sql import functions as F

    from stockpy_spark.operators.privacy import k_anonymity_audit

    rows = [
        (1, "US", 30), (2, "US", 31),  # same (US, 30s) bucket
        (3, "US", 45),  # singleton bucket
        (4, None, 30), (5, None, 33),  # NULL region, same decade
    ]
    df = spark.createDataFrame(rows, "id long, region string, age int")
    out = {
        r["id"]: r
        for r in k_anonymity_audit(
            df,
            ["region", "age"],
            k=2,
            generalize={"age": (F.floor(F.col("age") / 10) * 10).cast("int")},
        ).collect()
    }
    assert len(out) == 5  # NULL rows survive the set join
    assert out[1]["anonymity_set"] == 2 and out[1]["violates_k"] == 0
    assert out[1]["age_released"] == 30  # generalized decade
    assert out[3]["anonymity_set"] == 1 and out[3]["violates_k"] == 1
    assert out[4]["anonymity_set"] == 2 and out[4]["violates_k"] == 0
    assert out[4]["region_released"] is None


def test_url_canonicalize_rule_battery(spark):
    """url_canonicalize (round-12 continuation): one hand-written case
    per rule — case folding, default-port strip (scheme-aware),
    fragment drop, trailing-slash collapse, empty path -> '/',
    tracking-param removal (utm_* prefix + exact names), param sort,
    emptied query drops its '?', non-default port kept."""
    from stockpy_spark.operators.webfilter import url_canonicalize

    cases = [
        # (messy, canonical)
        ("HTTPS://Site.COM:443/p/1/?b=2&a=1&utm_source=feed#top",
         "https://site.com/p/1?a=1&b=2"),
        ("https://site.com/p/1?a=1&b=2", "https://site.com/p/1?a=1&b=2"),
        ("http://Host.io:80//", "http://host.io/"),
        ("http://host.io:8080/x?fbclid=z&id=3", "http://host.io:8080/x?id=3"),
        ("https://h.com", "https://h.com/"),
        ("https://h.com/?utm_campaign=x", "https://h.com/"),
        # :443 is only default for httpS — an http URL keeps it
        ("http://h.com:443/x", "http://h.com:443/x"),
    ]
    df = spark.createDataFrame([(m,) for m, _ in cases], "url string")
    got = {r.url: r.canonical_url for r in url_canonicalize(df, "url").collect()}
    for messy, want in cases:
        assert got[messy] == want, (messy, got[messy], want)
    # the first two spellings collapse to ONE canonical url
    assert got[cases[0][0]] == got[cases[1][0]]


def test_shuffle_shard_plan_contiguous_stable_and_window_equivalent(spark):
    """shuffle_shard_plan (round-12 continuation): per-shard positions
    are exactly 1..shard_size with no gaps, the assignment is a pure
    function of (salt, id) (repartition-invariant), and the bucketed
    rank equals the naive single-window formulation row for row."""
    from pyspark.sql.window import Window

    from stockpy_spark.operators.sampling import shuffle_shard_plan

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    out = shuffle_shard_plan(df, "doc_id", n_shards=4, n_buckets=16)
    rows = out.collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.position)
    assert set(by_shard) <= set(range(4)) and len(rows) == 1000
    for shard, pos in by_shard.items():
        assert sorted(pos) == list(range(1, len(pos) + 1)), shard
    # md5-uniform balance: no shard wildly off 250 at n=1000
    assert max(len(p) for p in by_shard.values()) < 2 * min(
        len(p) for p in by_shard.values()
    )

    # repartition-invariance: same assignment from any physical layout
    again = {
        (r.doc_id, r.shard, r.position)
        for r in shuffle_shard_plan(
            df.repartition(7), "doc_id", n_shards=4, n_buckets=16
        ).collect()
    }
    assert again == {(r.doc_id, r.shard, r.position) for r in rows}

    # equivalence to the one-task-per-shard window this plan replaces
    draw = F.md5(F.concat_ws("\x1f", F.lit("shard"), F.col("doc_id").cast("string")))
    shard = (
        F.conv(F.substring(draw, 1, 13), 16, 10).cast("long") % 4
    ).cast("int")
    naive = df.select(
        "doc_id",
        shard.alias("shard"),
        F.row_number()
        .over(Window.partitionBy(shard).orderBy(draw, F.col("doc_id")))
        .cast("long")
        .alias("position"),
    )
    assert {(r.doc_id, r.shard, r.position) for r in naive.collect()} == {
        (r.doc_id, r.shard, r.position) for r in rows
    }


def test_pack_efficiency_report_hand_computed(spark):
    """pack_efficiency_report (round-12 continuation): hand-computable
    fills — 3 bins of budget 10 holding 10, 7 and 14 tokens (the last
    an oversize doc, fill rate deliberately >1.0; waste counts only
    under-budget bins)."""
    from stockpy_spark.operators.sampling import pack_efficiency_report

    rows = [
        # (shard, bin, n_tokens)
        (0, 0, 6), (0, 0, 4),   # bin fill 10 (exactly full)
        (0, 1, 7),              # bin fill 7  (waste 3)
        (1, 0, 14),             # oversize: fill 14, rate 1.4, waste 0
    ]
    df = spark.createDataFrame(rows, "shard int, bin long, n_tokens long")
    r = pack_efficiency_report(df, "n_tokens", budget=10).collect()[0]
    assert r.n_bins == 3 and r.total_tokens == 31
    assert abs(r.mean_fill_rate - round((1.0 + 0.7 + 1.4) / 3, 6)) < 1e-9
    assert r.p50_fill == 1.0          # fills 7,10,14 -> median 10
    assert r.min_fill == 0.7
    assert r.waste_tokens == 3        # only the 7-token bin pads
    assert abs(r.pct_bins_ge_90 - round(2 / 3, 6)) < 1e-9


def test_url_canonicalize_edge_inputs(spark):
    """r12 advisor low: schemeless inputs pass through verbatim (no
    ':///garbage'), and tracking_params=() is 'utm_* only', not a
    plan-build crash."""
    from stockpy_spark.operators.webfilter import url_canonicalize

    cases = [
        ("site.com/p/1?a=1", "site.com/p/1?a=1"),          # bare host
        ("/relative/path?x=1", "/relative/path?x=1"),      # relative
        ("not a url at all", "not a url at all"),          # garbage
        ("HTTPS://Site.COM/p/?utm_x=1&b=2", "https://site.com/p?b=2"),
    ]
    df = spark.createDataFrame([(m,) for m, _ in cases], "url string")
    got = {r.url: r.canonical_url for r in url_canonicalize(df, "url").collect()}
    for messy, want in cases:
        assert got[messy] == want, (messy, got[messy], want)
    # empty tracking_params: utm_* still dropped, named params kept
    got2 = {
        r.url: r.canonical_url
        for r in url_canonicalize(df, "url", tracking_params=()).collect()
    }
    assert got2["HTTPS://Site.COM/p/?utm_x=1&b=2"] == "https://site.com/p?b=2"
    df2 = spark.createDataFrame(
        [("https://h.com/x?fbclid=1&a=2",)], "url string"
    )
    r2 = url_canonicalize(df2, "url", tracking_params=()).collect()[0]
    assert r2.canonical_url == "https://h.com/x?a=2&fbclid=1"  # fbclid kept


def test_shuffle_shard_plan_bucket_rounding_and_validation(spark):
    """r12 advisor low: n_buckets realizes as the next power of 16 AT
    OR ABOVE the request (ceil, not round — 1000 used to give 256);
    positions are identical across bucket counts; n_buckets < 1
    raises."""
    import pytest as _pytest

    from stockpy_spark.operators.sampling import shuffle_shard_plan

    df = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    a = {(r.doc_id, r.shard, r.position)
         for r in shuffle_shard_plan(df, "doc_id", n_shards=4, n_buckets=16).collect()}
    b = {(r.doc_id, r.shard, r.position)
         for r in shuffle_shard_plan(df, "doc_id", n_shards=4, n_buckets=1000).collect()}
    assert a == b  # bucket count is parallelism only, never positions
    with _pytest.raises(ValueError):
        shuffle_shard_plan(df, "doc_id", n_buckets=0)


def test_pack_boundaries_hand_computed_bin_edge_and_overbudget(spark):
    """pack_boundaries against a hand-worked stream (n_shards=1 so the
    id order IS the stream): d2 ends EXACTLY at the 2048 boundary
    (spill 0, next bin starts clean), d4 (3000 tokens > budget) spills
    1452 tokens into bin 2 (its lead_in), and the zero-token d6 ties
    d7's start offset and sorts before it (the all-but-id-last-have-n=0
    tie invariant)."""
    from stockpy_spark.operators.sampling import pack_boundaries

    rows = [(1, 1000), (2, 1048), (3, 500), (4, 3000), (5, 10), (6, 0), (7, 5)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {
        (r.shard, r.bin): r
        for r in pack_boundaries(
            df, "doc_id", "n_tokens", budget=2048, n_shards=1
        ).collect()
    }
    assert set(got) == {(0, 0), (0, 1), (0, 2)}
    b0 = got[(0, 0)]
    assert (b0.n_docs, b0.doc_starts, b0.doc_ids) == (2, [0, 1000], [1, 2])
    assert (b0.lead_in_tokens, b0.spill_tokens) == (0, 0)  # exact edge
    b1 = got[(0, 1)]
    assert (b1.n_docs, b1.doc_starts, b1.doc_ids) == (2, [0, 500], [3, 4])
    assert (b1.lead_in_tokens, b1.spill_tokens) == (0, 1452)  # d4 over
    b2 = got[(0, 2)]
    assert (b2.n_docs, b2.doc_starts, b2.doc_ids) == (
        3, [1452, 1462, 1462], [5, 6, 7],
    )
    assert (b2.lead_in_tokens, b2.spill_tokens) == (1452, 0)


def test_pack_boundaries_interior_bins_of_giant_doc_emit_no_row(spark):
    """A document spanning whole windows by itself: bins interior to it
    carry no document start and therefore no row — the trainer sees
    them through the previous row's spill_tokens."""
    from stockpy_spark.operators.sampling import pack_boundaries

    df = spark.createDataFrame(
        [(1, 100), (2, 5000), (3, 50)], "doc_id long, n_tokens long"
    )
    got = {
        (r.shard, r.bin): r
        for r in pack_boundaries(
            df, "doc_id", "n_tokens", budget=1000, n_shards=1
        ).collect()
    }
    assert set(got) == {(0, 0), (0, 5)}  # bins 1-4 interior to d2
    assert got[(0, 0)].spill_tokens == 4100  # 100 + 5000 - 1000
    assert got[(0, 5)].doc_starts == [100]
    assert got[(0, 5)].lead_in_tokens == 100


def test_pack_boundaries_agrees_with_pack_sequences_assignment(spark, sf_dir):
    """The (shard, bin) each doc starts in must match pack_sequences'
    assignment exactly — same hash, same window, same floor."""
    from stockpy_spark.functions.text import token_count
    from stockpy_spark.operators.sampling import pack_boundaries

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    sized = docs.select(
        "doc_id", token_count("text").cast("long").alias("n_tokens")
    )
    packed = pack_sequences(sized, "doc_id", "n_tokens", budget=2048, n_shards=4)
    want = {
        (r.shard, r.bin): r.n
        for r in packed.groupBy("shard", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    bounds = pack_boundaries(sized, "doc_id", "n_tokens", budget=2048, n_shards=4)
    got = {(r.shard, r.bin): r.n_docs for r in bounds.collect()}
    assert got == want
