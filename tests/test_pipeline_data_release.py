"""The r13 capstone release pipeline: every stage must be load-bearing
(provably alters the output at the test SF), and the planted eval leak
must die at the exact-decontamination stage."""

from __future__ import annotations

from pyspark.sql import functions as F

from stockpy_spark.registry.pipelines import (
    q_pipeline_data_release,
    release_stage_frames,
)


def test_release_pipeline_shape_and_planted_leak(spark, sf_dir):
    stages = release_stage_frames(spark, sf_dir)
    out = stages["final"]
    rows = out.orderBy("shard", "position").collect()
    assert len(rows) > 0
    # contract columns
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "source", "n_tokens", "calibrated",
        "shard", "position", "seq_start", "bin",
    ]
    # the eval split never enters the release
    assert all(r.doc_id % 10 != 0 for r in rows)
    # THE decontamination contract: no survivor's CLEANED text shares
    # a distinct 5-gram with any eval doc's cleaned text. (A planted
    # d%41 carrier may legitimately survive when the boilerplate
    # screen strips its stopword-free planted line — the leak is gone
    # from the released text, which is what actually matters.)
    from stockpy_spark.functions.text import word_ngrams

    surv_ids = {r.doc_id for r in rows}
    clean = stages["clean"]
    surv_sh = (
        clean.where(F.col("doc_id").isin(list(surv_ids)))
        .select(F.explode(F.array_distinct(word_ngrams(F.col("ctext"), 5))).alias("sh"))
        .distinct()
    )
    eval_sh = (
        stages["evalc"]
        .select(F.explode(F.array_distinct(word_ngrams(F.col("ctext"), 5))).alias("sh"))
        .distinct()
    )
    assert surv_sh.join(eval_sh, "sh").count() == 0
    # and the exact-decon stage is load-bearing: it dropped someone
    n_mh = stages["mh_keep"].count()
    n_c9 = stages["c9"].count()
    assert n_c9 <= n_mh
    # mixture cap: no source exceeds 2 admitted docs
    by_src = {}
    for r in rows:
        by_src[r.source] = by_src.get(r.source, 0) + 1
    assert max(by_src.values()) <= 2
    # packing invariants: seq_start is the exact running sum in
    # (shard, position) order, bins advance monotonically
    run = 0
    prev_bin = 0
    for r in rows:
        assert r.seq_start == run
        assert r.bin == run // 128
        assert r.bin >= prev_bin
        prev_bin = r.bin
        run += r.n_tokens
    # shard positions are 1..k contiguous per shard
    per_shard = {}
    for r in rows:
        per_shard.setdefault(r.shard, []).append(r.position)
    for shard, pos in per_shard.items():
        assert sorted(pos) == list(range(1, len(pos) + 1)), shard


def test_release_pipeline_is_deterministic(spark, sf_dir):
    a = {tuple(r) for r in q_pipeline_data_release(spark, sf_dir).collect()}
    b = {tuple(r) for r in q_pipeline_data_release(spark, sf_dir).collect()}
    assert a == b


def test_release_funnel_is_monotone_after_admission(spark, sf_dir):
    """The funnel audit table: counts decrease monotonically through
    the admission chain (nb -> url -> minhash -> exact -> fuzzy ->
    cap), and the early stages preserve the corpus (clean == input)."""
    from stockpy_spark.registry.pipelines import q_pipeline_release_funnel

    rows = {r.stage: r.n_docs for r in q_pipeline_release_funnel(spark, sf_dir).collect()}
    assert rows["0_input"] == rows["1_clean"]  # transforms, not filters
    chain = ["3_nb_admit", "4_url_dedup", "5_minhash_dedup",
             "6_exact_decon", "7_fuzzy_decon", "8_mixture_cap"]
    for a, b in zip(chain, chain[1:]):
        assert rows[b] <= rows[a], (a, b, rows)
    assert rows["8_mixture_cap"] > 0
