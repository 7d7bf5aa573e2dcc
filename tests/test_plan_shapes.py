"""Physical-plan shape assertions — the scale-regression gate.

Correctness tests prove the operators compute the right rows; these
prove Catalyst is given plans it can execute well at 100 TB: filters
and projections reach the parquet scan, small sides broadcast, big
aggregations combine map-side, top-k never globally sorts, and the
window-based group-stats really saves the second shuffle. A change
that silently turns a broadcast join into a shuffled one, or stops a
filter from pushing down, fails here long before a cluster run would
surface it.
"""

from __future__ import annotations

import contextlib
import io
import os
import re

from pyspark.sql import functions as F

from stockpy_spark.operators.dedup import exact_dedup
from stockpy_spark.operators.joins import attach_group_stats_window, enrich_left_join
from stockpy_spark.registry import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_filter_and_projection_reach_parquet_scan(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    p = plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30" in p
    # column pruning: the scan reads exactly the two referenced columns
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema and "l_shipdate" not in read_schema


def test_partition_predicate_prunes(spark, tmp_path):
    src = spark.range(100).withColumn("p", (F.col("id") % 4).cast("int"))
    dest = str(tmp_path / "parted")
    src.write.partitionBy("p").parquet(dest)
    df = spark.read.parquet(dest).filter(F.col("p") == 2)
    p = plan(df)
    # partition filter handled at scan, not as a data filter
    assert "PartitionFilters: [isnotnull(p" in p and "(p" in p


def test_dimension_join_broadcasts(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    out = enrich_left_join(li, nation, li["l_suppkey"] == nation["n_nationkey"])
    p = plan(out)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_q5_broadcasts_dims_once_shuffles_fact(spark):
    p = plan(QUERIES["q5_multi_join"](spark, SF_DIR))
    # all three dimension joins broadcast; only the fact-fact join may shuffle
    assert p.count("BroadcastHashJoin") >= 3
    assert p.count("SortMergeJoin") + p.count("ShuffledHashJoin") <= 1


def test_group_agg_partial_before_exchange(spark):
    p = plan(QUERIES["a1_group_agg"](spark, SF_DIR), mode="simple")
    # partial + final HashAggregate pair around one exchange
    assert p.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in p


def test_topk_plans_take_ordered_not_global_sort(spark):
    p = plan(QUERIES["o1_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p  # no global sort


def test_window_group_stats_single_shuffle(spark):
    ev = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 7).alias("k"),
        (F.col("id") * 1.5).alias("v"),
    )
    out = attach_group_stats_window(ev, ["k"], {"avg_v": F.avg("v")})
    p = plan(out, mode="simple")
    assert p.count("Exchange hashpartitioning") == 1  # one shuffle, no back-join
    assert "Join" not in p


def test_exact_dedup_avoids_global_window_sort(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(exact_dedup(docs, "text", "doc_id"))
    assert "Window" not in p  # agg + semi-join formulation
    assert "LeftSemi" in p


def test_scalar_subquery_broadcasts_one_row(spark):
    p = plan(QUERIES["q15_scalar_subquery"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_unpivot_is_single_pass_expand(spark):
    p = plan(QUERIES["p10_unpivot"](spark, SF_DIR))
    assert "Expand" in p
    assert "Exchange" not in p  # no shuffle for a reshape
    assert "Union" not in p  # not the N-scans formulation


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    from stockpy_spark.sources.writers import write_bucketed_table

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    write_bucketed_table(li, "li_b", ["l_orderkey"], 4, sort_cols=["l_orderkey"])
    write_bucketed_table(orders, "ord_b", ["o_orderkey"], 4, sort_cols=["o_orderkey"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        joined = spark.table("li_b").join(
            spark.table("ord_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        p = plan(joined, mode="simple")
        assert "SortMergeJoin" in p
        assert "Exchange" not in p  # bucketing co-locates both sides
        # same join over the raw (unbucketed) parquet shuffles both sides
        raw = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        assert "Exchange" in plan(raw, mode="simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_hash_sample_is_narrow_no_exchange(spark):
    # sampling must be a pure map over the scan — any Exchange means a
    # 100 TB sample would shuffle 100 TB
    from stockpy_spark.operators.sampling import hash_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(hash_sample(docs, "doc_id", 0.1))
    assert "Exchange" not in p


def test_pack_sequences_single_shard_shuffle(spark):
    # packing = one hash exchange on the shard key + per-shard sort;
    # a second exchange would mean a global ordering snuck in
    from stockpy_spark.operators.sampling import pack_sequences

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.col("n_chars").alias("n_tok")
    )
    p = plan(pack_sequences(docs, "doc_id", "n_tok", budget=1000, n_shards=4), "simple")
    assert p.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in p


def test_minhash_signatures_no_exchange(spark):
    # the zero-shuffle claim in operators.dedup._minhash_wide
    from stockpy_spark.operators.dedup import _minhash_wide

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(_minhash_wide(docs, "text", "doc_id", 12))
    assert "Exchange" not in p


def test_simhash_fingerprints_no_exchange(spark):
    # both SimHash widths sign each document map-side (dedup._simhash)
    from stockpy_spark.operators.dedup import (
        simhash64_fingerprints,
        simhash_fingerprints,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for fps in (
        simhash_fingerprints(docs, "text", "doc_id"),
        simhash64_fingerprints(docs, "text", "doc_id"),
    ):
        assert "Exchange" not in plan(fps)


def test_ann_lsh_candidates_equi_join_not_nested_loop(spark):
    # multi-probe LSH: queries explode into their hamming-ball probe
    # signatures and equi-join on csig — a hash join. A
    # BroadcastNestedLoopJoin here means the candidate stage regressed
    # to O(corpus x queries) signature comparisons.
    p = plan(QUERIES["sim_ann_lsh"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p or "ShuffledHashJoin" in p
    assert "CartesianProduct" not in p


def test_q10_topk_and_nation_broadcast(spark):
    p = plan(QUERIES["q10_returned_revenue"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p


def test_q1_partial_agg_and_pruned_scan(spark):
    # scan-heavy aggregate: map-side partial HashAggregate before the
    # exchange, and the scan reads only the 7 referenced columns
    p = plan(QUERIES["q1_pricing_summary"](spark, SF_DIR))
    assert "HashAggregate" in p and "Exchange" in p
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_quantity" in read_schema and "l_tax" in read_schema
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema


def test_q6_filters_push_to_scan(spark):
    p = plan(QUERIES["q6_forecast_revenue"](spark, SF_DIR))
    assert "PushedFilters" in p
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThan(l_quantity,24" in p
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" in read_schema and "l_returnflag" not in read_schema


def _enrich_nation_lineitem(spark):
    from stockpy_spark.operators import dim_preserving_enrich

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet").select(
        F.col("n_nationkey").alias("l_suppkey"), "n_name"
    )
    return plan(dim_preserving_enrich(nation, li, "l_suppkey"), mode="simple")


def test_dim_preserving_enrich_broadcasts_small_fact(spark):
    # a fact Catalyst sizes under autoBroadcastJoinThreshold is the build
    # side of ONE hash join: the dim streams, nothing shuffles
    p = _enrich_nation_lineitem(spark)
    assert re.search(r"\bExchange\b", p) is None
    assert p.count("BroadcastHashJoin") == 1


def test_dim_preserving_enrich_never_shuffles_fact(spark, sql_conf):
    # the dim-preserving outer join must not sort-merge-shuffle a fact
    # too large to broadcast: broadcast inner join + bounded-key anti
    # fill only
    with sql_conf({"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        p = _enrich_nation_lineitem(spark)
    assert "SortMergeJoin" not in p
    # the fact rows themselves never shuffle: the single permitted
    # exchange is the distinct over the semi-filtered KEY column
    # (<= |dim| values, map-side combined — metadata, not data)
    assert p.count("Exchange hashpartitioning") <= 1
    assert p.count("BroadcastHashJoin") >= 3  # inner enrich + semi + anti fill


def test_q7_broadcasts_nations_shuffles_facts_bounded(spark):
    p = plan(QUERIES["q7_volume_shipping"](spark, SF_DIR))
    assert p.count("BroadcastHashJoin") >= 2  # both nation dims broadcast
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_q18_having_agg_then_topk(spark):
    p = plan(QUERIES["q18_large_orders"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p  # top-k, not a global sort
    assert p.count("HashAggregate") >= 2  # partial+final on the having-agg
    assert "Exchange rangepartitioning" not in p


def test_q19_or_predicate_no_cartesian(spark):
    p = plan(QUERIES["q19_disjunctive"](spark, SF_DIR))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p  # part stays a broadcast equi-join


def test_chunk_documents_is_narrow_no_exchange(spark):
    """Chunking is an explode over per-row token arrays: the whole plan
    must stay map-side — any Exchange means a 100 TB corpus shuffles
    just to be split into windows."""
    from stockpy_spark.operators.chunking import chunk_documents

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(chunk_documents(docs, "text", "doc_id"))
    assert "Exchange" not in p
    assert "Generate" in p  # the posexplode fan-out


def test_hll_sketches_partial_agg_before_exchange(spark):
    """Sketch aggregation must partial-combine map-side (an
    ObjectHashAggregate with a partial mode before the exchange) —
    otherwise every raw row ships to the reducer and the 'KB per
    bucket' claim is false."""
    from stockpy_spark.operators.sketches import hll_bucket_sketches

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    p = plan(hll_bucket_sketches(ev, "ts", "user_id", 86_400), "simple")
    assert "ObjectHashAggregate" in p
    first_agg = p.index("ObjectHashAggregate")
    assert "Exchange" in p[first_agg:]


def test_pq_quantize_is_one_narrow_map(spark):
    """PQ assignment is ONE narrow map over the corpus scan: the
    KB-sized codebook rides in the closure, so the plan has a single
    MapInPandas over a single parquet scan and no exchange, nested
    loop or cartesian anywhere."""
    from stockpy_spark.operators.similarity import pq_quantize

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    p = plan(pq_quantize(emb, "embedding", "vec_id", m=4, k=8), "simple")
    assert p.count("MapInPandas") == 1 and p.count("FileScan parquet") == 1
    assert "Exchange" not in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_incremental_dedup_no_pair_enumeration(spark):
    """The admission filter must be anti/semi joins on fingerprints and
    bucket keys — no cartesian, no nested loop, anywhere."""
    from stockpy_spark.operators.dedup import incremental_dedup_admit

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    p = plan(incremental_dedup_admit(batch, corpus, "text", "doc_id"), "simple")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_weighted_sample_plans_take_ordered(spark):
    """A-ES top-k must plan TakeOrderedAndProject — a global Sort of
    all keys would materialize the full corpus ordering."""
    from stockpy_spark.operators.sampling import weighted_sample_topk

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(weighted_sample_topk(docs, "doc_id", "n_chars", k=10), "simple")
    assert "TakeOrderedAndProject" in p


def test_kmeans_codebook_broadcast_no_nested_loop(spark):
    # both Lloyd passes must broadcast the KB-sized codebook; a plan
    # with BroadcastNestedLoopJoin is fine (the crossJoin of the 1-row
    # count is one) but the corpus must never shuffle-join the codebook
    from stockpy_spark.operators.similarity import kmeans_assign

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    p = plan(kmeans_assign(emb, "embedding", "vec_id", k=4))
    assert "BroadcastExchange" in p
    assert "SortMergeJoin" not in p


def test_bm25_no_cartesian_on_corpus(spark):
    # the only cross join is the broadcast 1-row (N, avgdl) scalar;
    # scoring joins are hash joins on term/doc
    from stockpy_spark.operators.textstats import bm25_topk

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(bm25_topk(docs, "text", "doc_id", ["spark", "merge"]))
    assert "CartesianProduct" not in p
    # top-k must be TakeOrdered, not a global sort of all matches
    assert "TakeOrderedAndProject" in p


def test_funnel_is_aggregates_not_windows(spark):
    # the funnel is three keyed conditional aggregates; a per-user
    # window sort would be a different (worse) plan class
    from stockpy_spark.operators.behavior import funnel_stages
    from stockpy_spark.sources.testdata import read_events

    ev = read_events(spark, SF_DIR)
    p = plan(funnel_stages(ev, ["view", "click", "purchase"]))
    assert "Window" not in p
    assert "partial_min" in p or "HashAggregate" in p


def test_decontamination_equi_join_not_nested_loop(spark):
    from stockpy_spark.operators.textstats import ngram_contamination

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    p = plan(ngram_contamination(corpus, ev, "text", "doc_id"))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_triangle_count_all_hash_joins(spark):
    from stockpy_spark.operators.graph import triangle_count

    edges = spark.createDataFrame(
        [(a, b) for a in range(6) for b in range(6) if a != b],
        "src int, dst int",
    )
    p = plan(triangle_count(edges))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_fuzzy_join_equi_blocked_no_nested_loop(spark):
    # the levenshtein predicate must ride an EQUI join on the block
    # keys; a naive distance<=k join plans BroadcastNestedLoopJoin
    p = plan(QUERIES["er_fuzzy_match"](spark, SF_DIR), "simple")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_skyline_only_bounded_broadcasts(spark):
    # the two cross joins carry a 1-row bounds frame and a B-row offset
    # frame; both must be broadcasts, and the only unpartitioned window
    # runs over the B-row census
    df = QUERIES["pareto_frontier"](spark, SF_DIR)
    p = plan(df, "simple")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 2


def test_inverted_index_single_term_shuffle(spark):
    # the row_number cap and the final aggregate must share the (term)
    # exchange: two exchanges total (doc-term distinct, then term)
    df = QUERIES["text_inverted_index"](spark, SF_DIR)
    p = plan(df, "simple")
    assert p.count("Exchange") <= 3


def test_setsim_all_equi_joins(spark):
    # prefix filtering exists to make candidate generation an EQUI
    # join; any nested-loop/cartesian here is the all-pairs blowup
    p = plan(QUERIES["setsim_jaccard_join"](spark, SF_DIR), "simple")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_ks_only_bounded_broadcasts(spark):
    # the one cross join carries the 1-row census; the bucket-offset
    # join is an equi join on bkt and the sup is a top-1
    # (TakeOrderedAndProject), not a dmax cross join
    p = plan(QUERIES["drift_ks_value"](spark, SF_DIR), "simple")
    assert "CartesianProduct" not in p
    # the census cross-join subtree shows up under BOTH the local
    # cumsum branch and the bucket-totals branch in the static plan
    # (runtime exchange reuse dedupes it); each instance is a 1-row
    # broadcast
    assert p.count("BroadcastNestedLoopJoin") <= 2
    assert "TakeOrderedAndProject" in p


def test_cusum_single_key_shuffle(spark):
    # running sum, running min, lag and the final agg all share the
    # (key) partitioning: one data shuffle end-to-end
    p = plan(QUERIES["ts_cusum_alarm"](spark, SF_DIR), "simple")
    assert p.count("Exchange") <= 2
    assert "CartesianProduct" not in p


def test_corr_matrix_single_aggregate_scan(spark):
    # all 6 pairs from one aggregate: exactly the two exchanges of a
    # global agg (partial -> single partition), one parquet scan
    p = plan(QUERIES["stats_corr_matrix"](spark, SF_DIR), "simple")
    assert p.count("Exchange") <= 2
    assert p.count("Scan parquet") == 1


def test_skew_profile_topk_no_global_sort(spark):
    # the hottest-key pick must be per-partition heaps, not a full sort
    p = plan(QUERIES["dq_key_skew"](spark, SF_DIR), "simple")
    assert "TakeOrderedAndProject" in p
    assert p.count("BroadcastNestedLoopJoin") <= 1  # 1-row census only


def test_top_movers_single_conditional_aggregate(spark):
    # one year-filtered scan + one conditional agg; a two-subquery
    # self-join formulation would show two parquet scans
    p = plan(QUERIES["agg_top_movers"](spark, SF_DIR), "simple")
    assert p.count("Scan parquet") == 1
    assert "TakeOrderedAndProject" in p


def test_gini_data_sort_is_bucket_partitioned(spark):
    # the data-sized local-rank window must partition on (grp, bkt) —
    # a grp-only window is a one-task-per-group sort (the 14.2x 100x
    # regression BASELINE.md §4 records); everything after the
    # per-bucket reduce is census-sized
    p = plan(QUERIES["stats_gini_revenue"](spark, SF_DIR), "simple")
    assert "windowspecdefinition(grp" in p
    import re

    m = re.search(r"Exchange hashpartitioning\(grp#\d+, bkt#\d+", p)
    assert m, "local rank window lost its (grp, bkt) partitioning"


def test_concurrency_data_window_is_bucket_partitioned(spark):
    # the rewritten sweep line: the data-sized running-sum window must
    # partition on (key, __bkt) — a key-only window would serialize a
    # 100 TB key into one task (the ev_concurrency r6 perf flag);
    # the key-only offset window runs over the KB-sized bucket frame
    import re

    df = QUERIES["ev_concurrency"](spark, SF_DIR)
    p = plan(df, "simple")
    assert re.search(
        r"Exchange hashpartitioning\(event_type#\d+, __bkt#\d+", p
    ), "local running-sum window lost its (key, bucket) partitioning"
    # round-9 policy: census and offsets are keys-sized frames, so they
    # are plain equi-joins with NO forced broadcast hint (a hint there
    # is an OOM for per-user keys at 100x). AQE must still turn them
    # into broadcasts AT RUNTIME while they fit — assert on the
    # executed adaptive plan, not the static one.
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert executed.count("BroadcastHashJoin") >= 2, executed[:2000]


def test_semantic_dedup_arrow_no_pair_join_no_hof(spark):
    # the registered query runs the ARROW engine: pair enumeration is
    # a per-cluster FlatMapGroupsInPandas (one cid shuffle), assignment
    # is a mapInPandas scan — no pair join, no crossJoin towers, no
    # interpreted higher-order cosine expressions anywhere
    p = plan(QUERIES["semdedup_prune"](spark, SF_DIR), "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "FlatMapGroupsInPandas" in p  # the per-cluster prune
    assert "zip_with" not in p  # the interpreted cosine is gone


def test_semantic_dedup_expr_pairs_equi_join_not_nested_loop(spark):
    # the expression SPEC path: within-cluster pair enumeration must be
    # a cid-keyed equi join with the cosine as a post-join filter — a
    # nested-loop pair scan is the all-pairs O(n^2) this operator
    # exists to avoid. The only nested-loop joins allowed are the k-row
    # codebook broadcasts inside kmeans_assign (BuildRight, Cross over
    # a KB frame).
    import re

    from stockpy_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = semantic_dedup(emb, "embedding", "vec_id", k=8, threshold=0.4)
    p = plan(df, "simple")
    assert "CartesianProduct" not in p
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin) \[cid", p), (
        "pair enumeration lost its cid equi-join"
    )
    for line in p.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "BuildRight, Cross" in line  # bounded codebook cross
    # the assignment tower materializes once (localCheckpoint), not
    # once per consumer
    assert p.count("windowspecdefinition(__rid") <= 1


def test_basket_rules_single_data_shuffle_no_window(spark):
    # the rank_by='id' array miner: pair generation happens IN-ARRAY,
    # so the plan has no row_number window at all and no join between
    # data-sized frames — only the basket fold, the pair aggregate,
    # the marginal aggregate, the tiny post-HAVING joins, and the
    # 1-row basket-census cross
    p = plan(QUERIES["basket_rules"](spark, SF_DIR), "simple")
    assert "Window" not in p
    assert "CartesianProduct" not in p
    for line in p.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "BuildRight, Cross" in line  # the 1-row nb census


def test_kll_rollup_partial_agg_before_exchange(spark):
    # fine sketches must partial-aggregate map-side (KB of state per
    # bucket pre-shuffle), like the HLL twin
    p = plan(QUERIES["gate_kll_rollup"](spark, SF_DIR), "formatted")
    assert "kll_sketch_agg_double" in p.lower() or "kllsketchagg" in p.lower()
    assert "partial" in p.lower()


def test_ols2_single_aggregate_scan(spark):
    # nine moments, one scan, one shuffle: more than one data exchange
    # means the moment pass stopped fusing
    p = plan(QUERIES["stats_ols2"](spark, SF_DIR), "simple")
    assert p.count("Exchange hashpartitioning") == 1


def test_dynamic_partition_pruning_on_day_join(spark, tmp_path):
    # the 100 TB scan-killer feature check: joining the day-partitioned
    # fact against a FILTERED dim on the partition column must inject a
    # runtime dynamicpruning expression into the fact scan's
    # PartitionFilters — so only the dim's surviving days are read,
    # decided at execution time, not by a static literal. A regression
    # here (join rewritten off the partition column, dim no longer
    # broadcastable) silently turns a 2-partition read into a full scan.
    from stockpy_spark.sources.hive_fixture import ensure_events_by_day

    root = ensure_events_by_day(spark, SF_DIR)
    fact = spark.read.parquet(root)
    days = sorted(
        r.dataproc for r in fact.select("dataproc").distinct().collect()
    )[:2]
    dim_path = str(tmp_path / "day_dim")
    spark.createDataFrame(
        [(d, 1) for d in days], "dataproc string, flag int"
    ).write.parquet(dim_path)
    dim = spark.read.parquet(dim_path).filter(F.col("flag") == 1)
    j = fact.join(dim, "dataproc").groupBy("dataproc").count()
    p = plan(j, "formatted")
    assert "dynamicpruning" in p.lower(), "DPP did not reach the fact scan"


def test_runtime_bloom_filter_reaches_fact_scan(spark):
    # the row-level twin of the DPP guard: a selective dim filter on a
    # shuffle join must inject a runtime bloom filter on the fact side
    # (BloomFilterMightContain over a bloom_filter_agg subquery), so
    # fact rows that cannot match die before the shuffle instead of
    # crossing the wire — at 100 TB the difference between shuffling
    # the full fact and shuffling the matching slice. Thresholds are
    # lowered because at test SF the fact scan is below the 10 GB
    # application-side default; the PLAN SHAPE is what's pinned.
    to_restore = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": None,
        "spark.sql.autoBroadcastJoinThreshold": None,
    }
    for k in to_restore:
        try:
            to_restore[k] = spark.conf.get(k)
        except Exception:
            to_restore[k] = None
    try:
        assert spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.enabled"
        ) == "true"
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold", "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in opt.lower(), opt[:1500]
    finally:
        for k, v in to_restore.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_headline_corpus_no_unbounded_nested_loops(spark):
    # standing corpus guard (round 9): across EVERY headline query's
    # plan, no CartesianProduct at all, and BroadcastNestedLoopJoin
    # only where the broadcast side is bounded BY CONSTRUCTION — a
    # 1-row census/stat frame or a k-row codebook — never a data-sized
    # frame. A new query (or a regression in an old one) that sneaks
    # in an unbounded nested loop fails here by name.
    from bench import HEADLINE

    # each entry's BNLJ build side is a constant-size frame:
    #   1-row corpus/stat censuses: bm25 idf base, psi/ks bin edges,
    #     welch moment pair, pareto frontier census, lm vocab census,
    #     basket N-baskets row, cosine query norms, dsir's grand-total
    #     (T, R) pair feeding the add-1-smoothed log ratios
    #   k-row codebooks: kmeans centroids (k=8)
    bounded_bnlj = {
        "sim_cosine_topk",
        "emb_kmeans_assign",
        "text_bm25_topk",
        "text_lm_perplexity",
        "pareto_frontier",
        "drift_psi_value",
        "drift_ks_value",
        "stats_welch_ttest",
        "basket_rules",
        "sample_dsir_weights",
        # spearman's per-column (min, max) range census — 1 row by
        # construction (an agg with no grouping), broadcast onto the
        # distinct-value table to derive bucket ids
        "stats_spearman",
        # r14 headline additions (mirrors tools/plan_lint.py BNLJ_OK):
        # kn's 1-row distinct-bigram-total census; the release
        # pipeline's pack-stage B-row bucket-edge array + NB 1-row
        # census crosses
        "text_kn_perplexity",
        "pipeline_data_release",
    }
    offenders = {}
    for name in HEADLINE:
        p = plan(QUERIES[name](spark, SF_DIR), "simple")
        flags = []
        if "CartesianProduct" in p:
            flags.append("cartesian")
        if "BroadcastNestedLoopJoin" in p and name not in bounded_bnlj:
            flags.append("unexpected-bnlj")
        if flags:
            offenders[name] = flags
    assert not offenders, offenders


def test_image_queries_prune_scan_to_doc_id(spark):
    """Column pruning must reach the parquet scan of the image-family
    queries: they derive everything from doc_id (payloads are
    generated, not stored), so a scan reading the text/embedding
    columns would ship the whole documents table into a pipeline that
    never looks at it."""
    for name in ("mm_phash_neardup", "mm_equalize_hist"):
        p = plan(QUERIES[name](spark, SF_DIR), "formatted")
        schemas = [l for l in p.splitlines() if "ReadSchema" in l]
        assert schemas, name
        for line in schemas:
            assert "struct<doc_id:bigint>" in line, (name, line)


def test_bucket_search_representation_stays_compact_under_window(spark):
    """Round-12 representation-stability pin (BASELINE.md "three
    representations" post-mortem): the freq-bucket binary search must
    survive the optimizer as the F.aggregate LAMBDA fold — a nested or
    chained-projection form gets inlined under the window into a
    ~4^log2(B) expression that OOMs a default-heap session at plan
    time. The optimized plan must stay KB-sized (the monster is MBs
    before it dies) and carry the un-inlinable lambda.

    At this SF both columns sit under RANK_LITERAL_MAX and rank via
    plan-literal tables, so the bucketed search is forced by turning
    that tier off; the default tier must plan as a LocalRelation."""
    import stockpy_spark.operators.stats as stats_mod
    from stockpy_spark.operators.stats import spearman_corr_pairs

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    cols = ["l_extendedprice", "l_quantity"]
    p = spearman_corr_pairs(li, cols)._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in p  # default tier: literal rank tables
    prev = stats_mod.RANK_LITERAL_MAX
    stats_mod.RANK_LITERAL_MAX = 0
    try:
        df = spearman_corr_pairs(li, cols)
    finally:
        stats_mod.RANK_LITERAL_MAX = prev
    p = df._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction" in p  # the bound-variable fold survived
    assert len(p) < 100_000, f"bucket search re-inlined: plan {len(p)} chars"


def test_spearman_rank_cumsum_is_bucketed_not_global(spark):
    """Round-10 verdict #1: the distinct-value cumulative sum must
    partition by the range bucket — a partition-less window over the
    value axis one-task-sorts the corpus when the column is
    continuous (distinct ~ rows). The only allowed partition-less
    window is the n_buckets-row offset closure (KB frame).

    r17: columns at or below RANK_LITERAL_MAX distinct values rank
    via plan-literal tables — no value window AT ALL (the strongest
    form of the contract). The bucketed-window shape now applies to
    columns ABOVE the literal tier, exercised here by forcing the
    tier off; both shapes must stay free of a partition-less window
    over the value axis."""
    import stockpy_spark.operators.stats as stats_mod
    from stockpy_spark.operators.stats import spearman_corr_pairs

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    # default tiers: at this SF both columns are literal-ranked —
    # no windowspecdefinition over the raw value anywhere
    p = plan(spearman_corr_pairs(li, ["l_extendedprice", "l_quantity"]))
    assert "windowspecdefinition(__v#" not in p
    prev = stats_mod.RANK_LITERAL_MAX
    stats_mod.RANK_LITERAL_MAX = 0
    try:
        p = plan(spearman_corr_pairs(li, ["l_extendedprice", "l_quantity"]))
    finally:
        stats_mod.RANK_LITERAL_MAX = prev
    # a window ORDERED on the raw value with no partition column
    # would print windowspecdefinition(__v#... first
    assert "windowspecdefinition(__v#" not in p
    assert "windowspecdefinition(__bkt#" in p  # bucketed local cumsum


def test_target_encode_and_k_anonymity_degrade_to_smj_unhinted(spark):
    """Round-10 verdict #2/#3: the category-sized LUT and the
    quasi-combination counts must NOT be forced broadcasts (the q3
    fact-in-disguise lesson) — with the broadcast threshold disabled,
    both joins must degrade to shuffle joins, while the 1-row
    global-mean census stays a (hinted) broadcast."""
    from stockpy_spark.operators.privacy import k_anonymity_audit
    from stockpy_spark.operators.sampling import target_encode_oof

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
        te = target_encode_oof(
            cust, "c_mktsegment", "c_acctbal", "c_custkey"
        )
        p = plan(te, "simple")
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p, p[:1200]
        # the 1-row census is still a broadcast (scalar-subquery idiom)
        assert "BroadcastNestedLoopJoin" in p

        ka = k_anonymity_audit(cust, ["c_mktsegment", "c_nationkey"], 5)
        pk = plan(ka, "simple")
        assert "SortMergeJoin" in pk or "ShuffledHashJoin" in pk, pk[:1200]
        assert "BroadcastHashJoin" not in pk
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_domain_cap_rank_window_is_bucketed(spark):
    """Round-10 verdict #4: the per-domain quota rank must partition
    by (domain, draw-bucket), never by domain alone — a mega-domain
    would otherwise sort through one task before the cap discards
    anything."""
    from stockpy_spark.operators.webfilter import (
        blocklist_screen,
        domain_diversity_cap,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
        "url",
        F.concat(F.lit("https://site"), (F.col("doc_id") % 7), F.lit(".com/p")),
    )
    out = domain_diversity_cap(
        blocklist_screen(docs, "url", ["site0.com"]), "doc_id", 10
    )
    p = plan(out)
    win_lines = [
        l for l in p.splitlines()
        if "windowspecdefinition" in l and "__draw" in l
    ]
    assert win_lines, "rank window missing from plan"
    for line in win_lines:
        assert "__bkt" in line, line


def test_last_touch_is_one_window_no_pair_join(spark):
    """Round-10 verdict #5: last-touch attribution is the as-of/LOCF
    idiom — one user-keyed window over the unioned event stream, zero
    conv x touch join (a hot user would pay quadratic pair
    enumeration before the band filter)."""
    from stockpy_spark.operators.behavior import last_touch_attribution

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", "event_id", "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    out = last_touch_attribution(
        ev, ["view", "click"], "purchase", 86400
    )
    p = plan(out, "simple")
    assert "Join" not in p, p[:1200]
    assert "Window" in p


def test_k_anonymity_aqe_broadcasts_small_combination_frame(spark):
    """The positive half of the unhinted-join contract (round-11): with
    the default threshold, AQE's runtime stats convert the sizes join
    to a broadcast when the combination frame is actually small — the
    static explain shows SMJ (derived frame, unknown size), so this
    asserts on the EXECUTED adaptive plan. (Caught during round 11:
    reading executedPlan off an un-executed QueryExecution shows the
    initial plan — isFinalPlan=false — because actions clone the
    plan; always execute the SAME DataFrame you inspect.)"""
    from stockpy_spark.operators.privacy import k_anonymity_audit

    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    out = k_anonymity_audit(
        cust, ["c_mktsegment", "c_nationkey"], 5
    ).groupBy().count()
    out.collect()
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in p
    assert "BroadcastHashJoin" in p, p[:1500]


def _lint():
    # tools/ is not a package; load plan_lint by path so the lint
    # logic itself (not just its per-round sweep) is under test
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "plan_lint", os.path.join(os.path.dirname(__file__), "..", "tools", "plan_lint.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_plan_lint_catches_the_disease_classes(spark):
    """The corpus-wide lint (tools/plan_lint.py) must actually detect
    each anti-pattern class it exists for — a lint that silently goes
    blind is worse than no lint (round-9's landing-rule lesson applied
    to plan hygiene)."""
    lint = _lint()
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")

    # 1. partition-less window over a data-sized frame
    from pyspark.sql.window import Window

    sick = li.withColumn(
        "rn", F.row_number().over(Window.orderBy("l_extendedprice"))
    )
    offenses, _ = lint.lint_one("not_allowlisted", sick)
    assert any("partition-less Window" in o for o in offenses), offenses

    # 2. unallowlisted nested-loop / cartesian pair enumeration
    pairs = li.alias("a").crossJoin(li.alias("b"))
    offenses, _ = lint.lint_one("not_allowlisted", pairs)
    assert any(
        "Cartesian" in o or "BroadcastNestedLoopJoin" in o for o in offenses
    ), offenses

    # 3. row-at-a-time Python UDF
    from pyspark.sql.types import LongType

    slow = F.udf(lambda x: x + 1, LongType())
    offenses, _ = lint.lint_one(
        "not_allowlisted", li.select(slow("l_linenumber").alias("y"))
    )
    assert any("BatchEvalPython" in o for o in offenses), offenses

    # 4. a clean declarative aggregate carries no offense
    clean = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    offenses, used = lint.lint_one("whatever", clean)
    assert offenses == [] and used == set()


def test_plan_lint_allowlist_is_keyed_and_consumed(spark):
    """Allowlisted queries pass AND report which entry they consumed —
    the staleness accounting the full sweep uses to keep the lists
    honest (an entry nothing consumes is a documentation lie)."""
    lint = _lint()
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    census = li.agg(F.max("l_quantity").alias("mx"))
    crossed = li.crossJoin(F.broadcast(census))
    name = "stats_kde_grid"  # any real BNLJ_OK key
    assert name in lint.BNLJ_OK
    offenses, used = lint.lint_one(name, crossed)
    assert offenses == []
    assert ("bnlj", name) in used


def test_text_count_tables_stay_checkpoint_pinned(spark):
    """Round-12 continuation regression guard: the lm / KN / PMI count
    tables are distinct-collapse checkpoint-pinned (measured 2.4-2.9x
    at sf10 — BASELINE.md), and the pin's signature in the optimized
    logical plan is a LogicalRDD leaf where the count-aggregate
    subtree used to be. A refactor that silently drops the
    localCheckpoint re-opens the multi-consumer replanning this
    guard exists to keep closed."""
    from stockpy_spark.operators.textstats import (
        kn_perplexity_scores,
        lm_perplexity_scores,
        pmi_collocations,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for name, df in (
        ("lm", lm_perplexity_scores(docs, "text", "doc_id")),
        ("kn", kn_perplexity_scores(docs, "text", "doc_id")),
        ("pmi", pmi_collocations(docs, "text", "doc_id")),
    ):
        p = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in p, (name, "checkpoint pin lost", p[:800])
