"""Connected-components unit tests (the oracle twin is
graph_dedup_components — exact recursive-CTE transitive closure; these
cover shapes the 500-doc fixture graph may not contain)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stockpy_spark.operators.graph import connected_components, dedup_components


def _graph(spark, n_vertices, edge_list):
    vertices = spark.range(n_vertices).select(F.col("id").alias("v"))
    edges = spark.createDataFrame(edge_list or [(0, 0)], "src long, dst long")
    if not edge_list:
        edges = edges.limit(0)
    return vertices, edges


def _cc(spark, n_vertices, edge_list, **kw):
    vertices, edges = _graph(spark, n_vertices, edge_list)
    rows = connected_components(vertices, edges, "v", "src", "dst", **kw).collect()
    return {r.v: r.label for r in rows}


def test_chain_clique_and_singletons(spark):
    # 0-1-2-3 chain; 4-5-6 triangle; 7 isolated; 8-9 pair
    got = _cc(spark, 10, [(0, 1), (1, 2), (2, 3), (4, 5), (5, 6), (4, 6), (8, 9)])
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 4, 7: 7, 8: 8, 9: 8}


def test_edge_direction_ignored_and_long_chain(spark):
    # reversed-direction 8-chain: diameter 8, needs several rounds
    edges = [(i + 1, i) for i in range(8)]
    got = _cc(spark, 9, edges)
    assert set(got.values()) == {0}


def test_empty_edges_all_singletons(spark):
    got = _cc(spark, 5, [])
    assert got == {v: v for v in range(5)}


def test_max_iter_raises(spark):
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc(spark, 9, [(i + 1, i) for i in range(8)], max_iter=2)


def test_dedup_components_representative_flag(spark):
    docs = spark.range(4).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([(0, 2), (2, 3)], "d1 long, d2 long")
    rows = dedup_components(docs, pairs).collect()
    by_id = {r.doc_id: r for r in rows}
    assert by_id[0].component == 0 and by_id[0].is_representative
    assert by_id[2].component == 0 and not by_id[2].is_representative
    assert by_id[3].component == 0 and not by_id[3].is_representative
    assert by_id[1].component == 1 and by_id[1].is_representative
    kept = sorted(r.doc_id for r in rows if r.is_representative)
    assert kept == [0, 1]


def test_relay_endpoint_bridges_components(spark):
    """An edge endpoint missing from `vertices` must still RELAY labels
    (components bridged only through it merge) without surfacing in the
    output or becoming a component label."""
    # vertices 10, 20, 30; relay vertex 5 (absent) bridges 10-5-20;
    # 5 < 10 so the naive propagated min would be the non-vertex 5.
    vertices = spark.createDataFrame([(10,), (20,), (30,)], "v long")
    edges = spark.createDataFrame([(10, 5), (5, 20)], "src long, dst long")
    rows = connected_components(vertices, edges, "v", "src", "dst").collect()
    got = {r.v: r.label for r in rows}
    assert got == {10: 10, 20: 10, 30: 30}  # bridged, labeled by min VERTEX
    assert set(got.keys()) == {10, 20, 30}  # relay vertex not in output


def test_star_edges_give_same_components_as_all_pairs(spark):
    """A bucket is a clique in the LSH candidate graph; the star on the
    bucket's min preserves its connectivity, so components from
    minhash_lsh_star_edges must equal components from the all-pairs
    emitter on the same corpus."""
    from stockpy_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_star_edges,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ids = docs.select("doc_id")
    star = minhash_lsh_star_edges(docs, "text", "doc_id", num_hashes=12, bands=2)
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", num_hashes=12, bands=2)
    cc_star = {
        r.doc_id: r.label
        for r in connected_components(ids, star, "doc_id", "d1", "d2").collect()
    }
    cc_pairs = {
        r.doc_id: r.label
        for r in connected_components(ids, pairs, "doc_id", "d1", "d2").collect()
    }
    assert cc_star == cc_pairs
    assert any(v != k for k, v in cc_star.items())  # non-trivial clusters exist



def test_unread_observation_falls_back_to_counted_frontier(spark, sf_dir, monkeypatch):
    """Each round reads its changed-row count from an Observation that
    fires during the pin. When that non-blocking read comes back empty
    (a Spark version that stops delivering metrics at checkpoint time),
    the round counts the frontier instead, and the labels must equal the
    observed path's on the star-edge fixture."""
    import pyspark.sql
    from pyspark.sql import Observation

    from stockpy_spark.operators.dedup import minhash_lsh_star_edges

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.select("doc_id")
    star = minhash_lsh_star_edges(docs, "text", "doc_id", num_hashes=12, bands=2)

    def labels():
        rows = connected_components(ids, star, "doc_id", "d1", "d2").collect()
        return {r.doc_id: r.label for r in rows}

    observed = labels()

    reads = []

    class _EmptyRead:
        def isEmpty(self):
            return True

    class _UnreadJo:
        def __init__(self, jo):
            self._real = jo

        def getOrEmpty(self):
            reads.append(1)
            return _EmptyRead()

        def __getattr__(self, name):
            return getattr(self._real, name)

    class _UnreadObservation(Observation):
        def _on(self, df, *exprs):
            out = super()._on(df, *exprs)
            self._jo = _UnreadJo(self._jo)
            return out

    monkeypatch.setattr(pyspark.sql, "Observation", _UnreadObservation)
    counted = labels()
    assert reads, "the round loop never read its Observation"
    assert counted == observed
    assert any(v != k for k, v in counted.items())

def test_hot_lsh_bucket_collapses_to_one_representative(spark):
    """A boilerplate-heavy corpus puts most documents into ONE LSH bucket
    in every band. The star-edge components must keep one
    representative for the byte-identical block and every unique doc
    as its own (BASELINE.md §4 "CC hot-bucket skew probe" times the
    same shape at 1M docs)."""
    from stockpy_spark.operators.dedup import minhash_lsh_star_edges

    n, n_dup = 200, 180
    boiler = (
        "terms of service apply to all content on this page please read "
        "carefully before proceeding all rights reserved contact support"
    )
    # unique docs: 8 tokens carved from a per-id sha256, so their token
    # sets are pairwise disjoint
    h = F.sha2(F.concat(F.lit("doc-"), F.col("id").cast("string")), 256)
    unique_text = F.concat_ws(
        " ", *[F.substring(h, 1 + 8 * i, 8) for i in range(8)]
    )
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < n_dup, F.lit(boiler))
        .otherwise(unique_text)
        .alias("text"),
    )
    pairs = minhash_lsh_star_edges(docs, "text", "doc_id", num_hashes=12, bands=2)
    reps = {
        r.doc_id
        for r in dedup_components(docs.select("doc_id"), pairs).collect()
        if r.is_representative
    }
    assert reps == {0} | set(range(n_dup, n))


def test_weighted_sssp_longer_hop_can_be_cheaper(spark):
    """The property BFS lacks: a 2-edge path (1+1=2) beats the direct
    1-edge cost-10 path, so the vertex must IMPROVE in round 2 and
    re-enter the frontier; unreachable-within-hops vertices are absent;
    seeds sit at 0."""
    from stockpy_spark.operators.graph import weighted_sssp_hops

    edges = spark.createDataFrame(
        [
            (1, 2, 10),  # direct but expensive
            (1, 3, 1),
            (3, 2, 1),   # cheap detour: dist(2) = 2, found in round 2
            (2, 4, 1),   # within 3 hops via the detour: dist(4) = 3
            (5, 6, 1),   # disconnected from the seed
        ],
        "src long, dst long, w long",
    )
    seeds = spark.createDataFrame([(1,)], "v long")
    out = {r.v: r.dist for r in
           weighted_sssp_hops(edges, seeds, max_hops=3).collect()}
    assert out == {1: 0, 3: 1, 2: 2, 4: 3}

    # hop bound respected: with max_hops=1 the expensive direct edge wins
    out1 = {r.v: r.dist for r in
            weighted_sssp_hops(edges, seeds, max_hops=1).collect()}
    assert out1 == {1: 0, 2: 10, 3: 1}


def test_label_propagation_waves_majority_and_freeze(spark):
    """Frozen-label propagation (operators/graph.py
    label_propagation): labels spread one hop per round (chain 1-2-3-4
    from seed 1 labels at rounds 1/2/3), ties among labeled neighbors
    resolve to the smallest label, seeds never relabel, and nodes
    beyond `rounds` hops stay NULL."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "doc_id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (6, 5), (7, 5)], "d1 long, d2 long"
    )
    seeds = spark.createDataFrame(
        [(1, "a"), (6, "b"), (7, "a")], "doc_id long, label string"
    )
    from stockpy_spark.operators.graph import label_propagation

    out = {
        r["doc_id"]: (r["label"], r["labeled_round"])
        for r in label_propagation(nodes, edges, seeds, rounds=3).collect()
    }
    assert out[1] == ("a", 0) and out[6] == ("b", 0) and out[7] == ("a", 0)
    assert out[2] == ("a", 1)
    assert out[3] == ("a", 2)
    assert out[4] == ("a", 3)
    assert out[5] == ("a", 1)  # tie b/a among labeled neighbors -> min
    assert out[8] == (None, None)  # unreached
