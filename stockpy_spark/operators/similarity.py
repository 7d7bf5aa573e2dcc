"""Similarity search over embedding columns (array<float>).

Three paths:

- brute_force_topk: exact cosine top-k. The query set is broadcast (it is
  small by construction); the corpus streams through executors once, each
  partition keeps a per-query heap via TakeOrdered-style window. Exact
  and embarrassingly parallel — the right baseline, and the right
  *verify* stage at any scale.

- ann_lsh_topk: approximate path for when queries x corpus is too big.
  Random-hyperplane LSH: s deterministic pseudo-random hyperplanes (md5
  sign trick, so results are reproducible and testable) give each vector
  an s-bit signature; candidates = corpus vectors whose signature is
  within `probe_hamming` of the query's. Candidate generation is a
  multi-probe EQUI-join: each query is exploded into every signature in
  its hamming ball (sum of C(n_planes, i) for i <= probe_hamming — 79
  probes at 12 planes, radius 2) and hash-joined on the corpus
  signature, so the cost is one corpus scan + a hash probe per row, not
  an O(corpus x queries) nested-loop signature comparison. Exact cosine
  re-ranks the candidates. At 100 TB the signature pass is one linear
  scan and the rerank touches only hash-bucket collisions.

- ivf_topk: the other classic ANN layout — IVF (inverted-file) coarse
  quantization. The corpus is partitioned into n_centroids Voronoi
  cells; a query scans only its n_probe nearest cells, i.e. roughly
  n_probe/n_centroids of the corpus. Centroid seeding and Lloyd
  refinement are deterministic (lowest-id seeds), so results are
  reproducible. Where LSH shines on hamming-friendly data, IVF wins
  when the corpus has cluster structure — both reuse the same exact
  cosine rerank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from stockpy_spark.operators.pinning import pin

from stockpy_spark.functions.text import cosine_similarity


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k per query. Returns (query_id, neighbor_id,
    cosine, rank), cosine rounded to 6, rank deterministic (ties by
    neighbor id)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    joined = c.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = joined.withColumn(
        "cosine", F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _plane(j: int, dim: int) -> list[float]:
    """Deterministic +-1 hyperplane j: sign d = first md5('j|d') nibble
    >= 8. No RNG state to ship to executors; reproducible everywhere."""
    import hashlib

    return [
        1.0 if int(hashlib.md5(f"{j}|{d}".encode()).hexdigest()[0], 16) >= 8 else -1.0
        for d in range(dim)
    ]


def _hyperplane_signature(vec_col: F.Column, dim: int, n_planes: int) -> F.Column:
    """s-bit signature: bit j = sign of <v, plane_j>. One zip_with fold
    per plane — stays inside codegen, no UDF."""
    sig = F.lit(0)
    for j in range(n_planes):
        plane = F.array(*[F.lit(x) for x in _plane(j, dim)])
        dot = F.aggregate(
            F.zip_with(vec_col, plane, lambda x, p: x.cast("double") * p),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return sig.cast("int")


def _hamming_ball_masks(n_planes: int, radius: int) -> list[int]:
    """All XOR masks with <= radius of the low n_planes bits set —
    the multi-probe offsets enumerating a signature's hamming ball.
    79 masks at (12, 2); computed driver-side once, shipped as
    literals."""
    from itertools import combinations

    masks = [0]
    for r in range(1, radius + 1):
        for bits in combinations(range(n_planes), r):
            m = 0
            for b in bits:
                m |= 1 << b
            masks.append(m)
    return masks


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    dim: int,
    n_planes: int = 12,
    probe_hamming: int = 2,
    exclude_self: bool = True,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Approximate top-k: hyperplane-LSH candidate generation + exact
    cosine rerank. Candidates = corpus rows whose signature hamming
    distance from the query signature <= probe_hamming, found by
    exploding each query into its full hamming ball of probe
    signatures and EQUI-joining on the corpus signature. Each
    (query, candidate) pair matches exactly one probe mask (XOR is a
    bijection), so the equi-join emits no duplicates and returns the
    identical candidate set to a hamming-distance predicate — as a
    hash join instead of a nested-loop scan.

    ``broadcast_queries=True`` fits the interactive case (a query
    batch small enough to ship to every executor, even x79 probes).
    For offline batch scoring where the query set itself is large,
    pass ``False``: the equi-join then shuffles both sides on the
    probe signature — still a hash join on a bounded key domain
    (2^n_planes buckets), never a cross product, which is exactly why
    the multi-probe formulation matters at that scale."""
    masks = _hamming_ball_masks(n_planes, probe_hamming)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _hyperplane_signature(F.col(vec_col), dim, n_planes).alias("qsig"),
    ).withColumn(
        "__mask", F.explode(F.array(*[F.lit(m) for m in masks]))
    ).withColumn(
        "csig", F.col("__mask").bitwiseXOR(F.col("qsig")).cast("int")
    ).drop("__mask")
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _hyperplane_signature(F.col(vec_col), dim, n_planes).alias("csig"),
    )
    joined = c.join(F.broadcast(q) if broadcast_queries else q, "csig")
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = joined.withColumn(
        "cosine", F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _assign_to_centroids(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Add `cid` = nearest (max-cosine) centroid for each vector row.
    Centroids are broadcast; cost is one corpus scan."""
    scored = vectors.crossJoin(F.broadcast(centroids)).withColumn(
        "__sim", cosine_similarity(F.col("__vec"), F.col("__cvec"))
    )
    w = Window.partitionBy("__rid").orderBy(F.col("__sim").desc(), F.col("cid"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__sim", "__cvec")
    )


def ivf_centroids(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    n_centroids: int,
    refine_iterations: int = 1,
) -> DataFrame:
    """(cid, __cvec): deterministic IVF codebook. Seeds = the
    n_centroids lowest-id corpus vectors; each Lloyd iteration assigns
    every vector to its nearest centroid (one broadcast scan) and
    recomputes centroids as the element-wise mean (a posexplode +
    groupBy over n_centroids x dim cells — tiny).

    The codebook (n_centroids x dim floats — KBs) is materialized to
    the driver after every iteration and re-emitted as a literal frame:
    iterative lineage stays flat, and downstream consumers (cell
    assignment, query probing) each trigger exactly one corpus scan
    instead of re-running the whole training sub-plan. This is the
    standard Spark k-means structure — the model is small, the data is
    not."""
    spark = corpus.sparkSession
    # rank seeds by id on the limited frame — a constant-ordered window
    # after orderBy().limit() is NOT guaranteed to preserve the sort on
    # a multi-partition cluster, so the cid assignment orders by id
    # explicitly to keep "lowest-id seeds" deterministic everywhere.
    seeds = (
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("__sid"), F.col(vec_col).alias("__cvec"))
        .withColumn("cid", F.row_number().over(Window.orderBy("__sid")) - 1)
    )
    cent = seeds.select("cid", "__cvec")
    vecs = corpus.select(
        F.col(id_col).alias("__rid"), F.col(vec_col).alias("__vec")
    )
    for _ in range(refine_iterations):
        assigned = _assign_to_centroids(vecs, cent)
        cent = (
            assigned.select("cid", F.posexplode("__vec").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"].cast("float"),
                ).alias("__cvec")
            )
        )
    rows = [(int(r["cid"]), list(r["__cvec"])) for r in cent.collect()]
    return spark.createDataFrame(rows, "cid int, __cvec array<float>")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    n_centroids: int = 16,
    n_probe: int = 4,
    refine_iterations: int = 1,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k via IVF: nearest-cell probing + exact cosine
    rerank inside the probed cells. Returns (query_id, neighbor_id,
    cosine, rank) like the exact path."""
    cent = ivf_centroids(corpus, vec_col, id_col, n_centroids, refine_iterations)
    corpus_cells = _assign_to_centroids(
        corpus.select(F.col(id_col).alias("__rid"), F.col(vec_col).alias("__vec")),
        cent,
    ).select(
        F.col("__rid").alias("neighbor_id"), F.col("__vec").alias("cv"), "cid"
    )
    # per query: its n_probe nearest centroids
    q = queries.select(F.col(id_col).alias("__rid"), F.col(vec_col).alias("__vec"))
    q_scored = q.crossJoin(F.broadcast(cent)).withColumn(
        "__sim", cosine_similarity(F.col("__vec"), F.col("__cvec"))
    )
    wq = Window.partitionBy("__rid").orderBy(F.col("__sim").desc(), F.col("cid"))
    q_probes = (
        q_scored.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= n_probe)
        .select(F.col("__rid").alias("query_id"), F.col("__vec").alias("qv"), "cid")
    )
    joined = corpus_cells.join(F.broadcast(q_probes), "cid")
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = joined.withColumn(
        "cosine", F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def label_centroids(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int | None = None,
) -> DataFrame:
    """Exact per-label centroid, one value per (label, dim) row.

    posexplode + groupBy is the scalable formulation: the explode is a
    narrow 64x row inflation that partial-aggregates map-side before
    the single (label, dim)-keyed shuffle — versus collect_list per
    label, which ships every vector to one reducer and caps group size
    at executor memory. Long (label, dim, centroid) output composes
    directly with further relational ops; reassemble arrays only at the
    consumption edge (array_sort(collect_list(struct(dim, val)))) where
    the group count is already small.

    This is also the exact counterpart of ivf_centroids' k-means seed
    step — same shape, supervised labels instead of learned assignment.
    """
    out = (
        embeddings.select(
            F.col(label_col).alias("label"),
            F.posexplode(F.col(vec_col)).alias("dim", "v"),
        )
        .groupBy("label", "dim")
        .agg(F.avg("v").alias("centroid"))
    )
    if round_to is not None:
        out = out.withColumn("centroid", F.round("centroid", round_to))
    return out


def kmeans_assign(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    dp: int = 6,
) -> DataFrame:
    """Deterministic Lloyd k-means: seeds = the k lowest-id vectors, one
    refinement pass (assign -> recompute means), then a final assignment
    to the refined centroids. Returns (id_col, cid, sim).

    Unlike ivf_centroids (an ANN component whose contract is a recall
    gate), this variant is engineered to be *replayable by an
    independent engine*: every cross-engine-visible float — the cosine
    used for the argmax and the recomputed centroid coordinates — is
    rounded to ``dp`` decimals at the same algorithmic point, so a SQL
    engine re-running the identical two passes reproduces the exact
    assignment table. That puts a distributed iterative ML algorithm
    under the full value-hash oracle rather than a weaker quality gate.

    Scale shape: each pass broadcasts the KB-sized codebook and makes
    ONE corpus scan (crossJoin with k rows + per-row argmax window
    keyed by the vector id); the centroid update is a posexplode
    aggregate over k x dim cells (map-side combined). The only
    ``collect`` is the k x dim codebook literal, which flattens the
    iterative lineage exactly like ivf_centroids. Semantic-dedup use:
    cluster then keep one representative per cluster.
    """
    spark = corpus.sparkSession
    vecs = corpus.select(
        F.col(id_col).alias("__rid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__vec"),
    )
    seeds = (
        vecs.orderBy("__rid")
        .limit(k)
        .withColumn("cid", F.row_number().over(Window.orderBy("__rid")) - 1)
        .select("cid", F.col("__vec").alias("__cvec"))
    )

    def _assign(cent: DataFrame) -> DataFrame:
        scored = vecs.crossJoin(F.broadcast(cent)).withColumn(
            "sim", F.round(cosine_similarity(F.col("__vec"), F.col("__cvec")), dp)
        )
        w = Window.partitionBy("__rid").orderBy(F.col("sim").desc(), F.col("cid"))
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__cvec")
        )

    refined = (
        _assign(seeds)
        .select("cid", F.posexplode("__vec").alias("pos", "val"))
        .groupBy("cid", "pos")
        .agg(F.round(F.avg("val"), dp).alias("m"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("__cvec")
        )
    )
    rows = [(int(r["cid"]), list(r["__cvec"])) for r in refined.collect()]
    codebook = spark.createDataFrame(rows, "cid int, __cvec array<double>")
    return _assign(codebook).select(
        F.col("__rid").alias(id_col), "cid", "sim"
    )


def kmeans_assign_arrow(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    dp: int = 6,
) -> DataFrame:
    """Arrow-batched twin of :func:`kmeans_assign` — identical output
    (same seeds, same DataFrame centroid recompute, same rounded-cosine
    argmax with ties to the lowest cid; pytest-pinned equality), but
    the n x k cosine scoring runs as one numpy matmul per batch inside
    mapInPandas instead of interpreted ``aggregate(zip_with(...))``
    higher-order expressions — the third instance of the PQ/BPE
    boundary finding: dense numeric kernels are where Arrow beats
    expression trees (HOFs are evaluated per element, never
    codegen'd). Plan: a KB codebook in the closure + one narrow scan
    per assignment pass, no crossJoin, no per-row window.

    Requires an integral id column: the kernel materializes int64,
    like apply_bpe_merges_arrow, so :func:`kmeans_assign` stays the
    path for any other id type."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    if not isinstance(
        corpus.schema[id_col].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    ):
        raise ValueError(
            f"kmeans_assign_arrow requires an integral id column; "
            f"{id_col} is {corpus.schema[id_col].dataType.simpleString()}"
        )
    vecs = corpus.select(
        F.col(id_col).alias("__rid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__vec"),
    )
    seed_rows = vecs.orderBy("__rid").limit(k).collect()
    seed_rows.sort(key=lambda r: r["__rid"])
    C0 = np.stack([np.asarray(r["__vec"], dtype=np.float64) for r in seed_rows])
    cids0 = np.arange(len(seed_rows), dtype=np.int64)

    def assign_with(C: "np.ndarray", cids: "np.ndarray") -> DataFrame:
        nb = np.sqrt((C * C).sum(axis=1))

        def batch(it):
            for pdf in it:
                if not len(pdf):
                    yield pd.DataFrame(
                        {"__rid": [], "cid": [], "sim": []}
                    ).astype({"__rid": "int64", "cid": "int32", "sim": "float64"})
                    continue
                V = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf["__vec"]]
                )
                na = np.sqrt((V * V).sum(axis=1))
                S = np.round((V @ C.T) / (na[:, None] * nb[None, :]), dp)
                pos = S.argmax(axis=1)  # first max = lowest cid (sorted)
                yield pd.DataFrame(
                    {
                        "__rid": pdf["__rid"].values,
                        "cid": cids[pos].astype("int32"),
                        "sim": S[np.arange(len(pdf)), pos],
                    }
                )

        return vecs.mapInPandas(batch, "__rid long, cid int, sim double")

    a1 = assign_with(C0, cids0)
    refined = (
        a1.join(vecs, "__rid")
        .select("cid", F.posexplode("__vec").alias("pos", "val"))
        .groupBy("cid", "pos")
        .agg(F.round(F.avg("val"), dp).alias("m"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("__cvec")
        )
    )
    rows = sorted(
        ((int(r["cid"]), list(r["__cvec"])) for r in refined.collect())
    )
    C1 = np.stack([np.asarray(v, dtype=np.float64) for _, v in rows])
    cids1 = np.asarray([c for c, _ in rows], dtype=np.int64)
    return assign_with(C1, cids1).withColumnRenamed("__rid", id_col)


def semantic_dedup(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    threshold: float,
    dp: int = 6,
    engine: str = "expr",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster embeddings with
    the deterministic k-means (:func:`kmeans_assign`), then prune
    within-cluster near-duplicates — a vector is dropped when a
    LOWER-ID member of its own cluster has cosine >= ``threshold``
    (the repo-wide min-id keeper rule, so the survivor set is
    order-free and an SQL engine replays it exactly). Returns the
    SURVIVORS as (id_col, cid, sim) — the cluster id and
    centroid-similarity ride along for downstream stratification.

    This is the cluster-blocked scale path of
    ``dedup.embedding_cosine_pairs``: the all-pairs O(n^2) cosine is
    confined to cluster blocks (expected n^2/k pair candidates on
    balanced clusters), which is the whole SemDeDup trick — ``k`` MUST
    rise with the corpus (k ~ sqrt(n), the published recipe's order:
    assignment work n*k and pair work n^2/k then balance at n^1.5,
    the same intrinsic exponent as triangle counting) while the
    cross-cluster pairs (by construction far apart) are never
    enumerated. A FIXED k is quadratic-over-k in disguise: k=8 at 500k
    vectors is ~31G pair candidates — measured and recorded in
    BASELINE.md §4; the registered sf0.01 query pins k=8 only because
    its exact oracle replays that k. Pairing is one cid-keyed equi-join; the cosine is a
    post-join expression filter, so Catalyst keeps it a shuffle hash
    join, never a nested loop. Greedy-sequential SemDeDup (drop against
    KEPT items only) would chain per-cluster; the min-id rule
    over-prunes only in chains (a~b, b~c, a!~c drops both b and c) —
    the standard transitive-conservative trade, same as the LSH
    bucket-min assignment.

    ``engine``: "expr" is the declarative spec (everything builtin
    expressions); "arrow" runs both dense cosine stages as numpy
    kernels (assignment via :func:`kmeans_assign_arrow`, pruning via a
    per-cluster applyInPandas pairwise matrix) — pytest-pinned to
    produce identical survivors. Per-cluster state in the arrow prune
    is one (cluster x dim) block, bounded by design when k ~ sqrt(n)."""
    if engine not in ("expr", "arrow"):
        raise ValueError(f"engine must be 'expr' or 'arrow', got {engine!r}")
    if engine == "arrow":
        return _semantic_dedup_arrow(
            corpus, vec_col, id_col, k, threshold, dp
        )
    assigned = kmeans_assign(corpus, vec_col, id_col, k, dp=dp)
    vecs = corpus.select(
        F.col(id_col).alias("__rid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__vec"),
    )
    members = assigned.join(
        vecs, assigned[id_col] == vecs["__rid"]
    ).select(F.col(id_col).alias("__mid"), "cid", "sim", "__vec")
    # the assignment tower (n x k scoring + per-row argmax) feeds THREE
    # consumers (both pair-join sides + the survivor anti-join); without
    # materialization Spark re-executes it per consumer (measured 3
    # duplicate subplans in the physical plan). localCheckpoint runs the
    # n*k pass once — same move as graph.py's frontier loop.
    members = members.transform(pin)
    a = members.alias("a")
    b = members.alias("b")
    pruned = (
        a.join(b, F.col("a.cid") == F.col("b.cid"))
        .filter(F.col("a.__mid") < F.col("b.__mid"))
        .filter(
            F.round(
                cosine_similarity(F.col("a.__vec"), F.col("b.__vec")), dp
            )
            >= threshold
        )
        .select(F.col("b.__mid").alias("__pruned"))
        .distinct()
    )
    return (
        members.join(
            pruned, members["__mid"] == pruned["__pruned"], "left_anti"
        )
        .select(F.col("__mid").alias(id_col), "cid", "sim")
    )


def _semantic_dedup_arrow(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    threshold: float,
    dp: int,
) -> DataFrame:
    """engine='arrow' plan of :func:`semantic_dedup`: Arrow k-means
    assignment, then ONE applyInPandas pass per cluster computing the
    pairwise rounded-cosine matrix and the min-id prune mask — no pair
    join, no interpreted higher-order cosines."""
    import numpy as np
    import pandas as pd

    assigned = kmeans_assign_arrow(corpus, vec_col, id_col, k, dp=dp)
    vecs = corpus.select(
        F.col(id_col).alias("__rid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__vec"),
    )
    members = assigned.join(vecs, assigned[id_col] == vecs["__rid"]).select(
        F.col(id_col).alias("__mid"), "cid", "sim", "__vec"
    )

    def prune(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("__mid").reset_index(drop=True)
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["__vec"]])
        n = np.sqrt((V * V).sum(axis=1))
        S = np.round((V @ V.T) / (n[:, None] * n[None, :]), dp)
        # column j pruned if any EARLIER (lower-id) row i has S >= t
        dup = np.triu(S >= threshold, k=1).any(axis=0)
        keep = pdf.loc[~dup, ["__mid", "cid", "sim"]]
        return keep

    return (
        members.groupBy("cid")
        .applyInPandas(prune, "__mid long, cid int, sim double")
        .withColumnRenamed("__mid", id_col)
    )


def pq_codebooks(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 4,
    k: int = 16,
) -> DataFrame:
    """(j, cid, __cvec): deterministic product-quantization codebooks —
    the dim-D vector space split into ``m`` contiguous subspaces, each
    with a ``k``-entry codebook. Seeds = the subvectors of the k
    lowest-id corpus vectors (same determinism policy as
    :func:`ivf_centroids`, which keeps the whole quantization under an
    exact cross-engine SQL oracle; Lloyd refinement would plug in
    exactly as it does there, traded here for oracle-exactness).
    The codebook is m x k x (D/m) floats — KBs at any corpus size."""
    sub = F.size(F.col("__v")) / m  # dim divisibility validated by caller
    seeds = (
        corpus.orderBy(id_col)
        .limit(k)
        .select(F.col(id_col).alias("__sid"), F.col(vec_col).alias("__v"))
        .withColumn("cid", F.row_number().over(Window.orderBy("__sid")) - 1)
    )
    return seeds.select(
        "cid",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.struct(
                    j.alias("j"),
                    F.slice(
                        F.col("__v"), (j * sub + 1).cast("int"), sub.cast("int")
                    ).alias("__cvec"),
                ),
            )
        ).alias("__s"),
    ).select(F.col("__s.j").alias("j"), "cid", F.col("__s.__cvec").alias("__cvec"))


def pq_quantize(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 4,
    k: int = 16,
) -> DataFrame:
    """Product-quantization codes: compress each vector to ``m`` small
    integers (one nearest-codebook-entry id per subspace, squared-L2,
    ties to the lowest cid) plus the reconstruction error. At 64 dims /
    m=4 / k=16 that is 64 floats -> 4 nibbles per vector — the ~100x
    compression that makes billion-vector ANN memory-resident; search
    over codes is the standard asymmetric-distance lookup this repo's
    ANN operators would consume.

    Plan shape: the codebook (:func:`pq_codebooks`, KBs) is collected
    once and captured by the closure — the only driver
    materialization, the same "model is small, data is not" policy as
    ivf_topk — then ONE narrow corpus scan with no shuffle: the
    distance kernel runs as a vectorized (batch x k x dim/m) numpy
    broadcast inside mapInPandas. Dense numeric kernels are where
    Arrow-batched pandas beats expression trees: an explode /
    broadcast-join / min_by expression form of this operator measured
    4.9x slower at the synthetic sf10 and shuffled twice (BASELINE.md
    §4).

    Returns (``id_col`` with its input type, codes STRING
    "c0,c1,...", recon_err DOUBLE rounded to 6). Arithmetic is float32
    inputs cast to double, ties go to the lowest cid (numpy argmin's
    first-match rule), so the DuckDB oracle reproduces codes and error
    bit-for-bit."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    first = corpus.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("pq_quantize: empty corpus")
    dim = first["d"]
    if dim % m:
        raise ValueError(f"vector dim {dim} is not divisible by m={m}")
    sub = dim // m
    cb_rows = pq_codebooks(corpus, vec_col, id_col, m, k).collect()
    # codebook tensor C[j, cid, :] in float64, captured by the closure
    # (KBs — the same "model is small, data is not" policy as IVF)
    kk = max(r["cid"] for r in cb_rows) + 1
    C = np.zeros((m, kk, sub), dtype=np.float64)
    for r in cb_rows:
        C[int(r["j"]), int(r["cid"])] = np.asarray(r["__cvec"], dtype=np.float64)

    def batch(it: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in it:
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            ) if len(pdf) else np.zeros((0, dim))
            codes = np.zeros((len(pdf), m), dtype=np.int64)
            err = np.zeros(len(pdf), dtype=np.float64)
            for j in range(m):
                Vj = V[:, j * sub : (j + 1) * sub]
                # (n, k) squared L2 via broadcast
                D = ((Vj[:, None, :] - C[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = D.argmin(axis=1)  # first match = lowest cid
                err += D.min(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "codes": [",".join(str(c) for c in row) for row in codes],
                    "recon_err": np.round(err, 6),
                }
            )

    schema = T.StructType(
        [
            T.StructField(id_col, corpus.schema[id_col].dataType),
            T.StructField("codes", T.StringType()),
            T.StructField("recon_err", T.DoubleType()),
        ]
    )
    return corpus.select(id_col, vec_col).mapInPandas(batch, schema)


def kcenter_coreset(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    dp: int = 6,
) -> DataFrame:
    """Greedy k-center coreset (Gonzalez 1985; the farthest-point
    diversity-selection used for training-data pruning): seed with the
    min-id vector, then k-1 times pick the point FARTHEST from the
    chosen set (squared-euclidean, ties by id) — a 2-approximation of
    the optimal k-center cover, selecting maximally diverse exemplars
    where importance weighting (dsir) selects distribution-matching
    ones.

    Determinism/oracle contract: distances are sequential-fold sums of
    double squared diffs — the SAME accumulation order the SQL twin
    uses via ``list_transform(range(...))``, so the doubles are
    bit-identical cross-engine BEFORE the dp-rounding, and the argmax
    (rounded dist DESC, id ASC) is exactly replayable.

    Scale shape: k passes over the corpus, each a narrow map updating
    the running min-distance (``least`` against ONE new broadcast
    center — never re-scanning the whole chosen set) plus a
    TakeOrderedAndProject argmax; driver state is k vectors (the
    kmeans-centroid class of bounded collect). localCheckpoint per
    round stops lineage growth. Returns (sel_round, id, dist) for the
    min(k, n) selected exemplars (the whole pool when n < k; empty
    input raises); the seed's dist is NULL."""
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(
        F.col(id_col).alias("__id"), dvec.alias("__v")
    ).transform(pin)

    def dist_to(center: list[float]):
        c = F.array(*[F.lit(float(x)) for x in center])
        return F.round(
            F.aggregate(
                F.zip_with("__v", c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            dp,
        )

    seed_rows = base.orderBy("__id").limit(1).collect()
    if not seed_rows:
        raise ValueError("kcenter_coreset: input has no rows")
    seed = seed_rows[0]
    picked = [(0, seed["__id"], None)]
    chosen_ids = {seed["__id"]}
    state = base.select(
        "__id", "__v", dist_to(list(seed["__v"])).alias("__mind")
    ).transform(pin)

    for t in range(1, k):
        far_rows = (
            state.where(~F.col("__id").isin(*chosen_ids))
            .orderBy(F.col("__mind").desc(), F.col("__id"))
            .limit(1)
            .collect()
        )
        if not far_rows:
            # pool exhausted (fewer than k points): the selection so
            # far IS the full coreset — return it rather than raising
            break
        far = far_rows[0]
        picked.append((t, far["__id"], float(far["__mind"])))
        chosen_ids.add(far["__id"])
        state = state.select(
            "__id",
            "__v",
            F.least("__mind", dist_to(list(far["__v"]))).alias("__mind"),
        ).transform(pin)

    spark = df.sparkSession
    return spark.createDataFrame(
        picked, f"sel_round int, {id_col} long, dist double"
    )
