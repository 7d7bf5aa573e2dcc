"""Similarity-search queries: exact and approximate top-k (LSH, IVF),
k-means, product quantization, label centroids, k-center coresets,
semantic dedup, PCA and the exact prefix-filtered set-similarity join.

The approximate searches (ANN-LSH, IVF, embedding LSH) are rows-only by
design; their recall gates are hash-checked instead. The set-similarity
join's oracle is the naive all-pairs Jaccard join, so a hash match
proves prefix filtering loses nothing.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stockpy_spark.operators.setsim import jaccard_similarity_join
from stockpy_spark.operators.similarity import (
    ann_lsh_topk,
    brute_force_topk,
    ivf_topk,
    kmeans_assign,
    label_centroids,
    pq_quantize,
)
from stockpy_spark.registry._common import _t, query


# --- similarity search ---
SQL_SIM_TOPK = """
WITH q AS (
    SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
    FROM embeddings WHERE vec_id < 5
), scored AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), q.qv), 6)
               AS cosine
    FROM embeddings c CROSS JOIN q
    WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
    FROM scored
) WHERE rnk <= 10
"""


@query("sim_cosine_topk", oracle=SQL_SIM_TOPK)
def q_sim_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return brute_force_topk(emb, queries, "embedding", "vec_id", k=10)


@query("sim_ivf_topk", oracle=None)
def q_sim_ivf_topk(spark, sf_dir):
    """IVF ANN: 16 deterministic Voronoi cells, probe the 4 nearest
    (~25% of the corpus scanned per query)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return ivf_topk(
        emb, queries, "embedding", "vec_id", k=10, n_centroids=16, n_probe=4
    )


@query("sim_ann_lsh", oracle=None)
def q_sim_ann_lsh(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return ann_lsh_topk(
        emb, queries, "embedding", "vec_id", k=10, dim=64, n_planes=8, probe_hamming=3
    )


# --- approximation quality gates ---------------------------------------
#
# The ANN / LSH / HLL operators are approximate by design, so their raw
# outputs have no portable SQL oracle (md5 sign tricks, engine-specific
# sketches) and would sit at rows-only checks forever. These companions
# turn the *quality contract* into a hash-checked row set instead: Spark
# computes the approximation AND its exact baseline, derives the quality
# metric (recall@k, pair recall/precision, relative error), and emits
# gate columns that are 1 iff the metric clears its floor. The DuckDB
# oracle states the expected gate rows — computing the exact side
# (query ids, exact pair count, exact distinct counts) with real SQL —
# so a quality regression flips a gate to 0 and the driver row goes red.
#
# Every input is deterministic (md5 hyperplanes, lowest-id IVF seeds,
# tie-broken rerank windows, Spark's fixed-seed HLL), so the gates are
# stable across runs; floors sit well under the measured sf0.01 values
# (ANN per-query recall >= 0.4 measured, floor 0.3; IVF >= 0.7, floor
# 0.5; LSH pair recall 0.42, floor 0.3 with precision exactly 1.0; HLL
# rel-err 0.0067, floor 0.05; approx-median rel-err <= 0.00085, floor
# 0.01). The exact baselines are the O(n^2)/full-scan verify tier —
# gate queries run at test SF, while the approximations they certify
# are the 100 TB path.
def _recall_gate_rows(queries, exact, approx, k: int, floor: float):
    """(query_id, recall_ok): hits = |exact top-k ∩ approx top-k| per
    query via a left-semi join; queries the approximation missed
    entirely still emit a row (left join back to the query list), so a
    catastrophic recall-0 regression cannot hide by dropping rows."""
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(
            approx.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.when(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(float(k))
                >= F.lit(floor),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("recall_ok"),
        )
    )


SQL_GATE_ANN = """
SELECT vec_id AS query_id, CAST(1 AS BIGINT) AS recall_ok
FROM embeddings WHERE vec_id < 5
"""


@query("gate_ann_recall", oracle=SQL_GATE_ANN)
def q_gate_ann_recall(spark, sf_dir):
    """Per-query recall@10 gate for hyperplane-LSH ANN vs the exact
    brute-force baseline (same params as sim_ann_lsh). Emits one row
    per query with recall_ok=1 iff recall@10 >= 0.3."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, "embedding", "vec_id", k=10)
    approx = ann_lsh_topk(
        emb, queries, "embedding", "vec_id", k=10, dim=64, n_planes=8,
        probe_hamming=3,
    )
    return _recall_gate_rows(queries, exact, approx, k=10, floor=0.3)


@query("gate_ivf_recall", oracle=SQL_GATE_ANN)
def q_gate_ivf_recall(spark, sf_dir):
    """Per-query recall@10 gate for IVF ANN (16 cells, probe 4) vs the
    brute-force baseline. recall_ok=1 iff recall@10 >= 0.5."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, "embedding", "vec_id", k=10)
    approx = ivf_topk(
        emb, queries, "embedding", "vec_id", k=10, n_centroids=16, n_probe=4
    )
    return _recall_gate_rows(queries, exact, approx, k=10, floor=0.5)


def _kcenter_sql(k: int = 8, dim: int = 64, dp: int = 6) -> str:
    def dist(a: str, b: str) -> str:
        return (
            f"round(list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), {dp})"
        )

    parts = [
        f"""WITH e AS MATERIALIZED (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), c0 AS MATERIALIZED (
    SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1
), d0 AS MATERIALIZED (
    SELECT e.vec_id, e.v, {dist('e.v', 'c0.v')} AS mind FROM e, c0
)"""
    ]
    for t in range(1, k):
        prev = f"d{t - 1}"
        chosen = " UNION ALL ".join(
            f"SELECT vec_id FROM c{j}" for j in range(t)
        )
        parts.append(
            f""", c{t} AS MATERIALIZED (
    SELECT vec_id, v, mind FROM {prev}
    WHERE vec_id NOT IN ({chosen})
    ORDER BY mind DESC, vec_id LIMIT 1
), d{t} AS MATERIALIZED (
    SELECT p.vec_id, p.v, least(p.mind, {dist('p.v', f'c{t}.v')}) AS mind
    FROM {prev} p, c{t}
)"""
        )
    sel = " UNION ALL ".join(
        ["SELECT 0 AS sel_round, vec_id, CAST(NULL AS DOUBLE) AS dist FROM c0"]
        + [f"SELECT {t}, vec_id, mind FROM c{t}" for t in range(1, k)]
    )
    return "".join(parts) + (
        "\nSELECT CAST(sel_round AS INTEGER) AS sel_round, vec_id, dist"
        f" FROM ({sel})"
    )


SQL_KCENTER = _kcenter_sql()


@query("sample_kcenter_coreset", oracle=SQL_KCENTER)
def q_sample_kcenter_coreset(spark, sf_dir):
    """Greedy k-center coreset over the embeddings table
    (operators/similarity.py kcenter_coreset — Gonzalez 1985 farthest-
    point selection, the diversity-pruning counterpart of DSIR's
    distribution matching): seed = min vec_id, then 7 rounds of
    argmax-of-min-distance with ties by id. Distances are sequential-
    fold sums of double squared diffs in BOTH engines (same
    accumulation order -> bit-identical before rounding), so the
    8-stage unrolled SQL below replays every selection and its
    distance exactly. The oracle CTEs are MATERIALIZED: inlined, the
    d0..d7 chain re-evaluates exponentially."""
    from stockpy_spark.operators.similarity import kcenter_coreset

    emb = _t(spark, sf_dir, "embeddings")
    return kcenter_coreset(emb, "embedding", "vec_id", k=8)


# --- emb: exact per-label centroids -------------------------------------
SQL_EMB_CENTROIDS = """
SELECT CAST(label AS INTEGER) AS label,
       CAST(i AS INTEGER) AS dim,
       ROUND(AVG(embedding[i + 1]), 6) AS centroid
FROM embeddings JOIN range(0, 64) t(i) ON TRUE
GROUP BY label, i
"""


@query("emb_label_centroids", oracle=SQL_EMB_CENTROIDS)
def q_emb_label_centroids(spark, sf_dir):
    """Exact per-label embedding centroid in long (label, dim, value)
    form — posexplode + map-side-combined groupBy, never a
    collect_list-per-label (operators/similarity.py:label_centroids).
    The supervised twin of ivf_centroids' seed step."""
    emb = _t(spark, sf_dir, "embeddings")
    return label_centroids(emb, "embedding", "label", round_to=6).select(
        F.col("label").cast("int").alias("label"),
        F.col("dim").cast("int").alias("dim"),
        "centroid",
    )


# --- product quantization ----------------------------------------------

# Mirror: seeds = 16 lowest vec_id rows; cid = rank - 1; per (vec, j)
# the code is the argmin squared-L2 over the j-th 16-dim slices (ties
# to lowest cid); float32 inputs cast to double before arithmetic on
# both engines.
SQL_PQ = """
WITH nn AS (
    SELECT * FROM embeddings WHERE embedding IS NOT NULL
), seeds AS (
    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, embedding
    FROM (SELECT * FROM nn ORDER BY vec_id LIMIT 16)
), dists AS (
    SELECT e.vec_id, j.j, s.cid,
           (SELECT SUM(POW(CAST(e.embedding[j.j * 16 + i] AS DOUBLE)
                           - CAST(s.embedding[j.j * 16 + i] AS DOUBLE), 2))
            FROM generate_series(1, 16) g(i)) AS dist
    FROM nn e
    CROSS JOIN generate_series(0, 3) j(j)
    CROSS JOIN seeds s
), best AS (
    SELECT vec_id, j, cid, dist,
           ROW_NUMBER() OVER (PARTITION BY vec_id, j
                              ORDER BY dist, cid) AS rn
    FROM dists
)
SELECT vec_id,
       string_agg(CAST(cid AS VARCHAR), ',' ORDER BY j) AS codes,
       round(SUM(dist), 6) AS recon_err
FROM best WHERE rn = 1
GROUP BY vec_id
"""


@query("emb_pq_codes", oracle=SQL_PQ)
def q_emb_pq_codes(spark, sf_dir):
    """PQ-compress every embedding: 64 float dims -> 4 codebook ids
    (16-entry codebooks per 16-dim subspace) + reconstruction error.
    pq_quantize runs one Arrow-batched numpy pass with no shuffle
    (4.9x faster at the synthetic sf10 than an expression-tree form,
    4.76 -> 0.97 s, BASELINE.md §4). Deterministic lowest-id seeds
    keep the whole quantization under an exact SQL oracle."""
    emb = _t(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    return pq_quantize(emb, "embedding", "vec_id", m=4, k=16)


# --- deterministic k-means over embeddings ------------------------------

# Replays kmeans_assign move for move: lowest-8-id seeds, one Lloyd
# refinement with the cosine rounded to 6 dp before the argmax (ties ->
# lowest cid), centroid means rounded to 6 dp, final assignment to the
# refined codebook. DuckDB lists are 1-indexed; position only orders
# the rebuilt centroid array, so the offset is immaterial.
_SQL_KMEANS_CTES = """
WITH v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
), seeds AS (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
           ev AS cv
    FROM (SELECT * FROM v ORDER BY vec_id LIMIT 8)
), a1 AS (
    SELECT vec_id, cid, ev,
           row_number() OVER (
               PARTITION BY vec_id
               ORDER BY round(list_cosine_similarity(ev, cv), 6) DESC, cid
           ) AS rn
    FROM v CROSS JOIN seeds
), m1 AS (
    SELECT a.cid, p.pos, round(avg(a.ev[p.pos]), 6) AS m
    FROM (SELECT cid, ev FROM a1 WHERE rn = 1) a
    CROSS JOIN (SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS pos) p
    GROUP BY a.cid, p.pos
), c1 AS (
    SELECT cid, list(m ORDER BY pos) AS cv FROM m1 GROUP BY cid
), fin AS (
    SELECT vec_id, cid,
           round(list_cosine_similarity(ev, cv), 6) AS sim,
           row_number() OVER (
               PARTITION BY vec_id
               ORDER BY round(list_cosine_similarity(ev, cv), 6) DESC, cid
           ) AS rn
    FROM v CROSS JOIN c1
)
"""


SQL_KMEANS_ASSIGN = _SQL_KMEANS_CTES + """
SELECT vec_id, cid, sim FROM fin WHERE rn = 1
"""


@query("emb_kmeans_assign", oracle=SQL_KMEANS_ASSIGN)
def q_emb_kmeans_assign(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, "embedding", "vec_id", k=8)


SQL_KMEANS_SUMMARY = _SQL_KMEANS_CTES + """
SELECT cid, count(*) AS n_members, min(vec_id) AS rep_id,
       round(avg(sim), 6) AS mean_sim
FROM fin WHERE rn = 1
GROUP BY cid
"""


@query("emb_kmeans_summary", oracle=SQL_KMEANS_SUMMARY)
def q_emb_kmeans_summary(spark, sf_dir):
    """Semantic-dedup view of the clustering: per-cluster size, lowest-id
    representative, and mean within-cluster similarity."""
    emb = _t(spark, sf_dir, "embeddings")
    assigned = kmeans_assign(emb, "embedding", "vec_id", k=8)
    return assigned.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("vec_id").alias("rep_id"),
        F.round(F.avg("sim"), 6).alias("mean_sim"),
    )


# --- exact prefix-filtered set-similarity self-join ----------------------
SQL_SETSIM = r"""
WITH s AS (
    SELECT doc_id,
           list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
    FROM documents
    WHERE len(trim(text)) > 0
), p AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.t, b.t)) AS n_inter,
           len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS n_union
    FROM s a JOIN s b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST(n_union AS BIGINT) AS n_union,
       round(n_inter / n_union, 6) AS jaccard
FROM p
WHERE n_inter / n_union >= 0.95
"""


@query("setsim_jaccard_join", oracle=SQL_SETSIM)
def q_setsim_jaccard_join(spark, sf_dir):
    """Exact Jaccard >= 0.95 self-join over the documents' distinct
    lowercase-token sets (operators/setsim.py) — prefix filtering on
    the rarest-token global order generates candidates through an
    equi-join; verification is exact, so the result equals the naive
    all-pairs join the oracle runs. The synthetic corpus's tiny
    vocabulary inflates Jaccard (organic corpora sit far sparser), so
    the threshold is set at the true-duplicate band."""
    docs = _t(spark, sf_dir, "documents")
    return jaccard_similarity_join(docs, "text", "doc_id", threshold=0.95)


# --- PCA gate (rows-only family twin: eigen step not SQL-expressible) -----
SQL_GATE_PCA = """
SELECT CAST(i AS INT) AS component,
       true AS var_match_ok, true AS ortho_ok
FROM generate_series(1, 4) t(i)
"""


@query("gate_pca_variance", oracle=SQL_GATE_PCA)
def q_gate_pca_variance(spark, sf_dir):
    """Self-certifying distributed PCA (operators/pca.py): top-4
    components of the 64-d embeddings via per-batch X^T X moment
    partials (one numpy GEMM per Arrow batch, ~33 KB driver state) +
    driver eigh + distributed projection. The gate row per component
    asserts the projected sample variance equals the eigenvalue
    (rel 1e-6) and the basis is orthonormal — the identity that fails
    if ANY of the three phases is wrong. Oracle pins the expected gate
    rows (an eigendecomposition has no SQL replay)."""
    from stockpy_spark.operators.pca import pca_gate

    emb = _t(spark, sf_dir, "embeddings")
    return pca_gate(emb, "embedding", "vec_id", k=4)


SQL_SEMDEDUP = _SQL_KMEANS_CTES + """
, mem AS (
    SELECT f.vec_id, f.cid, f.sim, vv.ev
    FROM (SELECT vec_id, cid, sim FROM fin WHERE rn = 1) f
    JOIN v vv ON vv.vec_id = f.vec_id
)
SELECT a.vec_id, a.cid, a.sim
FROM mem a
WHERE NOT EXISTS (
    SELECT 1 FROM mem b
    WHERE b.cid = a.cid AND b.vec_id < a.vec_id
      AND round(list_cosine_similarity(b.ev, a.ev), 6) >= 0.4
)
"""


@query("semdedup_prune", oracle=SQL_SEMDEDUP)
def q_semdedup_prune(spark, sf_dir):
    """SemDeDup over the embeddings table: deterministic k-means into 8
    clusters, then within-cluster min-id pruning at cosine >= 0.4
    (operators/similarity.py semantic_dedup). Runs the ARROW engine —
    numpy matmul cosine kernels for assignment and the per-cluster
    prune matrix, pytest-pinned identical to the expression spec and
    41x faster at the synthetic sf10 (204 -> 5.0 s; interpreted
    zip_with/aggregate HOFs were the whole cost — BASELINE.md §4). The
    oracle replays the full pipeline — the same k-means CTE chain the
    emb_kmeans_* gates pin, plus a NOT EXISTS over cluster-mates — so
    the iterative clustering AND the pruning rule sit under one exact
    hash."""
    from stockpy_spark.operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, "embedding", "vec_id", k=8, threshold=0.4, engine="arrow"
    )
