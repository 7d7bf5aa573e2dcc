"""Deduplication queries: exact, MinHash-LSH, SimHash, n-gram and word
Jaccard, containment, embedding, temporal and incremental dedup, span
dedup, and connected-components clustering of the duplicate pairs.

The oracles replay the md5-based signatures, so even LSH candidate
generation is hash-checked. The connected-components oracles are exact
transitive closure via DuckDB WITH RECURSIVE reachability over the SAME
deterministic edge set the Spark side uses, so a hash match proves the
iterative min-label propagation converged to the true components.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stockpy_spark.functions.text import fingerprint_md5
from stockpy_spark.operators.dedup import (
    embedding_cosine_pairs,
    embedding_neardup_lsh,
    exact_dedup,
    exact_dedup_stats,
    incremental_dedup_admit,
    minhash_dedup_assign,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64_pairs,
    simhash_pairs,
    word_jaccard_pairs,
)
from stockpy_spark.operators.graph import dedup_components
from stockpy_spark.registry._common import (
    _TOKENS_LOWER_SQL,
    _TOKENS_SQL,
    SQL_MINHASH_BSIG_CTES,
    _bsig_ctes,
    _t,
    query,
)


# --- dedup ---
SQL_DEDUP_EXACT_STATS = """
SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
       min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


@query("dedup_exact_stats", oracle=SQL_DEDUP_EXACT_STATS)
def q_dedup_exact_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup_stats(docs, "text", "doc_id")


SQL_DEDUP_EXACT_DOCS = """
SELECT doc_id, lang, n_chars FROM documents
QUALIFY row_number() OVER (
    PARTITION BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
    ORDER BY doc_id) = 1
"""


@query("dedup_exact_docs", oracle=SQL_DEDUP_EXACT_DOCS)
def q_dedup_exact_docs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id").select("doc_id", "lang", "n_chars")


SQL_WORD_JACCARD = f"""
WITH tok AS (
    SELECT DISTINCT doc_id AS doc, unnest({_TOKENS_LOWER_SQL}) AS tok
    FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), sizes AS (
    SELECT doc, count(*) AS sz FROM tok GROUP BY doc
), inter AS (
    SELECT a.doc AS d1, b.doc AS d2, count(*) AS i
    FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc < b.doc
    GROUP BY 1, 2
)
SELECT d1, d2,
       round(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc = d1
JOIN sizes sb ON sb.doc = d2
WHERE round(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 6) >= 0.8
"""


@query("dedup_word_jaccard", oracle=SQL_WORD_JACCARD)
def q_dedup_word_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return word_jaccard_pairs(docs, "text", "doc_id", threshold=0.8)


SQL_NGRAM_JACCARD = """
WITH norm AS (
    SELECT doc_id AS doc,
           regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t
    FROM documents WHERE doc_id % 3 = 0
), sh AS (
    SELECT DISTINCT doc,
           unnest([substring(t, i, 8) for i in range(1, length(t) - 6)]) AS tok
    FROM norm WHERE length(t) >= 8
), sizes AS (
    SELECT doc, count(*) AS sz FROM sh GROUP BY doc
), inter AS (
    SELECT a.doc AS d1, b.doc AS d2, count(*) AS i
    FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc < b.doc
    GROUP BY 1, 2
)
SELECT d1, d2,
       round(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc = d1
JOIN sizes sb ON sb.doc = d2
WHERE round(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 6) >= 0.5
"""


@query("dedup_ngram_jaccard", oracle=SQL_NGRAM_JACCARD)
def q_dedup_ngram_jaccard(spark, sf_dir):
    """Character 8-gram shingle Jaccard >= 0.5 on a 1-in-3 doc sample.
    The join is prefix-filtered (operators/setsim.py), so only each
    document's rarest shingles join; the sample stays because the
    oracle replays it with a naive all-pairs shingle self-join. At
    scale this op verifies LSH candidates only."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    return ngram_jaccard_pairs(docs, "text", "doc_id", n=8, threshold=0.5)


SQL_MINHASH_LSH = f"""
WITH {SQL_MINHASH_BSIG_CTES}, cand AS (
    SELECT DISTINCT a.doc AS d1, b.doc AS d2
    FROM bsig a JOIN bsig b ON a.band = b.band AND a.bs = b.bs AND a.doc < b.doc
)
SELECT d1, d2,
       round(avg(CASE WHEN s1.mh = s2.mh THEN 1.0 ELSE 0.0 END), 6) AS est_jaccard
FROM cand
JOIN sig s1 ON s1.doc = d1
JOIN sig s2 ON s2.doc = d2 AND s2.h = s1.h
GROUP BY d1, d2
"""


@query("dedup_minhash_lsh", oracle=SQL_MINHASH_LSH)
def q_dedup_minhash_lsh(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "text", "doc_id", num_hashes=12, bands=2)


SQL_MINHASH_ASSIGN = f"""
WITH tok AS (
    SELECT DISTINCT doc_id AS doc, unnest({_TOKENS_LOWER_SQL}) AS tok
    FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), base AS (
    SELECT doc,
           CAST(concat('0x', substr(md5('1|' || tok), 1, 15)) AS BIGINT) % 1000000007 AS h1,
           CAST(concat('0x', substr(md5('2|' || tok), 1, 15)) AS BIGINT) % 1000000007 AS h2
    FROM tok
), sig AS (
    SELECT doc, g.h AS h,
           min((h1 + g.h * h2) % 1000000007) AS mh
    FROM base CROSS JOIN generate_series(0, 11) AS g(h)
    GROUP BY doc, g.h
), bands AS (
    SELECT doc, h // 6 AS band,
           lpad(CAST(h AS VARCHAR), 4, '0') || ':' || CAST(mh AS VARCHAR) AS hmh
    FROM sig
), bsig AS (
    SELECT doc, band, md5(string_agg(hmh, ',' ORDER BY hmh)) AS bs
    FROM bands GROUP BY doc, band
), bmin AS (
    SELECT band, bs, min(doc) AS m FROM bsig GROUP BY band, bs
)
SELECT b.doc AS doc_id, min(m.m) AS keeper_id,
       (min(m.m) <> b.doc) AS is_dup
FROM bsig b JOIN bmin m ON b.band = m.band AND b.bs = m.bs
GROUP BY b.doc
"""


@query("dedup_minhash_assign", oracle=SQL_MINHASH_ASSIGN)
def q_dedup_minhash_assign(spark, sf_dir):
    """Scale path: doc -> cluster keeper, no pair enumeration (linear in
    corpus size; a boilerplate cluster of any size costs O(cluster), not
    O(cluster^2))."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_dedup_assign(docs, "text", "doc_id", num_hashes=12, bands=2)


SQL_SIMHASH = f"""
WITH tok AS (
    SELECT DISTINCT doc_id AS doc, unnest({_TOKENS_LOWER_SQL}) AS tok
    FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), th AS (
    SELECT doc, CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS th
    FROM tok
), bitsum AS (
    SELECT doc, g.b AS b,
           sum(CASE WHEN (th >> g.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
    FROM th CROSS JOIN generate_series(0, 31) AS g(b)
    GROUP BY doc, g.b
), fp AS (
    SELECT doc,
           sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS fp
    FROM bitsum GROUP BY doc
)
SELECT a.doc AS d1, b.doc AS d2, bit_count(xor(a.fp, b.fp)) AS hamming
FROM fp a JOIN fp b ON a.doc < b.doc
WHERE bit_count(xor(a.fp, b.fp)) <= 3
"""


@query("dedup_simhash", oracle=SQL_SIMHASH)
def q_dedup_simhash(spark, sf_dir):
    """max_hamming=3 keeps the 4-byte-block pigeonhole LOSSLESS (<=3
    flipped bits cannot touch all 4 blocks), so the blocked join is
    provably equal to the brute-force pair scan the oracle runs."""
    docs = _t(spark, sf_dir, "documents")
    return simhash_pairs(docs, "text", "doc_id", max_hamming=3)


SQL_SIMHASH64 = f"""
WITH tok AS (
    SELECT DISTINCT doc_id AS doc, unnest({_TOKENS_LOWER_SQL}) AS tok
    FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), th AS (
    SELECT doc,
           CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS tlo,
           CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT) AS thi
    FROM tok
), bitsum AS (
    SELECT doc, g.b AS b,
           sum(CASE WHEN (tlo >> g.b) & 1 = 1 THEN 1 ELSE -1 END) AS slo,
           sum(CASE WHEN (thi >> g.b) & 1 = 1 THEN 1 ELSE -1 END) AS shi
    FROM th CROSS JOIN generate_series(0, 31) AS g(b)
    GROUP BY doc, g.b
), fp AS (
    SELECT doc,
           sum(CASE WHEN slo > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS lo,
           sum(CASE WHEN shi > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS hi
    FROM bitsum GROUP BY doc
)
SELECT a.doc AS d1, b.doc AS d2,
       bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS hamming
FROM fp a JOIN fp b ON a.doc < b.doc
WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
"""


@query("dedup_simhash64", oracle=SQL_SIMHASH64)
def q_dedup_simhash64(spark, sf_dir):
    """64-bit variant (two portable 32-bit halves): 8-byte-block
    pigeonhole stays lossless at hamming<=3, with 2^64 sparsity so
    blocks stay cold at corpus sizes where 32-bit saturates. Oracle =
    brute-force pair scan over the same half-fingerprints."""
    docs = _t(spark, sf_dir, "documents")
    return simhash64_pairs(docs, "text", "doc_id", max_hamming=3)


SQL_EMB_COSINE = """
SELECT a.vec_id AS id1, b.vec_id AS id2,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
"""


@query("dedup_embedding_cosine", oracle=SQL_EMB_COSINE)
def q_dedup_embedding_cosine(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(emb, "embedding", "vec_id", threshold=0.4)


@query("dedup_embedding_lsh", oracle=None)
def q_dedup_embedding_lsh(spark, sf_dir):
    """Scale path for embedding near-dup: hyperplane-LSH blocking +
    exact cosine verify within blocks (rows-only: the md5 sign trick
    is not portable SQL)."""
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_neardup_lsh(
        emb, "embedding", "vec_id", threshold=0.4, dim=64, n_planes=12, bands=3
    )


SQL_GATE_EMB_LSH = """
SELECT CAST(count(*) AS BIGINT) AS n_exact,
       CAST(1 AS BIGINT) AS precision_ok,
       CAST(1 AS BIGINT) AS recall_ok
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
"""


@query("gate_embedding_lsh_recall", oracle=SQL_GATE_EMB_LSH)
def q_gate_embedding_lsh_recall(spark, sf_dir):
    """Pair recall/precision gate for hyperplane-LSH near-dup blocking
    vs the exact cosine pair set at the same threshold. Single row:
    n_exact (pinned against the SQL-computed exact pair count),
    precision_ok=1 iff every LSH pair is a true pair (the in-block
    verify guarantees this — 0 means the verify broke), recall_ok=1
    iff pair recall >= 0.3."""
    emb = _t(spark, sf_dir, "embeddings")
    exact = embedding_cosine_pairs(emb, "embedding", "vec_id", threshold=0.4)
    lsh = embedding_neardup_lsh(
        emb, "embedding", "vec_id", threshold=0.4, dim=64, n_planes=12, bands=3
    )
    inter = lsh.select("id1", "id2").join(
        exact.select("id1", "id2"), ["id1", "id2"], "left_semi"
    )
    # three bounded one-row aggregates cross-joined into one gate row
    stats = (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(lsh.agg(F.count(F.lit(1)).alias("n_lsh")))
        .crossJoin(inter.agg(F.count(F.lit(1)).alias("n_inter")))
    )
    return stats.select(
        F.col("n_exact").cast("long").alias("n_exact"),
        F.when(F.col("n_inter") == F.col("n_lsh"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("precision_ok"),
        F.when(
            F.col("n_inter") / F.col("n_exact") >= F.lit(0.3), F.lit(1)
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("recall_ok"),
    )


SQL_TEXT_DUP_SPANS = f"""
WITH t AS (
    SELECT doc_id,
           CASE WHEN text IS NULL OR trim(text) = ''
                THEN [] ELSE {_TOKENS_SQL} END AS toks,
           CASE WHEN text IS NULL OR trim(text) = ''
                THEN 0 ELSE len({_TOKENS_SQL}) END AS nt
    FROM documents
), starts AS (
    -- per-row lateral expansion: unnest(generate_series(...)) in the
    -- SELECT list takes a column bound (the chunking-oracle idiom,
    -- SQL_CHUNKS); generate_series as a table function would reject
    -- the subquery parameter at bind time
    SELECT doc_id, nt, toks,
           unnest(generate_series(0, nt - 8)) AS s
    FROM t WHERE nt >= 8
), g AS (
    SELECT doc_id, nt, s,
           array_to_string(list_slice(toks, s + 1, s + 8), ' ') AS gram
    FROM starts
), d AS (
    SELECT gram FROM g GROUP BY gram HAVING count(*) > 1
), occ AS (
    SELECT g.doc_id, g.s, g.s + 8 AS e
    FROM g JOIN d USING (gram)
), u AS (
    SELECT doc_id, s, e,
           max(e) OVER (PARTITION BY doc_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS pmax
    FROM occ
), c AS (
    SELECT doc_id,
           SUM(GREATEST(0, e - GREATEST(s, COALESCE(pmax, s)))) AS covered
    FROM u GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(t.nt AS BIGINT) AS n_tokens,
       CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered_tokens,
       round(CASE WHEN t.nt = 0 THEN 0.0
                  ELSE COALESCE(c.covered, 0) / CAST(t.nt AS DOUBLE) END,
             6) AS dup_coverage
FROM t LEFT JOIN c ON t.doc_id = c.doc_id
"""


@query("text_dup_spans", oracle=SQL_TEXT_DUP_SPANS)
def q_text_dup_spans(spark, sf_dir):
    """Substring-level duplication meter (operators/dedup.py
    duplicated_span_coverage, n=8): per-document fraction of tokens
    covered by 8-token grams occurring more than once in the corpus —
    the Lee-et-al span-dedup measurement document-level dedup misses
    (boilerplate, quotes, templated spans). Exact interval-union
    arithmetic under the oracle: gram extraction, the corpus count
    filter, and the per-doc running-max union must all agree."""
    from stockpy_spark.operators.dedup import duplicated_span_coverage

    docs = _t(spark, sf_dir, "documents")
    return duplicated_span_coverage(docs, "text", "doc_id", n=8)


SQL_TEXT_DESPAN = f"""
WITH t AS (
    SELECT doc_id,
           CASE WHEN text IS NULL OR trim(text) = ''
                THEN [] ELSE {_TOKENS_SQL} END AS toks,
           CASE WHEN text IS NULL OR trim(text) = ''
                THEN 0 ELSE len({_TOKENS_SQL}) END AS nt
    FROM documents
), starts AS (
    SELECT doc_id, nt, toks,
           unnest(generate_series(0, nt - 8)) AS s
    FROM t WHERE nt >= 8
), g AS (
    SELECT doc_id, s,
           array_to_string(list_slice(toks, s + 1, s + 8), ' ') AS gram
    FROM starts
), d AS (
    SELECT gram FROM g GROUP BY gram HAVING count(*) > 1
), occ AS (
    SELECT g.doc_id, g.s, g.s + 8 AS e
    FROM g JOIN d USING (gram)
), pos AS (
    -- 1-based token positions; coverage decided per position against
    -- the raw (unmerged) spans — equivalent to the interval union
    SELECT doc_id, nt, toks, unnest(generate_series(1, nt)) AS p
    FROM t WHERE nt > 0
), cov AS (
    SELECT DISTINCT o.doc_id, pp.p
    FROM occ o JOIN pos pp
      ON pp.doc_id = o.doc_id AND pp.p > o.s AND pp.p <= o.e
), kept AS (
    SELECT pp.doc_id,
           count(*) FILTER (WHERE c.p IS NULL) AS kept_n,
           COALESCE(string_agg(pp.toks[pp.p], ' ' ORDER BY pp.p)
                        FILTER (WHERE c.p IS NULL), '') AS text_kept
    FROM pos pp LEFT JOIN cov c ON c.doc_id = pp.doc_id AND c.p = pp.p
    GROUP BY pp.doc_id
)
SELECT t.doc_id,
       CAST(t.nt AS BIGINT) AS n_tokens,
       CAST(COALESCE(k.kept_n, 0) AS BIGINT) AS kept_tokens,
       CAST(t.nt - COALESCE(k.kept_n, 0) AS BIGINT) AS removed_tokens,
       COALESCE(k.text_kept, '') AS text_kept
FROM t LEFT JOIN kept k ON t.doc_id = k.doc_id
"""


@query("text_despan", oracle=SQL_TEXT_DESPAN)
def q_text_despan(spark, sf_dir):
    """Span-level dedup INTERVENTION (operators/dedup.py
    remove_duplicated_spans, n=8): cut every token span covered by an
    8-gram occurring more than once in the corpus and reassemble the
    survivors — Lee-et-al ExactSubstr removal, composing the
    text_dup_spans meter's gram/interval machinery with in-order
    reassembly. The oracle replays gram extraction, the corpus count
    filter, and the cut via a per-position coverage grid, so a single
    mis-sliced token anywhere in 500 reassembled documents
    hash-mismatches."""
    from stockpy_spark.operators.dedup import remove_duplicated_spans

    docs = _t(spark, sf_dir, "documents")
    return remove_duplicated_spans(docs, "text", "doc_id", n=8)


SQL_BLOOM_SCREEN = r"""
WITH fp AS (
    SELECT doc_id,
           md5(regexp_replace(trim(lower(coalesce(text, ''))), '\s+', ' ', 'g')) AS fp
    FROM documents
), corpus AS (
    SELECT DISTINCT fp FROM fp WHERE doc_id % 10 != 0
), pos AS (
    SELECT fp, CAST(concat('0x', substr(md5('bloom' || CAST(j.j AS VARCHAR)
                || chr(31) || fp), 1, 13)) AS BIGINT) % 1024 AS p
    FROM corpus JOIN (VALUES (0), (1), (2)) j(j) ON TRUE
), words AS (
    SELECT p // 63 AS word,
           bit_or(1::BIGINT << CAST(p % 63 AS INTEGER)) AS bits
    FROM pos GROUP BY p // 63
), probe AS (
    SELECT f.doc_id, f.fp,
           CAST(concat('0x', substr(md5('bloom' || CAST(j.j AS VARCHAR)
                || chr(31) || f.fp), 1, 13)) AS BIGINT) % 1024 AS p
    FROM fp f JOIN (VALUES (0), (1), (2)) j(j) ON TRUE
), hit AS (
    SELECT pr.doc_id, pr.fp,
           CASE WHEN w.bits IS NOT NULL
                 AND (w.bits & (1::BIGINT << CAST(pr.p % 63 AS INTEGER)))
                     = (1::BIGINT << CAST(pr.p % 63 AS INTEGER))
                THEN 1 ELSE 0 END AS s
    FROM probe pr LEFT JOIN words w ON pr.p // 63 = w.word
)
SELECT h.doc_id,
       CAST(CASE WHEN h.fp IN (SELECT fp FROM corpus) THEN 1 ELSE 0 END
            AS INTEGER) AS in_corpus,
       CAST(min(h.s) AS INTEGER) AS bloom_maybe
FROM hit h GROUP BY h.doc_id, h.fp
"""


@query("dedup_bloom_screen", oracle=SQL_BLOOM_SCREEN)
def q_dedup_bloom_screen(spark, sf_dir):
    """Bloom-filter membership screen for incremental ingestion
    (operators/sketches.py bloom_build/bloom_screen — the MEMBERSHIP
    member of the mergeable-sketch shelf): the standing corpus
    (doc_id %% 10 != 0) builds a 1024-bit / 3-hash bitmap of
    normalized-text fingerprints; the full batch is screened against
    it. Output per doc: the exact membership verdict and the bloom
    verdict. The filter is deliberately small so false positives
    actually occur (~19/50 new docs at sf0.01) while the no-false-
    negative guarantee binds every in-corpus row — both replayed
    exactly by the oracle (bit positions, 63-bit words, ANDs). At
    100 TB the bitmap is KB-state built by one map-side-combined
    bit_or aggregate and broadcast; 'definitely new' rows skip the
    exact anti-join entirely."""
    from stockpy_spark.functions.text import fingerprint_md5
    from stockpy_spark.operators.sketches import bloom_build, bloom_screen

    docs = _t(spark, sf_dir, "documents")
    fps = docs.select(
        "doc_id", fingerprint_md5(F.coalesce("text", F.lit(""))).alias("fp")
    )
    corpus = fps.filter(F.col("doc_id") % 10 != 0).select("fp")
    bloom = bloom_build(corpus, "fp")
    screened = bloom_screen(fps, "fp", bloom)
    exact = screened.join(
        corpus.distinct().withColumn("in_c", F.lit(1)), "fp", "left"
    )
    return exact.select(
        "doc_id",
        F.coalesce("in_c", F.lit(0)).cast("int").alias("in_corpus"),
        "bloom_maybe",
    )


SQL_GRAPH_CC = f"""
WITH RECURSIVE pairs AS (
    SELECT d1, d2 FROM ({SQL_WORD_JACCARD})
), und AS (
    SELECT d1 AS a, d2 AS b FROM pairs
    UNION ALL
    SELECT d2 AS a, d1 AS b FROM pairs
), walk(v, lbl) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT und.b, walk.lbl FROM walk JOIN und ON und.a = walk.v
)
SELECT v AS doc_id, MIN(lbl) AS component,
       (v = MIN(lbl)) AS is_representative
FROM walk GROUP BY v
"""


@query("graph_dedup_components", oracle=SQL_GRAPH_CC)
def q_graph_dedup_components(spark, sf_dir):
    """Transitive near-dup clusters over the documents table: edges =
    word-Jaccard >= 0.8 pairs, components via min-label propagation
    (operators/graph.py), one row per document with its component id
    (min doc_id reachable) and the keep/drop representative flag."""
    docs = _t(spark, sf_dir, "documents")
    pairs = word_jaccard_pairs(docs, "text", "doc_id", threshold=0.8)
    return dedup_components(docs.select("doc_id"), pairs)


SQL_GRAPH_LPA = f"""
WITH pairs AS (
    SELECT d1, d2 FROM ({SQL_WORD_JACCARD})
), und AS (
    SELECT d1 AS a, d2 AS b FROM pairs
    UNION ALL
    SELECT d2 AS a, d1 AS b FROM pairs
), l0 AS (
    SELECT doc_id AS id, lang AS label, 0 AS r
    FROM documents WHERE doc_id % 5 = 0
), n1 AS (
    SELECT u.b AS id, l.label, count(*) AS c
    FROM und u JOIN l0 l ON u.a = l.id
    WHERE u.b NOT IN (SELECT id FROM l0)
    GROUP BY u.b, l.label
), p1 AS (
    SELECT id, label, 1 AS r FROM (
        SELECT id, label,
               row_number() OVER (PARTITION BY id
                                  ORDER BY c DESC, label ASC) AS rn
        FROM n1) WHERE rn = 1
), l1 AS (
    SELECT * FROM l0 UNION ALL SELECT * FROM p1
), n2 AS (
    SELECT u.b AS id, l.label, count(*) AS c
    FROM und u JOIN l1 l ON u.a = l.id
    WHERE u.b NOT IN (SELECT id FROM l1)
    GROUP BY u.b, l.label
), p2 AS (
    SELECT id, label, 2 AS r FROM (
        SELECT id, label,
               row_number() OVER (PARTITION BY id
                                  ORDER BY c DESC, label ASC) AS rn
        FROM n2) WHERE rn = 1
), l2 AS (
    SELECT * FROM l1 UNION ALL SELECT * FROM p2
), n3 AS (
    SELECT u.b AS id, l.label, count(*) AS c
    FROM und u JOIN l2 l ON u.a = l.id
    WHERE u.b NOT IN (SELECT id FROM l2)
    GROUP BY u.b, l.label
), p3 AS (
    SELECT id, label, 3 AS r FROM (
        SELECT id, label,
               row_number() OVER (PARTITION BY id
                                  ORDER BY c DESC, label ASC) AS rn
        FROM n3) WHERE rn = 1
), l3 AS (
    SELECT * FROM l2 UNION ALL SELECT * FROM p3
)
SELECT d.doc_id, l.label, CAST(l.r AS INTEGER) AS labeled_round
FROM documents d LEFT JOIN l3 l ON d.doc_id = l.id
"""


@query("graph_label_prop", oracle=SQL_GRAPH_LPA)
def q_graph_label_prop(spark, sf_dir):
    """Semi-supervised label propagation (operators/graph.py
    label_propagation — frozen-label variant: seeds fixed, each
    synchronized round unlabeled nodes adopt the majority label of
    their labeled neighbors, ties to the smallest, then freeze; a
    multi-source BFS with per-wave majority votes, monotone and
    oscillation-free). Seeds = docs with doc_id %% 5 == 0 carrying
    their lang; edges = the word-Jaccard >= 0.8 pair set whose own
    oracle is hash-green; 3 rounds. The oracle is the SAME process
    unrolled as three SQL stages, so every (label, labeled_round)
    cell — including NULLs for unreached nodes — is replayed
    exactly. The iterative-algorithm gate pattern of
    graph_dedup_components, applied to label spread."""
    from stockpy_spark.operators.graph import label_propagation

    docs = _t(spark, sf_dir, "documents")
    edges = word_jaccard_pairs(docs, "text", "doc_id", threshold=0.8)
    seeds = docs.where(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.col("lang").alias("label")
    )
    out = label_propagation(docs, edges, seeds, rounds=3)
    return out.select(
        "doc_id", "label", F.col("labeled_round").cast("int").alias("labeled_round")
    )


# --- incremental corpus ingestion dedup ---------------------------------
SQL_DEDUP_INCREMENTAL = f"""
WITH corpus AS (
    SELECT * FROM documents WHERE doc_id % 5 <> 0 AND text IS NOT NULL
), batch AS (
    SELECT * FROM documents WHERE doc_id % 5 = 0 AND text IS NOT NULL
), s1 AS (
    SELECT b.* FROM batch b
    WHERE md5(b.text) NOT IN (SELECT md5(text) FROM corpus)
      AND b.doc_id = (SELECT min(b2.doc_id) FROM batch b2
                      WHERE md5(b2.text) = md5(b.text))
), {_bsig_ctes('_c', 'corpus')}, {_bsig_ctes('_b', 's1')},
corp_keys AS (
    SELECT DISTINCT band, bs FROM bsig_c
), s2 AS (
    SELECT s1.* FROM s1
    WHERE NOT EXISTS (
        SELECT 1 FROM bsig_b bb
        JOIN corp_keys ck ON bb.band = ck.band AND bb.bs = ck.bs
        WHERE bb.doc = s1.doc_id)
), bs2 AS (
    SELECT bb.* FROM bsig_b bb JOIN s2 ON bb.doc = s2.doc_id
), bucket_min AS (
    SELECT band, bs, min(doc) AS bmin FROM bs2 GROUP BY band, bs
), keeper AS (
    SELECT bs2.doc, min(bm.bmin) AS k
    FROM bs2 JOIN bucket_min bm ON bs2.band = bm.band AND bs2.bs = bm.bs
    GROUP BY bs2.doc
)
SELECT s2.doc_id, s2.lang, s2.n_chars
FROM s2 LEFT JOIN keeper ON keeper.doc = s2.doc_id
WHERE keeper.k IS NULL OR keeper.k = s2.doc_id
"""


@query("dedup_incremental", oracle=SQL_DEDUP_INCREMENTAL)
def q_dedup_incremental(spark, sf_dir):
    """Screen a new batch (doc_id % 5 == 0) against the standing corpus
    (the rest): exact fingerprint anti-join, LSH-bucket rejection vs
    the corpus, linear LSH assignment within the batch
    (operators/dedup.py incremental_dedup_admit) — no pair enumeration,
    no corpus re-clustering. Returns the admitted rows' identity."""
    # non-null text only: NULL fingerprints compare differently under
    # SQL NOT IN/NOT EXISTS vs Spark's anti join, so the query surface
    # is declared null-free (the operator itself handles NULLs with
    # Spark's join semantics)
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    batch = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    admitted = incremental_dedup_admit(batch, corpus, "text", "doc_id")
    return admitted.select("doc_id", "lang", "n_chars")


# --- shingle containment (asymmetric near-dup) ---------------------------
SQL_CONTAINMENT = """
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
    FROM documents
), sh AS (
    SELECT DISTINCT doc_id AS doc,
           unnest([array_to_string(t[i:i+2], ' ')
                   for i in range(1, len(t) - 1)]) AS s
    FROM toks
), sz AS (
    SELECT doc, count(*) AS sz FROM sh GROUP BY doc
), inter AS (
    SELECT a.doc AS src, b.doc AS dst, count(*) AS i
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc <> b.doc
    GROUP BY 1, 2
)
SELECT inter.src, inter.dst, round(i * 1.0 / sz, 6) AS containment
FROM inter JOIN sz ON inter.src = sz.doc
WHERE round(i * 1.0 / sz, 6) >= 0.5
"""


@query("dedup_containment", oracle=SQL_CONTAINMENT)
def q_dedup_containment(spark, sf_dir):
    """Asymmetric substring-level duplication
    (operators/dedup.py:shingle_containment_pairs): ordered pairs where
    >=50% of the source's distinct 3-word shingles appear in the
    destination — the quote/aggregator case Jaccard under-scores.
    Verify-tier shape on the full corpus (guarded); the scale path
    feeds LSH candidates."""
    from stockpy_spark.operators.dedup import shingle_containment_pairs

    docs = _t(spark, sf_dir, "documents")
    return shingle_containment_pairs(docs, "text", "doc_id", threshold=0.5)


# --- temporal burst dedup -------------------------------------------------
SQL_DEDUP_TEMPORAL = """
WITH seq AS (
    SELECT event_id, user_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
           lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
           ) AS prev_s
    FROM events
    WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
)
SELECT event_id, user_id, event_type, epoch_s
FROM seq WHERE prev_s IS NULL OR epoch_s - prev_s > 86400
"""


@query("dedup_temporal", oracle=SQL_DEDUP_TEMPORAL)
def q_dedup_temporal(spark, sf_dir):
    """First-of-burst keeper over (user_id, event_type) with a 1-day
    chain tolerance (operators/dedup.py temporal_dedup_first) — the
    double-fire/retry-storm cleaner: near-in-TIME duplicates, not
    equal-in-value ones. Surfaces the surviving events' identity with
    epoch BIGINTs."""
    from pyspark.sql import functions as F

    from stockpy_spark.operators.dedup import temporal_dedup_first
    from stockpy_spark.sources.testdata import read_events

    ev = read_events(spark, sf_dir).where(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
    )
    kept = temporal_dedup_first(
        ev, ["user_id", "event_type"], "ts", 86_400, "event_id"
    )
    return kept.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp").cast("long").alias("epoch_s"),
    )
