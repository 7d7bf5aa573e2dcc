"""Extension query registry: LLM-data-pipeline operators (dedup,
similarity search, text analysis, multimodal, as-of join).

Same contract as registry_core: name -> (spark_fn, oracle_sql_or_None).
Oracle SQL replicates each operator's semantics exactly in DuckDB —
including the md5-based minhash, so even LSH candidate generation is
hash-checked — including minhash and simhash candidate generation
(both blocked joins are lossless at their configured thresholds).
Rows-only entries (sql=None): ANN-LSH / IVF / embedding-LSH
(approximate by design) and approx_count_distinct (HLL sketches differ
across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stockpy_spark.functions.text import (
    ENGLISH_STOPWORDS,
    LANG_STOPWORDS,
    fingerprint_md5,
    language_id,
    quality_features,
    quality_score,
    redact_pii,
    repetition_ratio,
    token_count,
)
from stockpy_spark.operators.dedup import (
    embedding_cosine_pairs,
    embedding_neardup_lsh,
    exact_dedup,
    exact_dedup_stats,
    minhash_dedup_assign,
    ngram_jaccard_pairs,
    minhash_lsh_pairs,
    simhash64_pairs,
    simhash_pairs,
    word_jaccard_pairs,
)
from stockpy_spark.operators.joins import asof_join
from stockpy_spark.operators.sampling import (
    group_train_test_split,
    hash_sample,
    pack_sequences,
    train_test_split,
)
from stockpy_spark.operators.aggregate import dedup_by_key_first
from stockpy_spark.operators.multimodal import (
    attach_binary_payload,
    attach_bmp_payload,
    attach_gif_payload,
    attach_png_payload,
    extract_features,
    extract_pixel_features,
)
from stockpy_spark.operators.similarity import ann_lsh_topk, brute_force_topk, ivf_topk
from stockpy_spark.sources.testdata import read_events


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return read_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS) + "]"
_TOKENS_SQL = "regexp_split_to_array(trim(text), '\\s+')"
_TOKENS_LOWER_SQL = "regexp_split_to_array(trim(lower(text)), '\\s+')"


# --- text analysis ---

def q_text_token_count(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count("text").alias("n_tokens"))


SQL_TOKEN_COUNT = f"""
SELECT doc_id,
       CASE WHEN text IS NULL OR trim(text) = '' THEN 0
            ELSE len({_TOKENS_SQL}) END AS n_tokens
FROM documents
"""


def q_text_quality_score(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    f = quality_features("text")
    return docs.select(
        "doc_id",
        f["n_tokens"].alias("n_tokens"),
        F.round(f["stopword_ratio"], 6).alias("stopword_ratio"),
        F.round(f["punct_ratio"], 6).alias("punct_ratio"),
        quality_score("text").alias("quality"),
    )


SQL_QUALITY = f"""
WITH f AS (
    SELECT doc_id,
           length(coalesce(text, '')) AS n_chars,
           CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                ELSE len({_TOKENS_SQL}) END AS n_tokens,
           CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                ELSE len(list_filter({_TOKENS_SQL},
                         x -> list_contains({_STOP_SQL}, lower(x)))) END AS stop_hits,
           length(coalesce(text, ''))
               - length(regexp_replace(coalesce(text, ''), '[^\\w\\s]', '', 'g'))
               AS punct_chars
    FROM documents
), r AS (
    SELECT doc_id, n_tokens,
           stop_hits / CAST(greatest(n_tokens, 1) AS DOUBLE) AS stop_ratio,
           punct_chars / CAST(greatest(n_chars, 1) AS DOUBLE) AS p_ratio
    FROM f
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(stop_ratio, 6) AS stopword_ratio,
       round(p_ratio, 6) AS punct_ratio,
       round(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.4
             + least(stop_ratio * 5.0, 1.0) * 0.3
             + greatest(1.0 - p_ratio * 4.0, 0.0) * 0.3, 6) AS quality
FROM r
"""


def q_text_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", language_id("text").alias("lang_guess"))


def _lang_id_sql() -> str:
    hit_cols = []
    for lang in sorted(LANG_STOPWORDS):
        words = "[" + ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang]) + "]"
        hit_cols.append(
            f"CASE WHEN text IS NULL OR trim(text) = '' THEN 0 "
            f"ELSE len(list_filter({_TOKENS_SQL}, x -> list_contains({words}, lower(x)))) "
            f"END AS hits_{lang}"
        )
    # fold in sorted-lang order, strictly-greater wins (mirrors language_id)
    sql = f"WITH h AS (SELECT doc_id, lang, {', '.join(hit_cols)} FROM documents)"
    prev = "h"
    langs = sorted(LANG_STOPWORDS)
    for i, lang in enumerate(langs):
        best_prev = "'und'" if i == 0 else f"best_{i - 1}"
        bh_prev = "0" if i == 0 else f"bh_{i - 1}"
        sql += (
            f", s{i} AS (SELECT *, "
            f"CASE WHEN hits_{lang} > {bh_prev} THEN '{lang}' ELSE {best_prev} END AS best_{i}, "
            f"CASE WHEN hits_{lang} > {bh_prev} THEN hits_{lang} ELSE {bh_prev} END AS bh_{i} "
            f"FROM {prev})"
        )
        prev = f"s{i}"
    return sql + f" SELECT doc_id, lang, best_{len(langs) - 1} AS lang_guess FROM {prev}"


SQL_LANG_ID = _lang_id_sql()


def q_text_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_md5("text").alias("fp"))


SQL_FINGERPRINT = """
SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
FROM documents
"""


# --- dedup ---

def q_dedup_exact_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup_stats(docs, "text", "doc_id")


SQL_DEDUP_EXACT_STATS = """
SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
       min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


def q_dedup_exact_docs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id").select("doc_id", "lang", "n_chars")


SQL_DEDUP_EXACT_DOCS = """
SELECT doc_id, lang, n_chars FROM documents
QUALIFY row_number() OVER (
    PARTITION BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
    ORDER BY doc_id) = 1
"""


def q_dedup_word_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return word_jaccard_pairs(docs, "text", "doc_id", threshold=0.8)


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


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Character 8-gram shingle Jaccard >= 0.5 on a 1-in-3 doc sample.
    The join is prefix-filtered (operators/setsim.py), so only each
    document's rarest shingles join; the sample stays because the
    oracle replays it with a naive all-pairs shingle self-join. At
    scale this op verifies LSH candidates only."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    return ngram_jaccard_pairs(docs, "text", "doc_id", n=8, threshold=0.5)


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


def q_dedup_minhash_lsh(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "text", "doc_id", num_hashes=12, bands=2)


SQL_MINHASH_BSIG_CTES = f"""tok AS (
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
)"""


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


def q_dedup_minhash_assign(spark, sf_dir):
    """Scale path: doc -> cluster keeper, no pair enumeration (linear in
    corpus size; a boilerplate cluster of any size costs O(cluster), not
    O(cluster^2))."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_dedup_assign(docs, "text", "doc_id", num_hashes=12, bands=2)


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


def q_dedup_simhash(spark, sf_dir):
    """max_hamming=3 keeps the 4-byte-block pigeonhole LOSSLESS (<=3
    flipped bits cannot touch all 4 blocks), so the blocked join is
    provably equal to the brute-force pair scan the oracle runs."""
    docs = _t(spark, sf_dir, "documents")
    return simhash_pairs(docs, "text", "doc_id", max_hamming=3)


def q_dedup_simhash64(spark, sf_dir):
    """64-bit variant (two portable 32-bit halves): 8-byte-block
    pigeonhole stays lossless at hamming<=3, with 2^64 sparsity so
    blocks stay cold at corpus sizes where 32-bit saturates. Oracle =
    brute-force pair scan over the same half-fingerprints."""
    docs = _t(spark, sf_dir, "documents")
    return simhash64_pairs(docs, "text", "doc_id", max_hamming=3)


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


def q_dedup_embedding_cosine(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(emb, "embedding", "vec_id", threshold=0.4)


SQL_EMB_COSINE = """
SELECT a.vec_id AS id1, b.vec_id AS id2,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
"""


# --- similarity search ---

def q_sim_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return brute_force_topk(emb, queries, "embedding", "vec_id", k=10)


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


def q_text_tfidf(spark, sf_dir):
    """TF-IDF over a doc subset (full term table is |docs| x |vocab|-ish;
    the subset keeps the oracle comparison quick while the operator is
    corpus-general)."""
    from stockpy_spark.operators.textstats import tfidf_terms

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return tfidf_terms(docs, "text", "doc_id")


SQL_TFIDF = f"""
WITH toks AS (
    SELECT doc_id AS doc, unnest({_TOKENS_LOWER_SQL}) AS term
    FROM documents
    WHERE doc_id % 5 = 0 AND text IS NOT NULL AND trim(text) <> ''
), tf AS (
    SELECT doc, term, count(*) AS tf FROM toks GROUP BY doc, term
), dfreq AS (
    SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
    SELECT count(DISTINCT doc) AS n FROM tf
)
SELECT doc, term, tf, df, round(tf * ln(n / CAST(df AS DOUBLE)), 6) AS tfidf
FROM tf JOIN dfreq USING (term) CROSS JOIN n
"""


def q_dedup_embedding_lsh(spark, sf_dir):
    """Scale path for embedding near-dup: hyperplane-LSH blocking +
    exact cosine verify within blocks (rows-only: the md5 sign trick
    is not portable SQL)."""
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_neardup_lsh(
        emb, "embedding", "vec_id", threshold=0.4, dim=64, n_planes=12, bands=3
    )


def q_sim_ivf_topk(spark, sf_dir):
    """IVF ANN: 16 deterministic Voronoi cells, probe the 4 nearest
    (~25% of the corpus scanned per query)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return ivf_topk(
        emb, queries, "embedding", "vec_id", k=10, n_centroids=16, n_probe=4
    )


def q_sim_ann_lsh(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return ann_lsh_topk(
        emb, queries, "embedding", "vec_id", k=10, dim=64, n_planes=8, probe_hamming=3
    )


# --- as-of join ---

def q_asof_purchase_view(spark, sf_dir):
    """For each purchase event, the user's most recent prior (or same-
    instant) view value — the stock-vs-news alignment shape from
    SURVEY.md §2.3 on the events table."""
    ev = _t(spark, sf_dir, "events")
    views = dedup_by_key_first(
        ev.filter(F.col("event_type") == "view"),
        ["user_id", "ts"],
        ["event_id"],
        descending=True,
    ).select("user_id", "ts", F.col("value").alias("view_value"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return asof_join(
        purchases, views, ["user_id"], "ts", "ts", ["view_value"]
    ).select("event_id", "user_id", "ts", "value", "view_value")


SQL_ASOF = """
WITH v AS (
    SELECT user_id, ts, value AS view_value
    FROM events WHERE event_type = 'view'
    QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
), p AS (
    SELECT event_id, user_id, ts, value
    FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.ts, p.value, v.view_value
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
"""


# --- multimodal ---

def q_mm_decode_features(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    assets = attach_binary_payload(docs, "text", "doc_id")
    return extract_features(assets)


# Byte-accurate oracle: the Spark side sums UTF-8 bytes of the encoded
# payload, so the SQL expands each code point into its UTF-8 byte sum
# (1-4 bytes) instead of summing code points — the two agree on any
# text, not just ASCII.
SQL_MM_FEATURES = """
WITH cps AS (
    SELECT doc_id,
           list_transform(range(1, length(text) + 1),
                          i -> ascii(substr(text, i, 1))) AS cp
    FROM documents
), agg AS (
    SELECT doc_id,
           coalesce(list_sum(list_transform(cp, c ->
               CASE WHEN c < 128 THEN c
                    WHEN c < 2048 THEN 320 + (c >> 6) + (c & 63)
                    WHEN c < 65536
                        THEN 480 + (c >> 12) + ((c >> 6) & 63) + (c & 63)
                    ELSE 624 + (c >> 18) + ((c >> 12) & 63)
                         + ((c >> 6) & 63) + (c & 63)
               END)), 0) AS bsum,
           CASE WHEN len(cp) = 0 THEN -1
                WHEN cp[1] < 128 THEN cp[1]
                WHEN cp[1] < 2048 THEN 192 + (cp[1] >> 6)
                WHEN cp[1] < 65536 THEN 224 + (cp[1] >> 12)
                ELSE 240 + (cp[1] >> 18)
           END AS first_byte
    FROM cps
)
SELECT d.doc_id, CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
       a.first_byte, CAST(a.bsum % 1000003 AS BIGINT) AS byte_sum_mod,
       'image/fake' AS media_type
FROM documents d JOIN agg a USING (doc_id)
"""


def q_mm_decode_pixels(spark, sf_dir):
    """The real-codec path: generate a 24-bit BMP per document
    (deterministic pixels from doc_id), decode it back with the
    pure-numpy BMP parser, and compute stats over the DECODED pixel
    array. The pixel pattern is closed-form
    ((doc_id*31 + y*17 + x*7 + c*5) % 256), so the oracle computes the
    expected stats arithmetically — a hash match proves the
    encode -> bytes -> decode roundtrip is bit-faithful."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    assets = attach_bmp_payload(docs, "doc_id")
    return extract_pixel_features(assets)


SQL_MM_PIXELS = """
WITH dims AS (
    SELECT doc_id, doc_id % 8 + 4 AS w, doc_id % 6 + 4 AS h FROM documents
), px AS (
    SELECT d.doc_id, d.w, d.h,
           SUM((d.doc_id * 31 + y.y * 17 + x.x * 7 + c.c * 5) % 256) AS px_sum
    FROM dims d
    JOIN generate_series(0, 8) y(y) ON y.y < d.h
    JOIN generate_series(0, 10) x(x) ON x.x < d.w
    JOIN generate_series(0, 2) c(c) ON TRUE
    GROUP BY d.doc_id, d.w, d.h
)
SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(px_sum AS BIGINT) AS px_sum,
       CAST(px_sum AS DOUBLE) / CAST(w * h * 3 AS DOUBLE) AS mean_lum,
       'image/bmp' AS media_type
FROM px
"""


def q_mm_decode_png(spark, sf_dir):
    """PNG twin of mm_decode_pixels: generate an 8-bit truecolor PNG per
    document (same closed-form pixel pattern), decode it back through
    the stdlib-zlib PNG parser (chunk CRCs, inflate, scanline
    unfilter), and compute stats over the DECODED array. Same
    arithmetic oracle — a hash match proves the deflate-containerized
    roundtrip is bit-faithful too, so the codec seam now has two real
    formats behind it (multimodal.py)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    assets = attach_png_payload(docs, "doc_id")
    return extract_pixel_features(assets)


SQL_MM_PNG = SQL_MM_PIXELS.replace("'image/bmp'", "'image/png'")


def q_mm_blob_pointer_read(spark, sf_dir):
    """The pointer-to-blob storage pattern end-to-end (multimodal.py
    pack_blob_shards / read_blob_slices): per-document PNG payloads are
    PACKED into 4 binary shard files (one concatenated blob per
    partition, executor-side, crash-safe tmp+rename), the pointer index
    (doc_id, uri, offset, length) — the only thing a 100 TB metadata
    table stores — is materialized, payloads are re-read by SLICING the
    shards (sequential within-shard reads), decoded, and hashed against
    the same closed-form pixel oracle as mm_decode_png. A hash match
    proves pack, pointer bookkeeping, slice reads, and decode are all
    byte-faithful; shard layout is scratch (one dir per run)."""
    import atexit
    import shutil
    import tempfile

    from stockpy_spark.operators.multimodal import (
        pack_blob_shards,
        read_blob_slices,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    assets = attach_png_payload(docs, "doc_id")
    out_dir = tempfile.mkdtemp(prefix="stockpy_blob_shards_")
    # the returned DataFrame lazily slices the shard files, so the dir
    # cannot be removed here; atexit bounds the scratch to one process
    # lifetime (bench best-of-2 + driver reruns otherwise accumulate)
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    index = pack_blob_shards(assets, "doc_id", out_dir, n_shards=4)
    slices = read_blob_slices(index)
    restored = slices.select(
        "doc_id",
        "payload",
        F.struct(
            F.lit("image/png").alias("media_type"),
            (F.col("doc_id") % 8 + 4).cast("int").alias("width"),
            (F.col("doc_id") % 6 + 4).cast("int").alias("height"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
    return extract_pixel_features(restored)


SQL_MM_BLOB = SQL_MM_PIXELS.replace("'image/bmp'", "'image/png'")


def q_mm_phash_neardup(spark, sf_dir):
    """Image near-duplicate pairing over REAL codec output
    (operators/imagehash.py): per-doc 24-bit BMPs (closed-form pixels)
    are DECODED by the repo's own parser, average-hashed on an 8x8
    nearest-neighbor grid (pure integer arithmetic: floor-divide
    luminance, cross-multiplied mean threshold), packed into four
    16-bit band keys, and paired by the simhash-style band pigeonhole
    (hamming <= 2 damages <= 2 of 4 bands => band-equality blocking is
    lossless; the O(n^2) cross join never materializes). The oracle
    replays grid sampling, thresholding, bit packing, and the pairing
    from the pixel formula — a hash match certifies decode + hash +
    blocking end-to-end."""
    from stockpy_spark.operators.imagehash import (
        ahash_near_pairs,
        perceptual_ahash,
    )
    from stockpy_spark.operators.multimodal import attach_bmp_payload

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    hashes = perceptual_ahash(attach_bmp_payload(docs, "doc_id"))
    return ahash_near_pairs(hashes, max_hamming=2)


SQL_MM_PHASH = r"""
WITH dims AS (
    SELECT doc_id, doc_id % 8 + 4 AS w, doc_id % 6 + 4 AS h FROM documents
), grid AS (
    SELECT d.doc_id, gy.gy * 8 + gx.gx AS k,
           (gy.gy * d.h) // 8 AS y, (gx.gx * d.w) // 8 AS x
    FROM dims d
    JOIN generate_series(0, 7) gy(gy) ON TRUE
    JOIN generate_series(0, 7) gx(gx) ON TRUE
), lum AS (
    SELECT doc_id, k,
           (((doc_id * 31 + y * 17 + x * 7) % 256)
          + ((doc_id * 31 + y * 17 + x * 7 + 5) % 256)
          + ((doc_id * 31 + y * 17 + x * 7 + 10) % 256)) // 3 AS lum
    FROM grid
), bits AS (
    SELECT l.doc_id, l.k, CASE WHEN 64 * l.lum > t.tl THEN 1 ELSE 0 END AS bit
    FROM lum l
    JOIN (SELECT doc_id, sum(lum) AS tl FROM lum GROUP BY doc_id) t
      ON l.doc_id = t.doc_id
), bands AS (
    SELECT doc_id, k // 16 AS band, CAST(sum(bit << (k % 16)) AS INTEGER) AS bv
    FROM bits GROUP BY doc_id, k // 16
), hashes AS (
    SELECT doc_id,
           max(CASE WHEN band = 0 THEN bv END) AS b0,
           max(CASE WHEN band = 1 THEN bv END) AS b1,
           max(CASE WHEN band = 2 THEN bv END) AS b2,
           max(CASE WHEN band = 3 THEN bv END) AS b3
    FROM bands GROUP BY doc_id
)
SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
          + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
            AS INTEGER) AS hamming
FROM hashes a JOIN hashes b
  ON a.doc_id < b.doc_id
 AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 2
"""


def q_mm_phash_dedup_cc(spark, sf_dir):
    """Transitive image dedup: the mm_phash_neardup pair graph closed
    under connectivity (operators/graph.py min-label propagation with
    pointer jumping), one row per image with its component id and the
    min-id representative flag — pair emitters alone under-remove
    (A~B, B~C keeps C), so this is the image twin of
    pipeline_dedup_cc. The oracle is exact transitive closure via
    WITH RECURSIVE reachability over the SAME closed-form pair set, so
    a hash match proves the iterative algorithm converged to the true
    components for every image."""
    from stockpy_spark.operators.imagehash import (
        ahash_dedup_components,
        perceptual_ahash,
    )
    from stockpy_spark.operators.multimodal import attach_bmp_payload

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    hashes = perceptual_ahash(attach_bmp_payload(docs, "doc_id"))
    return ahash_dedup_components(docs, hashes, max_hamming=2)


SQL_MM_PHASH_CC = f"""
WITH RECURSIVE pairs AS (
    SELECT d1, d2 FROM ({SQL_MM_PHASH})
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


def q_mm_equalize_hist(spark, sf_dir):
    """Histogram equalization over REAL codec output (multimodal.py
    equalize_lum / extract_equalized_features): per-doc GIF payloads
    are decoded through the pure-stdlib LZW expander, the integer
    luminance plane is remapped through its own cumulative histogram
    (the OpenCV floor-division formula), and the pre/post spread plus
    the exact post-remap pixel sum are emitted. post_sum pins every
    LUT entry times its count, so the oracle (a per-doc histogram +
    running-sum window over the closed-form pixels) verifies the whole
    decode -> CDF -> remap chain, not just that something ran."""
    from stockpy_spark.operators.multimodal import (
        attach_gif_payload,
        extract_equalized_features,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return extract_equalized_features(attach_gif_payload(docs, "doc_id"))


SQL_MM_EQUALIZE = """
WITH dims AS (
    SELECT doc_id, doc_id % 8 + 4 AS w, doc_id % 6 + 4 AS h FROM documents
), px AS (
    SELECT d.doc_id, d.w, d.h,
           (((d.doc_id * 31 + y.y * 17 + x.x * 7) % 256)
          + ((d.doc_id * 31 + y.y * 17 + x.x * 7 + 5) % 256)
          + ((d.doc_id * 31 + y.y * 17 + x.x * 7 + 10) % 256)) // 3 AS lum
    FROM dims d
    JOIN generate_series(0, 8) y(y) ON y.y < d.h
    JOIN generate_series(0, 10) x(x) ON x.x < d.w
), hist AS (
    SELECT doc_id, w, h, lum, count(*) AS c FROM px GROUP BY doc_id, w, h, lum
), cum AS (
    SELECT doc_id, lum, c, w * h AS n,
           sum(c) OVER (PARTITION BY doc_id ORDER BY lum) AS cdf,
           first_value(c) OVER (PARTITION BY doc_id ORDER BY lum) AS cdf_min
    FROM hist
), o AS (
    SELECT doc_id, lum, c, n,
           CASE WHEN n = cdf_min THEN 0
                ELSE ((cdf - cdf_min) * 255) // (n - cdf_min) END AS outv
    FROM cum
)
SELECT doc_id,
       CAST(max(n) AS INTEGER) AS n_px,
       CAST(min(lum) AS INTEGER) AS pre_min,
       CAST(max(lum) AS INTEGER) AS pre_max,
       CAST(min(outv) AS INTEGER) AS post_min,
       CAST(max(outv) AS INTEGER) AS post_max,
       CAST(sum(outv * c) AS BIGINT) AS post_sum
FROM o GROUP BY doc_id
"""


def q_er_fellegi_sunter(spark, sf_dir):
    """Fellegi-Sunter probabilistic linkage over brand-blocked part
    pairs (operators/joins.py fellegi_sunter_scores): u per field =
    the data's collision probability (sum of squared value
    frequencies), m fixed at 0.9, score = summed field log-likelihood
    ratios over (type, size) agreement, candidate matches = score >=
    0. The theory layer the fuzzy-string matcher (er_fuzzy_match)
    lacks: field weights are DERIVED from value distributions, so a
    rare-value agreement (size, 50 values) outweighs a common-value
    one (type, 6 values) by construction. Every pair's flags and score
    hash-checked."""
    from stockpy_spark.operators.joins import fellegi_sunter_scores

    parts = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    return fellegi_sunter_scores(
        parts, "p_brand", ["p_type", "p_size"], "p_partkey"
    )


SQL_ER_FS = """
WITH n AS (
    SELECT CAST(count(*) AS DOUBLE) AS n FROM part
), ut AS (
    SELECT sum((c / n.n) ^ 2) AS u
    FROM (SELECT count(*) AS c FROM part GROUP BY p_type), n
), us AS (
    SELECT sum((c / n.n) ^ 2) AS u
    FROM (SELECT count(*) AS c FROM part GROUP BY p_size), n
), pairs AS (
    SELECT a.p_partkey AS id_1, b.p_partkey AS id_2,
           CAST(a.p_type IS NOT DISTINCT FROM b.p_type AS INTEGER)
               AS agree_p_type,
           CAST(a.p_size IS NOT DISTINCT FROM b.p_size AS INTEGER)
               AS agree_p_size
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
)
SELECT id_1, id_2, agree_p_type, agree_p_size,
       round(
           (CASE WHEN agree_p_type = 1 THEN ln(0.9 / ut.u)
                 ELSE ln(0.1 / (1 - ut.u)) END)
         + (CASE WHEN agree_p_size = 1 THEN ln(0.9 / us.u)
                 ELSE ln(0.1 / (1 - us.u)) END), 6) AS score
FROM pairs, ut, us
WHERE round(
          (CASE WHEN agree_p_type = 1 THEN ln(0.9 / ut.u)
                ELSE ln(0.1 / (1 - ut.u)) END)
        + (CASE WHEN agree_p_size = 1 THEN ln(0.9 / us.u)
                ELSE ln(0.1 / (1 - us.u)) END), 6) >= 0.0
"""


def q_pipeline_image_dedup(spark, sf_dir):
    """The composed IMAGE curation pipeline — the multimodal twin of
    pipeline_clean_corpus, chaining every image-shelf stage end-to-end:
    real BMP payloads -> perceptual aHash -> transitive dedup on the
    scale path (identical-hash star edges + rep-level hamming pairs)
    -> keep only component representatives -> pack the KEEPERS into
    blob shards (the storage step a real pipeline runs on the deduped
    survivors) -> pointer-slice them back -> decode -> per-keeper
    pixel stats joined with the component size each keeper stands for.
    The oracle recomputes the transitive closure (WITH RECURSIVE over
    the closed-form pair set), picks min-id reps, counts members, and
    derives the pixel stats arithmetically — a hash match certifies
    hash, clustering, representative policy, shard round-trip, and
    decode in one row per surviving image."""
    import atexit
    import shutil
    import tempfile

    from stockpy_spark.operators.imagehash import (
        ahash_dedup_components,
        perceptual_ahash,
    )
    from stockpy_spark.operators.multimodal import (
        attach_bmp_payload,
        extract_pixel_features,
        pack_blob_shards,
        read_blob_slices,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    assets = attach_bmp_payload(docs, "doc_id")
    comp = ahash_dedup_components(
        docs, perceptual_ahash(assets), max_hamming=2
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    keepers = (
        comp.where(F.col("is_representative"))
        .join(sizes, "component")
        .select("doc_id", "component_size")
    )
    kept_assets = assets.join(keepers.select("doc_id"), "doc_id")
    out_dir = tempfile.mkdtemp(prefix="stockpy_imgdedup_shards_")
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    index = pack_blob_shards(kept_assets, "doc_id", out_dir, n_shards=4)
    restored = read_blob_slices(index).select(
        "doc_id",
        "payload",
        F.struct(
            F.lit("image/bmp").alias("media_type"),
            (F.col("doc_id") % 8 + 4).cast("int").alias("width"),
            (F.col("doc_id") % 6 + 4).cast("int").alias("height"),
            F.octet_length("payload").cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
    feats = extract_pixel_features(restored).select(
        "doc_id", "width", "height", "px_sum"
    )
    return feats.join(F.broadcast(keepers), "doc_id").select(
        "doc_id",
        F.col("component_size").cast("long").alias("component_size"),
        "width",
        "height",
        "px_sum",
    )


SQL_PIPE_IMAGE = f"""
WITH RECURSIVE pairs AS (
    SELECT d1, d2 FROM ({SQL_MM_PHASH})
), und AS (
    SELECT d1 AS a, d2 AS b FROM pairs
    UNION ALL
    SELECT d2 AS a, d1 AS b FROM pairs
), walk(v, lbl) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT und.b, walk.lbl FROM walk JOIN und ON und.a = walk.v
), comp AS (
    SELECT v AS doc_id, MIN(lbl) AS component FROM walk GROUP BY v
), sizes AS (
    SELECT component, count(*) AS component_size FROM comp GROUP BY component
), keepers AS (
    SELECT c.doc_id, s.component_size
    FROM comp c JOIN sizes s ON c.component = s.component
    WHERE c.doc_id = c.component
), dims AS (
    SELECT doc_id, doc_id % 8 + 4 AS w, doc_id % 6 + 4 AS h FROM keepers
), px AS (
    SELECT d.doc_id, d.w, d.h,
           SUM((d.doc_id * 31 + y.y * 17 + x.x * 7 + c.c * 5) % 256) AS px_sum
    FROM dims d
    JOIN generate_series(0, 8) y(y) ON y.y < d.h
    JOIN generate_series(0, 10) x(x) ON x.x < d.w
    JOIN generate_series(0, 2) c(c) ON TRUE
    GROUP BY d.doc_id, d.w, d.h
)
SELECT k.doc_id, CAST(k.component_size AS BIGINT) AS component_size,
       CAST(p.w AS INTEGER) AS width, CAST(p.h AS INTEGER) AS height,
       CAST(p.px_sum AS BIGINT) AS px_sum
FROM keepers k JOIN px p ON k.doc_id = p.doc_id
"""


def q_mm_decode_gif(spark, sf_dir):
    """GIF twin of mm_decode_png: generate a palette GIF89a per document
    (same closed-form pixel pattern), decode it back through the
    pure-stdlib LZW expander (sub-block reassembly, variable code
    width, KwKwK), and compute stats over the DECODED array. Same
    arithmetic oracle — a hash match proves the palette+LZW roundtrip
    is bit-faithful, closing the verdict-r5 codec gap (the third real
    image format behind multimodal._decode_pixels)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    assets = attach_gif_payload(docs, "doc_id")
    return extract_pixel_features(assets)


SQL_MM_GIF = SQL_MM_PIXELS.replace("'image/bmp'", "'image/gif'")


# --- approximate aggregates (rows-only: HLL differs across engines) ---

def q_approx_distinct_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.percentile_approx("value", 0.5).alias("median_value_approx"),
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


SQL_GATE_EMB_LSH = """
SELECT CAST(count(*) AS BIGINT) AS n_exact,
       CAST(1 AS BIGINT) AS precision_ok,
       CAST(1 AS BIGINT) AS recall_ok
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
"""


def q_gate_approx_distinct_err(spark, sf_dir):
    """Per-group sketch-error gate: approx_count_distinct (HLL++) must
    land within 5% of the exact distinct count and percentile_approx
    within 1% of the exact median. exact_users is pinned against the
    SQL-computed exact side, so the gate also re-verifies the exact
    aggregation path."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.percentile_approx("value", 0.5).alias("approx_median"),
        F.expr("percentile(value, 0.5)").alias("exact_median"),
    )
    return agg.select(
        "event_type",
        F.col("exact_users").cast("long").alias("exact_users"),
        F.when(
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= F.lit(0.05),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("hll_ok"),
        F.when(
            F.abs(F.col("approx_median") - F.col("exact_median"))
            # greatest(...) guards exact_median==0: non-ANSI division by
            # zero yields NULL which would flip the gate red on data
            # drift rather than a real quality regression.
            / F.greatest(F.abs(F.col("exact_median")), F.lit(1e-12))
            <= F.lit(0.01),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("median_ok"),
    )


SQL_GATE_HLL = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(1 AS BIGINT) AS hll_ok,
       CAST(1 AS BIGINT) AS median_ok
FROM events GROUP BY event_type
"""


def q_text_repetition(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(repetition_ratio("text"), 6).alias("rep_ratio")
    )


SQL_REPETITION = f"""
WITH t AS (
    SELECT doc_id,
           CASE WHEN text IS NULL OR trim(text) = '' THEN CAST([] AS VARCHAR[])
                ELSE {_TOKENS_LOWER_SQL} END AS toks
    FROM documents
)
SELECT doc_id,
       CASE WHEN len(toks) < 2 THEN 0.0
            ELSE round(1.0 - len(list_distinct(list_transform(
                     range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])))
                 / CAST(len(toks) - 1 AS DOUBLE), 6) END AS rep_ratio
FROM t
"""


# --- deterministic sampling / splitting / packing ---

_BUCKET_SQL = (
    "CAST(concat('0x', substr(md5('{salt}|' || CAST(doc_id AS VARCHAR)), 1, 15)) "
    "AS BIGINT) % 10000"
)


def q_sample_hash_docs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.1).select("doc_id", "lang")


SQL_SAMPLE_HASH = f"""
SELECT doc_id, lang FROM documents
WHERE {_BUCKET_SQL.format(salt='sample')} < 1000
"""


def q_split_train_test(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return train_test_split(docs, "doc_id", 0.2).select("doc_id", "split")


SQL_SPLIT = f"""
SELECT doc_id,
       CASE WHEN {_BUCKET_SQL.format(salt='split')} < 2000
            THEN 'test' ELSE 'train' END AS split
FROM documents
"""


def q_split_group_guard(spark, sf_dir):
    """Leakage-guarded train/test split (operators/sampling.py
    group_train_test_split): documents grouped by exact-text identity
    (md5 of text — the corpus plants byte-identical duplicates), split
    assigned from each group's MIN doc_id so duplicate clusters can
    never straddle the boundary. The oracle replays grouping,
    representative election, and the bucket rule, so a single member
    leaking to the other split hash-mismatches."""
    docs = _t(spark, sf_dir, "documents")
    grouped = docs.select(
        "doc_id", F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("grp")
    )
    return group_train_test_split(grouped, "doc_id", "grp", 0.2).select(
        "doc_id", "split"
    )


SQL_SPLIT_GROUP = """
WITH g AS (
    SELECT doc_id, md5(coalesce(text, '')) AS grp FROM documents
), rep AS (
    SELECT grp, min(doc_id) AS rep FROM g GROUP BY 1
), s AS (
    SELECT grp,
           CASE WHEN CAST(concat('0x', substr(md5('gsplit|' ||
                     CAST(rep AS VARCHAR)), 1, 15)) AS BIGINT)
                     % 10000 < 2000
                THEN 'test' ELSE 'train' END AS split
    FROM rep
)
SELECT g.doc_id, s.split FROM g JOIN s ON g.grp = s.grp
"""


def q_dp_event_counts(spark, sf_dir):
    """Epsilon-DP histogram release over event types (operators/
    privacy.py dp_noisy_counts, epsilon=1): exact per-type counts plus
    hash-seeded Laplace(1) noise through the inverse CDF — the
    calibrated-noise release shape under an exact oracle (the seeded
    uniform is what makes the release replayable AND cross-engine
    hashable; the module docstring states the production trade-off)."""
    from stockpy_spark.operators.privacy import dp_noisy_counts

    ev = _t(spark, sf_dir, "events").where(F.col("event_type").isNotNull())
    return dp_noisy_counts(ev, ["event_type"], epsilon=1.0)


SQL_DP_COUNTS = """
WITH g AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_true
    FROM events WHERE event_type IS NOT NULL GROUP BY 1
), u AS (
    SELECT event_type, n_true,
           (CAST(concat('0x', substr(md5('dp|' || event_type), 1, 15))
                 AS BIGINT) % 1000000 + 0.5) / 1000000.0 AS uval
    FROM g
)
SELECT event_type, n_true,
       round(-(1.0) * (CASE WHEN uval >= 0.5 THEN 1.0 ELSE -1.0 END)
             * ln(1 - 2 * abs(uval - 0.5)), 6) AS noise,
       round(n_true + round(-(1.0)
             * (CASE WHEN uval >= 0.5 THEN 1.0 ELSE -1.0 END)
             * ln(1 - 2 * abs(uval - 0.5)), 6), 6) AS n_noisy
FROM u
"""


def q_pack_context_bins(spark, sf_dir):
    """Context-window packing: hash-shard, per-shard running token sum,
    budget-quantized bin assignment."""
    docs = _t(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", F.col("text"), token_count("text").cast("long").alias("n_tokens")
    )
    return pack_sequences(sized, "doc_id", "n_tokens", budget=2048, n_shards=4).select(
        "doc_id", "shard", "bin", "n_tokens"
    )


SQL_PACK = f"""
WITH t AS (
    SELECT doc_id,
           CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                ELSE len({_TOKENS_SQL}) END AS n_tokens,
           {_BUCKET_SQL.format(salt='pack')} % 4 AS shard
    FROM documents
), c AS (
    SELECT doc_id, shard, n_tokens,
           sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
    FROM t
)
SELECT doc_id, shard,
       CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS bin,
       CAST(n_tokens AS BIGINT) AS n_tokens
FROM c
"""


def q_pack_chunks_ordered(spark, sf_dir):
    """Ordered chunk packing (operators/sampling.py
    pack_chunks_ordered — the locality-preserving sibling of
    pack_context_bins, and the 7th member of the bucketed prefix-sum
    family): each document splits into 64-token chunks, and every
    chunk's training-sequence bin is floor(global_start_offset / 512)
    over the (doc, chunk) order — the exact running sum the oracle
    replays with one global window, computed here with the quantile-
    edge bucket closure instead of a single-task sort."""
    from stockpy_spark.operators.sampling import pack_chunks_ordered

    docs = _t(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", token_count("text").cast("long").alias("nt")
    ).filter(F.col("nt") > 0)
    chunks = sized.select(
        "doc_id",
        "nt",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                ((F.col("nt") - 1) / F.lit(64)).cast("long"),
            )
        ).alias("chunk_idx"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.least(
            F.lit(64).cast("long"),
            F.col("nt") - F.col("chunk_idx") * F.lit(64),
        ).alias("n_tokens"),
    )
    out = pack_chunks_ordered(
        chunks, "doc_id", "chunk_idx", "n_tokens", budget=512
    )
    return out.select("doc_id", "chunk_idx", "n_tokens", "seq_start", "bin")


SQL_PACK_CHUNKS = f"""
WITH t AS (
    SELECT doc_id,
           CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                ELSE len({_TOKENS_SQL}) END AS nt
    FROM documents
), s AS (
    SELECT doc_id, nt FROM t WHERE nt > 0
), c AS (
    SELECT doc_id, nt,
           unnest(range(0, CAST(floor((nt - 1) / 64) AS BIGINT) + 1))
               AS chunk_idx
    FROM s
), z AS (
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(least(64, nt - chunk_idx * 64) AS BIGINT) AS n_tokens
    FROM c
), r AS (
    SELECT doc_id, chunk_idx, n_tokens,
           CAST(coalesce(SUM(n_tokens) OVER (
                    ORDER BY doc_id, chunk_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) AS BIGINT) AS seq_start
    FROM z
)
SELECT doc_id, chunk_idx, n_tokens, seq_start,
       CAST(floor(seq_start / 512.0) AS BIGINT) AS bin
FROM r
"""


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


def q_text_gopher_repetition(spark, sf_dir):
    """Gopher within-doc repetition battery (operators/gopher.py
    gopher_repetition_profile): char-weighted top-{2,3,4}-gram and
    duplicated-{5,10}-gram coverage fractions per document — the Rae
    et al. 2021 repetition filters. The operator is one zero-shuffle
    mapInPandas pass counting grams with a Counter (O(nt)/doc); the
    Spark higher-order-function form it replaced was the corpus-worst
    CPU query (O(nt^2)/doc, every HOF interpreted): 25.4 s -> 1.5 s at
    sf1. Values are exact: integer arithmetic plus Decimal HALF_UP
    rounding, which is Spark's round.
    The oracle replays gram counting, the (count DESC, gram ASC)
    top-gram election, and the overlap-safe char union via a
    distinct-position grid, so two radically different computations
    must agree to 6dp on every doc."""
    from stockpy_spark.operators.gopher import gopher_repetition_profile

    docs = _t(spark, sf_dir, "documents")
    # per-doc CPU: a single small parquet file yields ONE input split
    # and serializes the corpus onto one core. At real scale the scan
    # has thousands of splits and this branch never fires — the
    # operator itself stays a zero-shuffle narrow map.
    if docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return gopher_repetition_profile(docs, "text", "doc_id")


SQL_TEXT_GOPHER = r"""
WITH t AS (
    SELECT doc_id,
           CASE WHEN text IS NULL OR trim(text) = ''
                THEN [] ELSE regexp_split_to_array(trim(lower(text)), '\s+')
           END AS toks,
           CASE WHEN text IS NULL OR trim(text) = ''
                THEN 0 ELSE len(regexp_split_to_array(trim(lower(text)), '\s+'))
           END AS nt
    FROM documents
), pos AS (
    SELECT doc_id, toks, unnest(generate_series(1, nt)) AS p
    FROM t WHERE nt > 0
), chars AS (
    SELECT doc_id, CAST(sum(length(toks[p])) AS BIGINT) AS total_chars
    FROM pos GROUP BY doc_id
), tn AS (
    SELECT t.doc_id, t.toks, n.n,
           unnest(generate_series(0, t.nt - n.n)) AS s
    FROM t JOIN (VALUES (2), (3), (4), (5), (10)) AS n(n) ON t.nt >= n.n
), g AS (
    SELECT doc_id, n, s,
           array_to_string(list_slice(toks, s + 1, s + n), ' ') AS gram
    FROM tn
), cnt AS (
    SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3
), top AS (
    SELECT doc_id, n, gram FROM (
        SELECT doc_id, n, gram,
               row_number() OVER (PARTITION BY doc_id, n
                                  ORDER BY c DESC, gram ASC) AS rk
        FROM cnt WHERE n IN (2, 3, 4)
    ) WHERE rk = 1
), occ AS (
    SELECT 'top' AS fam, g.doc_id, g.n, g.s
    FROM g JOIN top USING (doc_id, n, gram)
    UNION ALL
    SELECT 'dup', g.doc_id, g.n, g.s
    FROM g JOIN (SELECT doc_id, n, gram FROM cnt
                 WHERE c > 1 AND n IN (5, 10)) d USING (doc_id, n, gram)
), covpos AS (
    SELECT DISTINCT fam, doc_id, n, p FROM (
        SELECT fam, doc_id, n, unnest(generate_series(s + 1, s + n)) AS p
        FROM occ
    )
), cov AS (
    SELECT c.fam, c.doc_id, c.n,
           CAST(sum(length(t.toks[c.p])) AS BIGINT) AS chars
    FROM covpos c JOIN t ON t.doc_id = c.doc_id
    GROUP BY 1, 2, 3
), stats AS (
    SELECT doc_id,
           max(CASE WHEN fam = 'top' AND n = 2 THEN chars END) AS t2,
           max(CASE WHEN fam = 'top' AND n = 3 THEN chars END) AS t3,
           max(CASE WHEN fam = 'top' AND n = 4 THEN chars END) AS t4,
           max(CASE WHEN fam = 'dup' AND n = 5 THEN chars END) AS d5,
           max(CASE WHEN fam = 'dup' AND n = 10 THEN chars END) AS d10
    FROM cov GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(t.nt AS BIGINT) AS n_tokens,
       CAST(COALESCE(ch.total_chars, 0) AS BIGINT) AS total_chars,
       round(CASE WHEN COALESCE(ch.total_chars, 0) = 0 THEN 0.0
                  ELSE COALESCE(s.t2, 0) / CAST(ch.total_chars AS DOUBLE)
             END, 6) AS top2_char_frac,
       round(CASE WHEN COALESCE(ch.total_chars, 0) = 0 THEN 0.0
                  ELSE COALESCE(s.t3, 0) / CAST(ch.total_chars AS DOUBLE)
             END, 6) AS top3_char_frac,
       round(CASE WHEN COALESCE(ch.total_chars, 0) = 0 THEN 0.0
                  ELSE COALESCE(s.t4, 0) / CAST(ch.total_chars AS DOUBLE)
             END, 6) AS top4_char_frac,
       round(CASE WHEN COALESCE(ch.total_chars, 0) = 0 THEN 0.0
                  ELSE COALESCE(s.d5, 0) / CAST(ch.total_chars AS DOUBLE)
             END, 6) AS dup5_char_frac,
       round(CASE WHEN COALESCE(ch.total_chars, 0) = 0 THEN 0.0
                  ELSE COALESCE(s.d10, 0) / CAST(ch.total_chars AS DOUBLE)
             END, 6) AS dup10_char_frac
FROM t
LEFT JOIN chars ch ON t.doc_id = ch.doc_id
LEFT JOIN stats s ON t.doc_id = s.doc_id
"""


def q_feat_target_encode(spark, sf_dir):
    """Leak-proof K-fold target encoding (operators/sampling.py
    target_encode_oof — the CatBoost-style supervised feature prep):
    every order's priority category is replaced by the smoothed target
    mean of o_totalprice computed WITHOUT the row's own md5-assigned
    fold, so the encoding a model trains on never contains the row's
    own label. One (fold x category) cell aggregate broadcast back as
    a narrow map; all 15k rows' encodings hash-checked (5 folds x 5
    priorities = 25 distinct leak-free means at sf0.01)."""
    from stockpy_spark.operators.sampling import target_encode_oof

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = target_encode_oof(
        orders.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        "o_orderpriority",
        "o_totalprice",
        "o_orderkey",
    )
    return out.select(
        "o_orderkey",
        F.coalesce(
            F.col("o_orderpriority").cast("string"), F.lit("<NULL>")
        ).alias("o_orderpriority"),
        "fold",
        "o_orderpriority_enc",
    )


SQL_TARGET_ENCODE = r"""
WITH b AS (
    SELECT o_orderkey, coalesce(CAST(o_orderpriority AS VARCHAR), '<NULL>') AS cat,
           o_totalprice AS t,
           CAST(concat('0x', substr(md5('tenc' || chr(31)
                || CAST(o_orderkey AS VARCHAR)), 1, 13)) AS BIGINT) % 5 AS fold
    FROM orders
), cells AS (
    SELECT cat, fold,
           sum(CASE WHEN t IS NOT NULL THEN t ELSE 0 END) AS s,
           sum(CASE WHEN t IS NOT NULL THEN 1 ELSE 0 END) AS n
    FROM b GROUP BY cat, fold
), ct AS (
    SELECT cat, sum(s) AS cs, sum(n) AS cn FROM cells GROUP BY cat
), g AS (
    SELECT sum(cs) / sum(cn) AS gmean FROM ct
)
SELECT b.o_orderkey, b.cat AS o_orderpriority,
       CAST(b.fold AS INTEGER) AS fold,
       round((ct.cs - c.s + 10.0 * g.gmean) / (ct.cn - c.n + 10.0), 6)
           AS o_orderpriority_enc
FROM b
JOIN cells c ON b.cat = c.cat AND b.fold = c.fold
JOIN ct ON b.cat = ct.cat, g
"""


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


def q_web_domain_filter(spark, sf_dir):
    """URL/domain-level corpus filtering (operators/webfilter.py) —
    the stage web-scale pipelines run before any content decode: parse
    host + registrable domain from the URL, screen against a host
    blocklist, then cap each domain at 10 docs chosen by the
    deterministic md5 draw (C4/RefinedWeb's per-domain diversity cap).
    Docs get a deterministic doc_id-derived URL (28 domains x ~18 docs
    at sf0.01, so the cap is load-bearing: ~45%% of unblocked rows are
    dropped by quota); both engines build the same URLs, then parse
    them blind."""
    from stockpy_spark.operators.webfilter import (
        blocklist_screen,
        domain_diversity_cap,
    )

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(d % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("d"),
        (d % 7).cast("string"),
        F.lit("."),
        F.element_at(
            F.array(F.lit("com"), F.lit("org"), F.lit("net"), F.lit("io")),
            ((d % 4) + 1).cast("int"),
        ),
        F.lit("/p/"),
        d.cast("string"),
    )
    sdf = docs.select("doc_id", url.alias("url"))
    screened = blocklist_screen(sdf, "url", ["d1.com", "d2.org", "www.d4.io"])
    out = domain_diversity_cap(screened, "doc_id", 10)
    return out.select("doc_id", "host", "domain", "blocked", "kept")


SQL_WEB_FILTER = r"""
WITH u AS (
    SELECT doc_id,
           'https://' || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
           || 'd' || CAST(doc_id % 7 AS VARCHAR) || '.'
           || (['com','org','net','io'])[(doc_id % 4) + 1]
           || '/p/' || CAST(doc_id AS VARCHAR) AS url
    FROM documents
), h AS (
    SELECT doc_id, url,
           lower(regexp_extract(url, '^https?://([^/:?#]+)', 1)) AS host
    FROM u
), d AS (
    SELECT doc_id, url, host,
           CASE WHEN contains(host, '.')
                THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
                ELSE host END AS domain
    FROM h
), b AS (
    SELECT doc_id, url, host, domain,
           CASE WHEN host IN ('d1.com', 'd2.org', 'www.d4.io')
                  OR domain IN ('d1.com', 'd2.org', 'www.d4.io')
                THEN 1 ELSE 0 END AS blocked
    FROM d
), r AS (
    SELECT *,
           row_number() OVER (
               PARTITION BY domain, blocked
               ORDER BY md5('domcap' || chr(31) || CAST(doc_id AS VARCHAR)),
                        doc_id
           ) AS rk
    FROM b
)
SELECT doc_id, host, domain, CAST(blocked AS INTEGER) AS blocked,
       CAST(CASE WHEN blocked = 0 AND rk <= 10 THEN 1 ELSE 0 END
            AS INTEGER) AS kept
FROM r
"""


def q_privacy_k_anonymity(spark, sf_dir):
    """k-anonymity release audit (operators/privacy.py
    k_anonymity_audit — the privacy shelf's third member after the DP
    release and PII redaction): customers audited on the quasi-
    identifier (nation, market segment, 1000-wide balance bucket) at
    k=5 — every row annotated with its anonymity-set size and the
    re-identifiability flag, the generalization ledger a release gate
    actually checks. Null-safe set join (NULL quasi values form a real
    anonymity set); one combination-count aggregate broadcast back."""
    from stockpy_spark.operators.privacy import k_anonymity_audit

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    out = k_anonymity_audit(
        cust,
        ["c_nationkey", "c_mktsegment", "c_acctbal"],
        k=5,
        generalize={
            "c_acctbal": F.floor(F.col("c_acctbal") / 1000).cast("long")
        },
    )
    return out.select(
        "c_custkey",
        F.col("c_nationkey_released").cast("long").alias("nation_released"),
        F.col("c_mktsegment_released").alias("segment_released"),
        F.col("c_acctbal_released").alias("balance_bucket"),
        "anonymity_set",
        "violates_k",
    )


SQL_K_ANON = """
WITH b AS (
    SELECT c_custkey, c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket
    FROM customer
), s AS (
    SELECT c_nationkey, c_mktsegment, bal_bucket, count(*) AS a
    FROM b GROUP BY c_nationkey, c_mktsegment, bal_bucket
)
SELECT b.c_custkey,
       CAST(b.c_nationkey AS BIGINT) AS nation_released,
       b.c_mktsegment AS segment_released,
       b.bal_bucket AS balance_bucket,
       CAST(s.a AS BIGINT) AS anonymity_set,
       CAST(CASE WHEN s.a < 5 THEN 1 ELSE 0 END AS INTEGER) AS violates_k
FROM b JOIN s ON b.c_nationkey IS NOT DISTINCT FROM s.c_nationkey
             AND b.c_mktsegment IS NOT DISTINCT FROM s.c_mktsegment
             AND b.bal_bucket IS NOT DISTINCT FROM s.bal_bucket
"""


def q_stats_spearman(spark, sf_dir):
    """Exact Spearman rank correlations over lineitem's (quantity,
    extendedprice, discount) — the monotonic-dependence screen Pearson
    misses (operators/stats.py spearman_corr_pairs): textbook average
    ranks derived RELATIONALLY (per-distinct-value counts + a
    cumulative sum over the sorted distinct table + an equi-join back
    — never a corpus-wide single-partition row window); rank moment
    sums are exactly-represented doubles, so the correlations are
    bit-identical cross-engine with no rounding tricks."""
    from stockpy_spark.operators.stats import spearman_corr_pairs

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return spearman_corr_pairs(
        li, ["l_quantity", "l_extendedprice", "l_discount"]
    )


SQL_SPEARMAN = r"""
WITH b AS (
    SELECT CAST(l_quantity AS DOUBLE) AS q, CAST(l_extendedprice AS DOUBLE) AS p,
           CAST(l_discount AS DOUBLE) AS d
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
      AND l_discount IS NOT NULL
), rq AS (
    SELECT v AS q, coalesce(lt, 0) + (c + 1) / 2.0 AS r FROM (
        SELECT q AS v, count(*) AS c,
               sum(count(*)) OVER (ORDER BY q
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
        FROM b GROUP BY q)
), rp AS (
    SELECT v AS p, coalesce(lt, 0) + (c + 1) / 2.0 AS r FROM (
        SELECT p AS v, count(*) AS c,
               sum(count(*)) OVER (ORDER BY p
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
        FROM b GROUP BY p)
), rd AS (
    SELECT v AS d, coalesce(lt, 0) + (c + 1) / 2.0 AS r FROM (
        SELECT d AS v, count(*) AS c,
               sum(count(*)) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
        FROM b GROUP BY d)
), j AS (
    SELECT rq.r AS x, rp.r AS y, rd.r AS z
    FROM b JOIN rq ON b.q = rq.q JOIN rp ON b.p = rp.p JOIN rd ON b.d = rd.d
), m AS (
    SELECT count(*) AS n,
           sum(x) AS sx, sum(x * x) AS ssx,
           sum(y) AS sy, sum(y * y) AS ssy,
           sum(z) AS sz, sum(z * z) AS ssz,
           sum(x * y) AS sxy, sum(x * z) AS sxz, sum(y * z) AS syz
    FROM j
)
SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
       round((sxy - sx * sy / n)
             / sqrt((ssx - sx * sx / n) * (ssy - sy * sy / n)), 6) AS spearman
FROM m
UNION ALL
SELECT 'l_quantity', 'l_discount',
       round((sxz - sx * sz / n)
             / sqrt((ssx - sx * sx / n) * (ssz - sz * sz / n)), 6)
FROM m
UNION ALL
SELECT 'l_extendedprice', 'l_discount',
       round((syz - sy * sz / n)
             / sqrt((ssy - sy * sy / n) * (ssz - sz * sz / n)), 6)
FROM m
"""


def q_stats_kde_grid(spark, sf_dir):
    """Gaussian KDE of the event-value distribution on a 32-point grid
    (operators/stats.py kde_grid — the smooth curve drift dashboards
    want where histogram bin edges distort): integer-derived grid
    bounds, ONE corpus pass computing all 32 points as conditional
    sums in a single map-side-combined aggregate (state = 32 doubles,
    no explode). Sums of exp() differ across engines only in
    accumulation order; 6dp rounding absorbs it and every (grid,
    density) cell is hash-checked."""
    from stockpy_spark.operators.stats import kde_grid
    from stockpy_spark.sources.testdata import read_events

    return kde_grid(read_events(spark, sf_dir), "value")


_KDE_NORM = repr(1.0 / (5.0 * __import__("math").sqrt(2.0 * __import__("math").pi)))

SQL_KDE = f"""
WITH b AS (
    SELECT CAST(value AS DOUBLE) AS x FROM events WHERE value IS NOT NULL
), r AS (
    SELECT CAST(floor(min(x)) AS DOUBLE) AS lo,
           CAST(ceil(max(x)) AS DOUBLE) AS hi, count(*) AS n
    FROM b
), g AS (
    SELECT j.j, r.lo + (r.hi - r.lo) * j.j / 31.0 AS gv, r.n
    FROM r JOIN generate_series(0, 31) j(j) ON TRUE
), d AS (
    SELECT g.j, g.gv, g.n,
           sum(exp(-power((g.gv - b.x) / 5.0, 2) / 2.0)) AS s
    FROM g JOIN b ON TRUE GROUP BY g.j, g.gv, g.n
)
SELECT CAST(j AS INTEGER) AS grid_idx, round(gv, 6) AS grid_value,
       round({_KDE_NORM} * s / n, 6) AS density
FROM d
"""


def q_ts_acf(spark, sf_dir):
    """Per-user autocorrelation at lags 1-3
    (operators/timeseries.py autocorrelation_by_key — the is-this-
    series-white-noise diagnostic run before any forecasting
    decision): values ordered by (ts, event_id) so timestamp
    collisions pair deterministically, one key shuffle shared by the
    lag window and the moment aggregate, NULL for lags a series is too
    short to support. Every user's r_1..r_3 hash-checked; the
    numerator/denominator expression trees are mirrored term-for-term
    so the doubles agree bit-for-bit before rounding."""
    from stockpy_spark.operators.timeseries import autocorrelation_by_key
    from stockpy_spark.sources.testdata import read_events

    return autocorrelation_by_key(
        read_events(spark, sf_dir), "user_id", "ts", "value", "event_id"
    )


SQL_TS_ACF = r"""
WITH b AS (
    SELECT user_id AS k, ts, event_id AS tb, CAST(value AS DOUBLE) AS x
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
), l AS (
    SELECT k, x,
           lead(x, 1) OVER w AS x1,
           lead(x, 2) OVER w AS x2,
           lead(x, 3) OVER w AS x3
    FROM b WINDOW w AS (PARTITION BY k ORDER BY ts, tb)
), m AS (
    SELECT k, count(*) AS n, sum(x) AS s, sum(x * x) AS ss,
           sum(x * x1) AS sxy1, sum(CASE WHEN x1 IS NOT NULL THEN x END) AS sx1,
           sum(x1) AS sy1, sum(CASE WHEN x1 IS NOT NULL THEN 1 ELSE 0 END) AS m1,
           sum(x * x2) AS sxy2, sum(CASE WHEN x2 IS NOT NULL THEN x END) AS sx2,
           sum(x2) AS sy2, sum(CASE WHEN x2 IS NOT NULL THEN 1 ELSE 0 END) AS m2,
           sum(x * x3) AS sxy3, sum(CASE WHEN x3 IS NOT NULL THEN x END) AS sx3,
           sum(x3) AS sy3, sum(CASE WHEN x3 IS NOT NULL THEN 1 ELSE 0 END) AS m3
    FROM l GROUP BY k
)
SELECT k AS user_id, CAST(n AS BIGINT) AS n_points,
       CASE WHEN m1 > 0 AND (ss - n * (s / n) * (s / n)) > 1e-12
            THEN round((sxy1 - (s / n) * sy1 - (s / n) * sx1 + m1 * (s / n) * (s / n))
                       / (ss - n * (s / n) * (s / n)), 6) END AS acf_1,
       CASE WHEN m2 > 0 AND (ss - n * (s / n) * (s / n)) > 1e-12
            THEN round((sxy2 - (s / n) * sy2 - (s / n) * sx2 + m2 * (s / n) * (s / n))
                       / (ss - n * (s / n) * (s / n)), 6) END AS acf_2,
       CASE WHEN m3 > 0 AND (ss - n * (s / n) * (s / n)) > 1e-12
            THEN round((sxy3 - (s / n) * sy3 - (s / n) * sx3 + m3 * (s / n) * (s / n))
                       / (ss - n * (s / n) * (s / n)), 6) END AS acf_3
FROM m
"""


def q_stats_cuped(spark, sf_dir):
    """CUPED variance-reduced experiment metrics (operators/stats.py
    cuped_adjusted_metrics — Deng et al. 2013): per-user pre/post
    value sums split at the integer epoch midpoint, theta =
    cov(X,Y)/var(X) and mean(X) rounded BEFORE the per-user adjustment
    so both engines apply identical constants, Y_adj = Y - theta*(X -
    xbar). One user-keyed conditional aggregate + a 1-row moment
    census broadcast — every user's adjusted metric hash-checked."""
    from stockpy_spark.operators.stats import cuped_adjusted_metrics
    from stockpy_spark.sources.testdata import read_events

    return cuped_adjusted_metrics(read_events(spark, sf_dir))


SQL_CUPED = """
WITH b AS (
    SELECT user_id AS u, CAST(floor(epoch(ts)) AS BIGINT) AS es, value AS v
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
), r AS (
    SELECT (min(es) + max(es)) // 2 AS mid FROM b
), pu AS (
    SELECT u,
           sum(CASE WHEN es <= r.mid THEN v ELSE 0 END) AS x,
           sum(CASE WHEN es > r.mid THEN v ELSE 0 END) AS y
    FROM b, r GROUP BY u
), m AS (
    SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
           sum(x * x) AS sxx, sum(x * y) AS sxy
    FROM pu
), c AS (
    SELECT round(sx / n, 6) AS xbar,
           round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS theta
    FROM m
)
SELECT pu.u AS user_id,
       round(pu.x, 6) AS pre_value,
       round(pu.y, 6) AS post_value,
       c.theta,
       round(pu.y - c.theta * (pu.x - c.xbar), 6) AS post_adjusted
FROM pu, c
"""


def q_attr_last_touch(spark, sf_dir):
    """Last-touch attribution (operators/behavior.py
    last_touch_attribution): every purchase credited to the user's
    most recent view/click strictly before it within a 24h lookback,
    ties by larger event id; unattributed purchases kept with NULLs.
    One user-keyed equi-join + one per-conversion argmax window —
    every purchase's credited channel, touch time, and lag hash-
    checked."""
    from stockpy_spark.operators.behavior import last_touch_attribution
    # the batch reader owns the nanos/NTZ ts fallback, like every
    # other events query
    from stockpy_spark.sources.testdata import read_events

    ev = read_events(spark, sf_dir)
    return last_touch_attribution(
        ev, ["view", "click"], "purchase", lookback_sec=86_400
    )


SQL_ATTR_LAST_TOUCH = """
WITH b AS (
    SELECT user_id AS u, event_id AS eid, event_type AS etype,
           CAST(floor(epoch(ts)) AS BIGINT) AS es
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), conv AS (
    SELECT u, eid AS conv_id, es AS conv_s FROM b WHERE etype = 'purchase'
), touch AS (
    SELECT u, eid AS touch_id, etype AS touch_type, es AS touch_s
    FROM b WHERE etype IN ('view', 'click')
), best AS (
    SELECT c.conv_id, t.touch_type, t.touch_s,
           row_number() OVER (PARTITION BY c.conv_id
                              ORDER BY t.touch_s DESC, t.touch_id DESC) AS rn
    FROM conv c JOIN touch t ON c.u = t.u
    WHERE t.touch_s < c.conv_s AND t.touch_s >= c.conv_s - 86400
)
SELECT c.conv_id AS conversion_id, c.u AS user_id,
       c.conv_s AS conversion_epoch,
       b.touch_type, b.touch_s AS touch_epoch,
       c.conv_s - b.touch_s AS touch_lag_sec
FROM conv c LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
  ON c.conv_id = b.conv_id
"""


def q_text_pmi_collocations(spark, sf_dir):
    """Top-50 PMI collocations (operators/textstats.py
    pmi_collocations — word2vec's phrase-detection statistic and the
    standard tokenizer-design audit): corpus bigram vs unigram counts,
    PMI = ln(c_xy * N / (c_x * c_y)), min_count 5 floor, ties by
    bigram text. Counts are exact integers, the products stay under
    2^53, and ln is libm-identical cross-engine (the lm_perplexity
    precedent), so the rounded PMIs and the top-k cut replay
    exactly."""
    from stockpy_spark.operators.textstats import pmi_collocations

    docs = _t(spark, sf_dir, "documents")
    return pmi_collocations(docs, "text", "doc_id", min_count=5, k=50)


SQL_PMI = f"""
WITH t AS (
    SELECT doc_id, {_TOKENS_LOWER_SQL} AS toks,
           len({_TOKENS_LOWER_SQL}) AS nt
    FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), uni AS (
    SELECT tok AS w, count(*) AS cw
    FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok
), n AS (
    SELECT sum(cw) AS n FROM uni
), big AS (
    SELECT toks[s] || ' ' || toks[s + 1] AS xy,
           toks[s] AS x, toks[s + 1] AS y, count(*) AS cxy
    FROM (SELECT toks, unnest(generate_series(1, nt - 1)) AS s
          FROM t WHERE nt >= 2)
    GROUP BY 1, 2, 3
    HAVING count(*) >= 5
)
SELECT xy, CAST(cxy AS BIGINT) AS pair_count,
       round(ln(cxy * n.n / (ux.cw * uy.cw)), 6) AS pmi
FROM big JOIN uni ux ON big.x = ux.w JOIN uni uy ON big.y = uy.w, n
ORDER BY pmi DESC, xy LIMIT 50
"""


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


def q_sketch_cm_counts(spark, sf_dir):
    """Count-Min sketch point-frequency estimates over events.user_id
    (operators/sketches.py cm_sketch_estimates, depth 4 x width 64 —
    width deliberately small so collisions actually occur and the min-
    over-rows machinery is load-bearing). The grid is a pure function
    of the multiset (partitioning-invariant) and the md5 bucket
    derivation is portable, so every cell and every point estimate is
    hash-checked exactly — the only sketch on the shelf under a FULL
    oracle rather than a quality gate. est >= exact always (counters
    never decrement); the pytest pins the overestimate property and
    cross-partition invariance."""
    from stockpy_spark.operators.sketches import cm_sketch_estimates

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cm_sketch_estimates(ev, "user_id", depth=4, width=64)


SQL_CM_SKETCH = r"""
WITH v AS (
    SELECT CAST(user_id AS VARCHAR) AS v FROM events WHERE user_id IS NOT NULL
), r AS (
    SELECT v, j.j,
           CAST(concat('0x', substr(md5('cm' || CAST(j.j AS VARCHAR)
                || chr(31) || v), 1, 13)) AS BIGINT) % 64 AS b
    FROM v JOIN (VALUES (0), (1), (2), (3)) j(j) ON TRUE
), sk AS (
    SELECT j, b, count(*) AS c FROM r GROUP BY j, b
), ex AS (
    SELECT v, count(*) AS exact_count FROM v GROUP BY v
), kr AS (
    SELECT ex.v, ex.exact_count, j.j,
           CAST(concat('0x', substr(md5('cm' || CAST(j.j AS VARCHAR)
                || chr(31) || ex.v), 1, 13)) AS BIGINT) % 64 AS b
    FROM ex JOIN (VALUES (0), (1), (2), (3)) j(j) ON TRUE
)
SELECT kr.v AS item, CAST(kr.exact_count AS BIGINT) AS exact_count,
       CAST(min(sk.c) AS BIGINT) AS cm_estimate
FROM kr JOIN sk ON kr.j = sk.j AND kr.b = sk.b
GROUP BY kr.v, kr.exact_count
"""


def q_sample_dsir_weights(spark, sf_dir):
    """DSIR importance weights (operators/dsir.py — Xie et al. 2023):
    hashed-bigram (1024 buckets, md5-portable) add-1-smoothed bag
    models for a target slice (doc_id % 10 == 0) vs the raw pool, per-
    doc log likelihood-ratio weights, and the Gumbel-max resample key
    seeded from md5(doc_id). Emitting EVERY raw doc's (weight, key)
    rather than the top-k cut keeps the oracle boundary-free: the
    sample is a deterministic function of this output (take the k
    largest keys — dsir_select_topk), and each of the 450 weights is
    hash-checked individually."""
    from stockpy_spark.operators.dsir import dsir_importance_weights

    docs = _t(spark, sf_dir, "documents")
    return dsir_importance_weights(
        docs, "text", "doc_id", F.col("doc_id") % 10 == 0
    )


SQL_DSIR = r"""
WITH t AS (
    SELECT doc_id, doc_id % 10 = 0 AS tgt,
           CASE WHEN text IS NULL OR trim(text) = ''
                THEN [] ELSE regexp_split_to_array(trim(lower(text)), '\s+')
           END AS toks,
           CASE WHEN text IS NULL OR trim(text) = ''
                THEN 0 ELSE len(regexp_split_to_array(trim(lower(text)), '\s+'))
           END AS nt
    FROM documents
), g AS (
    SELECT doc_id, tgt,
           CAST(concat('0x', substr(md5('dsir' || chr(31)
                || toks[s] || ' ' || toks[s + 1]), 1, 13)) AS BIGINT) % 1024 AS b
    FROM (SELECT doc_id, tgt, toks,
                 unnest(generate_series(1, nt - 1)) AS s
          FROM t WHERE nt >= 2)
), s AS (
    SELECT b,
           sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
           sum(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS cr
    FROM g GROUP BY b
), tot AS (
    SELECT sum(ct) AS tt, sum(cr) AS tr FROM s
), ld AS (
    SELECT b, ln((ct + 1) / CAST(tt + 1024 AS DOUBLE))
            - ln((cr + 1) / CAST(tr + 1024 AS DOUBLE)) AS ld
    FROM s, tot
), w AS (
    SELECT g.doc_id, count(*) AS n, sum(ld.ld) AS lw
    FROM g JOIN ld USING (b) WHERE NOT g.tgt GROUP BY g.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(w.n, 0) AS BIGINT) AS n_bigrams,
       round(COALESCE(w.lw, 0.0), 6) AS log_weight,
       round(COALESCE(w.lw, 0.0)
             - ln(-ln((CAST(concat('0x', substr(md5('dsir-g|'
                   || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   % 1000000 + 0.5) / 1000000.0)), 6) AS resample_key
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 != 0) d
LEFT JOIN w ON d.doc_id = w.doc_id
"""


def q_text_gopher_quality(spark, sf_dir):
    """Gopher document-quality rule battery (operators/gopher.py
    gopher_quality_rules — the line/word-shape gates of Rae et al.
    2021 App. A). The synthetic corpus is single-line word soup, so —
    exactly like text_redact_pii salts PII — each doc is first given a
    deterministic doc_id-derived line structure (8-token lines,
    bullets, '#' symbol tokens, injected stopwords, '...'/'.' endings),
    constructed identically in both engines; the rule battery then
    PARSES that text with no knowledge of the construction. keep
    splits ~2:1 at sf0.01, so every gate is load-bearing."""
    from stockpy_spark.operators.gopher import gopher_quality_rules

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    toks = F.when(
        F.col("text").isNull() | (F.trim("text") == ""),
        F.array().cast("array<string>"),
    ).otherwise(F.split(F.trim(F.lower("text")), r"\s+"))
    base = docs.select("doc_id", toks.alias("__t")).select(
        "doc_id", "__t", F.size("__t").alias("__nt")
    )
    nt = F.col("__nt")
    nlines = F.floor((nt + F.lit(7)) / F.lit(8)).cast("int")

    def line_expr(i):
        key = d + i
        return F.concat(
            F.when(key % 5 == 0, F.lit("- ")).otherwise(F.lit("")),
            F.array_join(F.slice("__t", i * F.lit(8) + 1, 8), " "),
            F.when(key % 4 == 0, F.lit(" #42")).otherwise(F.lit("")),
            F.when(key % 2 == 0, F.lit(" of the")).otherwise(F.lit("")),
            F.when(key % 7 == 0, F.lit("..."))
            .when(key % 3 == 0, F.lit("."))
            .otherwise(F.lit("")),
        )

    salted = F.when(nt == 0, F.lit("")).otherwise(
        F.array_join(
            F.transform(F.sequence(F.lit(0), nlines - 1), line_expr), "\n"
        )
    )
    sdf = base.select("doc_id", salted.alias("salted"))
    return gopher_quality_rules(sdf, "salted", "doc_id")


SQL_TEXT_GOPHER_QUALITY = r"""
WITH t AS (
    SELECT doc_id,
           CASE WHEN text IS NULL OR trim(text) = ''
                THEN [] ELSE regexp_split_to_array(trim(lower(text)), '\s+')
           END AS toks,
           CASE WHEN text IS NULL OR trim(text) = ''
                THEN 0 ELSE len(regexp_split_to_array(trim(lower(text)), '\s+'))
           END AS nt
    FROM documents
), sal AS (
    SELECT doc_id,
           CASE WHEN nt = 0 THEN '' ELSE
             array_to_string(list_transform(generate_series(0, (nt + 7) // 8 - 1), i ->
               (CASE WHEN (doc_id + i) % 5 = 0 THEN '- ' ELSE '' END)
               || array_to_string(list_slice(toks, i * 8 + 1, i * 8 + 8), ' ')
               || (CASE WHEN (doc_id + i) % 4 = 0 THEN ' #42' ELSE '' END)
               || (CASE WHEN (doc_id + i) % 2 = 0 THEN ' of the' ELSE '' END)
               || (CASE WHEN (doc_id + i) % 7 = 0 THEN '...'
                        WHEN (doc_id + i) % 3 = 0 THEN '.' ELSE '' END)
             ), chr(10)) END AS txt
    FROM t
), f AS (
    SELECT doc_id, txt,
           CASE WHEN trim(txt) = '' THEN [] ELSE string_split(txt, chr(10)) END AS lines,
           CASE WHEN trim(txt) = '' THEN [] ELSE regexp_split_to_array(trim(txt), '\s+') END AS words
    FROM sal
), m AS (
    SELECT doc_id,
           len(lines) AS n_lines, len(words) AS n_words,
           greatest(len(lines), 1) AS snl, greatest(len(words), 1) AS snw,
           len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '• %')) AS bullet,
           len(list_filter(lines, l -> l LIKE '%...')) AS ellips,
           len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]'))) AS alpha,
           length(txt) - length(replace(txt, '#', '')) AS hashc,
           (length(txt) - length(replace(txt, '...', ''))) / 3 AS dots3,
           list_sum(list_transform(words, w -> length(w))) AS wchars,
           (CASE WHEN list_contains(words, 'the') THEN 1 ELSE 0 END
          + CASE WHEN list_contains(words, 'be') THEN 1 ELSE 0 END
          + CASE WHEN list_contains(words, 'to') THEN 1 ELSE 0 END
          + CASE WHEN list_contains(words, 'of') THEN 1 ELSE 0 END
          + CASE WHEN list_contains(words, 'and') THEN 1 ELSE 0 END
          + CASE WHEN list_contains(words, 'that') THEN 1 ELSE 0 END
          + CASE WHEN list_contains(words, 'have') THEN 1 ELSE 0 END
          + CASE WHEN list_contains(words, 'with') THEN 1 ELSE 0 END) AS stop_hits
    FROM f
)
SELECT doc_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(n_words AS BIGINT) AS n_words,
       round(bullet / CAST(snl AS DOUBLE), 6) AS bullet_line_frac,
       round(ellips / CAST(snl AS DOUBLE), 6) AS ellipsis_line_frac,
       round(alpha / CAST(snw AS DOUBLE), 6) AS alpha_word_frac,
       round((hashc + dots3) / CAST(snw AS DOUBLE), 6) AS symbol_word_ratio,
       round(COALESCE(wchars, 0) / CAST(snw AS DOUBLE), 6) AS mean_word_len,
       CAST(stop_hits AS INTEGER) AS stop_hits,
       CAST(CASE WHEN n_words BETWEEN 50 AND 100000
              AND round(COALESCE(wchars,0) / CAST(snw AS DOUBLE), 6) BETWEEN 3.0 AND 10.0
              AND round(bullet / CAST(snl AS DOUBLE), 6) <= 0.9
              AND round(ellips / CAST(snl AS DOUBLE), 6) <= 0.3
              AND round(alpha / CAST(snw AS DOUBLE), 6) >= 0.8
              AND round((hashc + dots3) / CAST(snw AS DOUBLE), 6) <= 0.1
              AND stop_hits >= 2
            THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM m
"""


def q_text_redact_pii(spark, sf_dir):
    """PII scrub parity check. The synthetic corpus contains no real
    PII, so each row's text is salted with a doc_id-derived email,
    phone, and SSN before redaction — every row exercises every
    pattern, and the oracle must reproduce the redaction exactly."""
    docs = _t(spark, sf_dir, "documents")
    salted = F.concat_ws(
        " ",
        F.col("text"),
        F.concat(F.lit("user"), F.col("doc_id"), F.lit("@example.com")),
        F.lit("555-867-5309"),
        F.lit("123-45-6789"),
    )
    return docs.select(
        "doc_id", F.md5(redact_pii(salted)).alias("redacted_md5")
    )


SQL_REDACT = """
SELECT doc_id,
       md5(regexp_replace(regexp_replace(regexp_replace(
           concat_ws(' ', text, 'user' || CAST(doc_id AS VARCHAR) || '@example.com',
                     '555-867-5309', '123-45-6789'),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b', '<PHONE>', 'g'),
           '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g')) AS redacted_md5
FROM documents
"""


def q_pack_materialize(spark, sf_dir):
    """Materialized packed sequences: per (shard, bin), the documents
    concatenated in id order (md5 of the payload keeps result rows
    small), with doc/token counts. groupBy collect_list is bounded by
    the token budget per bin — state never exceeds ~budget tokens."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sized = docs.select(
        "doc_id", "text", token_count("text").cast("long").alias("n_tokens")
    )
    packed = pack_sequences(sized, "doc_id", "n_tokens", budget=2048, n_shards=4)
    seq = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
            lambda s: s["text"],
        ),
        "\n",
    )
    return packed.groupBy("shard", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.md5(seq).alias("payload_md5"),
    )


SQL_PACK_MAT = f"""
WITH t AS (
    SELECT doc_id, text,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len({_TOKENS_SQL}) END AS n_tokens,
           {_BUCKET_SQL.format(salt='pack')} % 4 AS shard
    FROM documents WHERE text IS NOT NULL
), c AS (
    SELECT doc_id, text, shard, n_tokens,
           sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
    FROM t
), b AS (
    SELECT doc_id, text, shard, n_tokens,
           CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS bin
    FROM c
)
SELECT shard, bin, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
       md5(string_agg(text, chr(10) ORDER BY doc_id)) AS payload_md5
FROM b GROUP BY shard, bin
"""


# --- composed extract pipeline (connector seam) ---

def q_pipeline_extract_stocks(spark, sf_dir):
    """The extract_stocks composition (reference
    extract_stocks_job.py:352-413) driven end-to-end over driver
    testdata: a quotes frame derived from events plays the external
    source behind a FrameConnector, the event_type dimension plays the
    sector/ticker/company map, and the pipeline applies P1 NaN-scrub ->
    J1 dimension-preserving left join -> P2 rename -> P3 dataproc
    literal."""
    from stockpy_spark.pipelines import FrameConnector, extract_stocks

    ev = _t(spark, sf_dir, "events")
    quotes = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("Date"),
        F.col("event_type").alias("Ticker"),
        F.col("value").alias("Close"),
        (F.col("value") + 1.0).alias("High"),
        (F.col("value") - 1.0).alias("Low"),
        (F.col("value") + 0.5).alias("Open"),
        F.col("event_id").cast("long").alias("Volume"),
    )
    dim = (
        ev.select(F.col("event_type").alias("Ticker"))
        .distinct()
        .select(
            F.concat(F.lit("S-"), F.col("Ticker")).alias("Sector"),
            F.col("Ticker"),
            F.concat(F.lit("C-"), F.col("Ticker")).alias("Company"),
        )
    )
    return extract_stocks(spark, FrameConnector(quotes), dim, "20260813")


SQL_EXTRACT_STOCKS = """
WITH q AS (
    SELECT strftime(ts, '%Y-%m-%d') AS d, event_type AS tk,
           value AS c, value + 1.0 AS h, value - 1.0 AS l,
           value + 0.5 AS o, CAST(event_id AS BIGINT) AS v
    FROM events
), m AS (
    SELECT DISTINCT 'S-' || event_type AS s, event_type AS tk,
           'C-' || event_type AS co
    FROM events
)
SELECT m.s AS sector, m.tk AS ticker, m.co AS company,
       q.d AS date,
       CASE WHEN q.c IS NOT NULL AND NOT isnan(q.c) THEN CAST(q.c AS DOUBLE) END AS close,
       CASE WHEN q.h IS NOT NULL AND NOT isnan(q.h) THEN CAST(q.h AS DOUBLE) END AS high,
       CASE WHEN q.l IS NOT NULL AND NOT isnan(q.l) THEN CAST(q.l AS DOUBLE) END AS low,
       CASE WHEN q.o IS NOT NULL AND NOT isnan(q.o) THEN CAST(q.o AS DOUBLE) END AS open,
       q.v AS volume,
       '20260813' AS dataproc
FROM m LEFT JOIN q ON m.tk = q.tk
"""


# --- end-to-end training-data pipeline ---

def q_pipeline_clean_corpus(spark, sf_dir):
    """The composed LLM-corpus cleaning pipeline: quality gate ->
    exact dedup (min-id per md5 fingerprint) -> MinHash-LSH near-dup
    removal (bucket-min assignment, no pair enumeration). Returns the
    surviving documents with their quality score.

    Every stage is an operator with its own oracle-checked query; this
    entry checks their composition end-to-end. Scale shape: one narrow
    quality scan, two map-side-combined fingerprint shuffles, zero-
    shuffle minhash signatures, two bounded bucket shuffles.
    """
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "text", quality_score("text").alias("quality"))
    qualified = scored.filter(F.col("quality") >= 0.5)
    # persist the deduped survivors: three downstream consumers (two
    # band-signature branches + the final semi-join) would otherwise
    # each rescan and re-fingerprint the corpus. At real scale this
    # barrier is a staged parquet write between pipeline phases.
    uniq = exact_dedup(qualified, "text", "doc_id").persist()
    assign = minhash_dedup_assign(uniq, "text", "doc_id", num_hashes=12, bands=2)
    keep = assign.filter(~F.col("is_dup")).select("doc_id")
    return uniq.join(keep, "doc_id", "left_semi").select("doc_id", "quality")


SQL_PIPELINE_CLEAN = f"""
WITH feat AS (
    SELECT doc_id, text,
           length(coalesce(text, '')) AS n_chars,
           CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                ELSE len({_TOKENS_SQL}) END AS n_tokens,
           CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                ELSE len(list_filter({_TOKENS_SQL},
                         x -> list_contains({_STOP_SQL}, lower(x)))) END AS stop_hits,
           length(coalesce(text, ''))
               - length(regexp_replace(coalesce(text, ''), '[^\\w\\s]', '', 'g'))
               AS punct_chars
    FROM documents
), scored AS (
    SELECT doc_id, text,
           round(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.4
                 + least(stop_hits / CAST(greatest(n_tokens, 1) AS DOUBLE) * 5.0, 1.0) * 0.3
                 + greatest(1.0 - punct_chars / CAST(greatest(n_chars, 1) AS DOUBLE) * 4.0,
                            0.0) * 0.3, 6) AS quality
    FROM feat
), qualified AS (
    SELECT doc_id, text, quality,
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
    FROM scored WHERE quality >= 0.5
), uniq AS (
    SELECT q.doc_id, q.text, q.quality
    FROM qualified q
    JOIN (SELECT fp, min(doc_id) AS m FROM qualified GROUP BY fp) k
      ON q.fp = k.fp AND q.doc_id = k.m
), tok AS (
    SELECT DISTINCT doc_id AS doc, unnest({_TOKENS_LOWER_SQL}) AS tok
    FROM uniq WHERE text IS NOT NULL AND trim(text) <> ''
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
), assign AS (
    SELECT b.doc, min(m.m) AS keeper
    FROM bsig b JOIN bmin m ON b.band = m.band AND b.bs = m.bs
    GROUP BY b.doc
)
SELECT u.doc_id, u.quality
FROM uniq u JOIN assign a ON a.doc = u.doc_id AND a.keeper = u.doc_id
"""


def q_text_nb_quality(spark, sf_dir):
    """Naive Bayes quality classifier (operators/textstats.py
    nb_quality_classifier — the CCNet/FineWeb model-based filter
    stage): a deterministic md5 draw takes half the corpus as the
    labeled seed, labels come from the stopword-ratio heuristic
    (ratio >= 0.08, the quality_features signal), the multinomial NB
    is trained on hashed unigrams (1024 buckets, md5-portable,
    add-1-smoothed), and EVERY document — seed or not, empty or not —
    is scored with the class prior and out-of-vocabulary default."""
    from stockpy_spark.operators.textstats import nb_quality_classifier

    docs = _t(spark, sf_dir, "documents")
    draw = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("nbseed|"), F.col("doc_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    f = quality_features("text")
    seed = docs.filter(draw == 0).select(
        "doc_id", (f["stopword_ratio"] >= 0.08).cast("int").alias("label")
    )
    return nb_quality_classifier(docs, "text", "doc_id", seed)


SQL_NB_QUALITY = f"""
WITH lab AS (
    SELECT doc_id,
           CASE WHEN (CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                      ELSE len(list_filter({_TOKENS_SQL},
                               x -> list_contains({_STOP_SQL}, lower(x)))) END)
                    / CAST(greatest(CASE WHEN text IS NULL OR trim(text) = ''
                                    THEN 0 ELSE len({_TOKENS_SQL}) END,
                                    1) AS DOUBLE) >= 0.08
                THEN 1 ELSE 0 END AS y
    FROM documents
    WHERE CAST(concat('0x', substr(md5('nbseed|' || CAST(doc_id AS VARCHAR)),
                      1, 13)) AS BIGINT) % 2 = 0
), g AS (
    SELECT doc_id,
           CAST(concat('0x', substr(md5('nbq' || chr(31) || tok), 1, 13))
                AS BIGINT) % 1024 AS b
    FROM (SELECT doc_id, unnest({_TOKENS_LOWER_SQL}) AS tok
          FROM documents WHERE NOT (text IS NULL OR trim(text) = ''))
), cells AS (
    SELECT b, sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS n1,
           sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS n0
    FROM g JOIN lab USING (doc_id) GROUP BY b
), cen AS (
    SELECT (SELECT sum(n1) FROM cells) AS nn1,
           (SELECT sum(n0) FROM cells) AS nn0,
           (SELECT sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) FROM lab) AS d1,
           (SELECT sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) FROM lab) AS d0
), w AS (
    SELECT b, ln((n1 + 1.0) / (nn1 + 1024.0))
            - ln((n0 + 1.0) / (nn0 + 1024.0)) AS w
    FROM cells, cen
), per AS (
    SELECT g.doc_id, count(*) AS nt,
           sum(CASE WHEN w.w IS NULL THEN 0.0 ELSE w.w END) AS raw,
           sum(CASE WHEN w.w IS NULL THEN 1 ELSE 0 END) AS miss
    FROM g LEFT JOIN w USING (b) GROUP BY g.doc_id
), scored AS (
    SELECT d.doc_id,
           CAST(COALESCE(per.nt, 0) AS BIGINT) AS n_tokens,
           round(ln((cen.d1 + 1.0) / (cen.d0 + 1.0))
                 + COALESCE(per.raw, 0.0)
                 + COALESCE(per.miss, 0)
                   * (ln(1.0 / (cen.nn1 + 1024.0))
                      - ln(1.0 / (cen.nn0 + 1024.0))), 6) AS nb_score
    FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id CROSS JOIN cen
)
SELECT doc_id, n_tokens, nb_score, nb_score > 0.0 AS pred_quality
FROM scored
"""


def q_web_url_canonical(spark, sf_dir):
    """URL canonicalization + canonical-URL dedup (operators/
    webfilter.py url_canonicalize) — the normalize-before-fetch stage
    ahead of web_domain_filter: docs get deterministic doc_id-derived
    MESSY urls (mixed-case scheme/host, default ports, trailing
    slashes, param order flips, utm_ tracking params, fragments), both
    engines canonicalize them blind, and the dedup verdict is a
    canonical_url-partitioned window (n_variants + min-id keeper).
    ~160 canonical urls from 500 docs at sf0.01, so every rule is
    load-bearing."""
    from stockpy_spark.operators.webfilter import url_canonicalize

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    scheme = F.element_at(
        F.array(F.lit("https"), F.lit("HTTPS"), F.lit("http")),
        (d % 3 + 1).cast("int"),
    )
    host = F.element_at(
        F.array(
            F.lit("Media.Example.COM"),
            F.lit("media.example.com"),
            F.lit("CDN.example.org"),
            F.lit("cdn.example.org"),
        ),
        (d % 4 + 1).cast("int"),
    )
    port = F.when(
        d % 6 == 0,
        F.when(d % 3 == 2, F.lit(":80")).otherwise(F.lit(":443")),
    ).otherwise(F.lit(""))
    path = F.concat(
        F.lit("/p/"),
        (d % 40).cast("string"),
        F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    q = F.when(
        d % 2 == 0,
        F.concat(
            F.lit("?b=2&id="), (d % 20).cast("string"), F.lit("&utm_source=news")
        ),
    ).otherwise(F.concat(F.lit("?id="), (d % 20).cast("string"), F.lit("&b=2")))
    frag = F.when(d % 7 == 0, F.lit("#top")).otherwise(F.lit(""))
    sdf = docs.select(
        "doc_id", F.concat(scheme, F.lit("://"), host, port, path, q, frag).alias("url")
    )
    out = url_canonicalize(sdf, "url")
    from pyspark.sql.window import Window as W

    w = W.partitionBy("canonical_url")
    return out.select(
        "doc_id",
        "url",
        "canonical_url",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_variants"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_keeper"),
    )


SQL_URL_CANON = r"""
WITH u AS (
    SELECT doc_id,
           (['https','HTTPS','http'])[(doc_id % 3) + 1] || '://'
           || (['Media.Example.COM','media.example.com',
                'CDN.example.org','cdn.example.org'])[(doc_id % 4) + 1]
           || (CASE WHEN doc_id % 6 = 0
                    THEN CASE WHEN doc_id % 3 = 2 THEN ':80' ELSE ':443' END
                    ELSE '' END)
           || '/p/' || CAST(doc_id % 40 AS VARCHAR)
           || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
           || (CASE WHEN doc_id % 2 = 0
                    THEN '?b=2&id=' || CAST(doc_id % 20 AS VARCHAR) || '&utm_source=news'
                    ELSE '?id=' || CAST(doc_id % 20 AS VARCHAR) || '&b=2' END)
           || (CASE WHEN doc_id % 7 = 0 THEN '#top' ELSE '' END) AS url
    FROM documents
), c AS (
    SELECT doc_id, url,
           lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
           lower(regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1)) AS hostport,
           regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS raw_path,
           regexp_extract(url, '\?([^#]*)', 1) AS query
    FROM u
), n AS (
    SELECT doc_id, url, scheme,
           CASE WHEN scheme = 'http' AND hostport LIKE '%:80'
                THEN regexp_replace(hostport, ':80$', '')
                WHEN scheme = 'https' AND hostport LIKE '%:443'
                THEN regexp_replace(hostport, ':443$', '')
                ELSE hostport END AS host,
           CASE WHEN regexp_replace(raw_path, '/+$', '') = ''
                THEN '/' ELSE regexp_replace(raw_path, '/+$', '') END AS path,
           array_to_string(list_sort(list_filter(string_split(query, '&'),
               p -> p <> '' AND NOT starts_with(p, 'utm_')
                    AND NOT list_contains(['fbclid','gclid','ref','mc_eid'],
                                          string_split(p, '=')[1]))), '&') AS q
    FROM c
), k AS (
    SELECT doc_id, url,
           scheme || '://' || host || path
           || (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS canonical_url
    FROM n
)
SELECT doc_id, url, canonical_url,
       CAST(count(*) OVER (PARTITION BY canonical_url) AS BIGINT) AS n_variants,
       doc_id = min(doc_id) OVER (PARTITION BY canonical_url) AS is_keeper
FROM k
"""


def q_sample_shard_shuffle(spark, sf_dir):
    """Deterministic shard shuffle (operators/sampling.py
    shuffle_shard_plan): every document assigned (shard, position) as
    a pure function of md5('shard', doc_id) — the training-loader
    order randomization. The Spark side runs the bucketed-rank plan
    (per-(shard, draw-bucket) counts + exclusive offsets + local
    rank); the oracle is the naive single-window formulation, so the
    hash compare PROVES the bucketed plan's equivalence on every
    row."""
    from stockpy_spark.operators.sampling import shuffle_shard_plan

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return shuffle_shard_plan(docs, "doc_id", n_shards=8, n_buckets=16)


SQL_SHARD_SHUFFLE = r"""
WITH d AS (
    SELECT doc_id,
           md5('shard' || chr(31) || CAST(doc_id AS VARCHAR)) AS draw
    FROM documents
)
SELECT doc_id,
       CAST(CAST(concat('0x', substr(draw, 1, 13)) AS BIGINT) % 8
            AS INTEGER) AS shard,
       CAST(row_number() OVER (
           PARTITION BY CAST(concat('0x', substr(draw, 1, 13)) AS BIGINT) % 8
           ORDER BY draw, doc_id
       ) AS BIGINT) AS position
FROM d
"""


def q_text_kn_perplexity(spark, sf_dir):
    """Interpolated Kneser-Ney bigram perplexity (operators/
    textstats.py kn_perplexity_scores — Kneser & Ney 1995): the
    continuation-probability upgrade over text_lm_perplexity's add-k
    smoothing, trained on the scored corpus itself. Every model count
    (bigram, context, distinct-continuation, distinct-context, total
    distinct bigrams) derives from one bigram count table; D=0.75 is
    exact binary so both engines build identical doubles."""
    from stockpy_spark.operators.textstats import kn_perplexity_scores

    docs = _t(spark, sf_dir, "documents")
    return kn_perplexity_scores(docs, "text", "doc_id")


SQL_KN_PPL = f"""
WITH d AS (
    SELECT doc_id AS doc, {_TOKENS_LOWER_SQL} AS t FROM documents
), big AS (
    SELECT doc, t[i] || ' ' || t[i + 1] AS bg
    FROM (SELECT doc, t, unnest(range(1, len(t))) AS i FROM d)
), per AS (
    SELECT doc, bg, count(*) AS m FROM big GROUP BY doc, bg
), c12 AS (
    SELECT bg, sum(m) AS c12,
           split_part(bg, ' ', 1) AS w1,
           split_part(bg, ' ', 2) AS w2
    FROM per GROUP BY bg
), ctx AS (
    SELECT w1, sum(c12) AS c1, count(*) AS n1p1 FROM c12 GROUP BY w1
), cont AS (
    SELECT w2, count(*) AS n1p2 FROM c12 GROUP BY w2
), tot AS (
    SELECT count(*) AS n1tot FROM c12
), lp AS (
    SELECT per.doc, per.m,
           ln(greatest(c12.c12 - 0.75, 0.0) / ctx.c1
              + (0.75 * ctx.n1p1 / ctx.c1) * (cont.n1p2 / tot.n1tot)) AS lp
    FROM per
    JOIN c12 USING (bg)
    JOIN ctx ON c12.w1 = ctx.w1
    JOIN cont ON c12.w2 = cont.w2, tot
)
SELECT doc, CAST(sum(m) AS BIGINT) AS n_bigrams,
       round(sum(m * lp) / sum(m), 6) AS avg_logprob,
       round(exp(-round(sum(m * lp) / sum(m), 6)), 6) AS kn_perplexity
FROM lp GROUP BY doc
"""


def q_text_boilerplate(spark, sf_dir):
    """Per-line boilerplate screen (operators/textcorpus.py
    boilerplate_line_screen — the jusText-style heuristic sibling of
    corpus_line_dedup's frequency rule). The single-line word-soup
    corpus gets a deterministic doc_id-derived line structure — two
    content lines cut from the doc's own tokens (the second with
    injected stopwords), a stopword-free nav line on even ids, a
    2-char button line on ids % 3 — and the screen parses it blind;
    every rule fires on a real subset at sf0.01."""
    from stockpy_spark.operators.textcorpus import boilerplate_line_screen

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    t = F.when(
        F.col("text").isNull() | (F.trim("text") == ""),
        F.array().cast("array<string>"),
    ).otherwise(F.split(F.trim("text"), r"\s+"))
    l1 = F.array_join(F.slice(t, 1, 8), " ")
    l2 = F.when(d % 2 == 0, F.lit("Home | About | Contact | Login"))
    l3 = F.when(d % 3 == 0, F.lit("ok"))
    l4 = F.trim(
        F.concat(F.array_join(F.slice(t, 9, 8), " "), F.lit(" of the and is"))
    )
    lines_arr = F.filter(F.array(l1, l2, l3, l4), lambda x: x.isNotNull())
    sdf = docs.select("doc_id", F.array_join(lines_arr, "\n").alias("text"))
    return boilerplate_line_screen(sdf, "doc_id", "text")


SQL_BOILERPLATE = f"""
WITH t AS (
    SELECT doc_id,
           CASE WHEN text IS NULL OR trim(text) = '' THEN []
                ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
    FROM documents
), sal AS (
    SELECT doc_id,
           array_to_string(list_filter([
               array_to_string(tk[1:8], ' '),
               CASE WHEN doc_id % 2 = 0
                    THEN 'Home | About | Contact | Login' END,
               CASE WHEN doc_id % 3 = 0 THEN 'ok' END,
               trim(array_to_string(tk[9:16], ' ') || ' of the and is')
           ], x -> x IS NOT NULL), chr(10)) AS text
    FROM t
), ln AS (
    SELECT doc_id, s AS pos, ls[s] AS line
    FROM (SELECT doc_id, string_split(text, chr(10)) AS ls,
                 unnest(generate_series(1, len(string_split(text, chr(10)))))
                     AS s
          FROM sal)
), k AS (
    SELECT doc_id, pos, line,
           CASE WHEN line IS NULL OR trim(line) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(line), '\\s+')) END AS n,
           CASE WHEN line IS NULL OR trim(line) = '' THEN 0
                ELSE len(list_filter(regexp_split_to_array(trim(line), '\\s+'),
                         x -> list_contains({_STOP_SQL}, lower(x)))) END AS sh
    FROM ln
), flag AS (
    SELECT doc_id, pos, line,
           (n >= 4) AND NOT ((sh / CAST(greatest(n, 1) AS DOUBLE) < 0.05)
                             AND (n < 30)) AS keep
    FROM k
)
SELECT doc_id,
       COALESCE(string_agg(line, chr(10) ORDER BY pos)
                FILTER (WHERE keep), '') AS text,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(1.0 - sum(CASE WHEN keep THEN 1 ELSE 0 END)
                   / CAST(count(*) AS DOUBLE), 6) AS boiler_ratio
FROM flag GROUP BY doc_id
"""


def q_pipeline_web_curation(spark, sf_dir):
    """Composed web-curation pipeline over this round's stages, each
    load-bearing at sf0.01: canonical-URL dedup (500 docs -> ~160
    min-id keepers), the NB quality gate over the keepers (seed =
    keeper md5 draw, stopword-ratio labels; admission = TOP-64 by NB
    score with doc_id ties — the tuned-threshold pattern production
    quality classifiers ship with; the word-soup fixture is weakly
    separable, so the textbook score>0 MAP rule would admit nothing),
    then the deterministic shard shuffle assigns the admitted set its
    training order. One hash oracle replays the whole
    chain, so a drift in ANY stage reds the pipeline, not just its own
    query."""
    from pyspark.sql.window import Window as W

    from stockpy_spark.operators.sampling import shuffle_shard_plan
    from stockpy_spark.operators.textstats import nb_quality_classifier
    from stockpy_spark.operators.webfilter import url_canonicalize

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    scheme = F.element_at(
        F.array(F.lit("https"), F.lit("HTTPS"), F.lit("http")),
        (d % 3 + 1).cast("int"),
    )
    host = F.element_at(
        F.array(
            F.lit("Media.Example.COM"),
            F.lit("media.example.com"),
            F.lit("CDN.example.org"),
            F.lit("cdn.example.org"),
        ),
        (d % 4 + 1).cast("int"),
    )
    path = F.concat(
        F.lit("/p/"),
        (d % 40).cast("string"),
        F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    q = F.when(
        d % 2 == 0,
        F.concat(
            F.lit("?b=2&id="), (d % 20).cast("string"), F.lit("&utm_source=news")
        ),
    ).otherwise(F.concat(F.lit("?id="), (d % 20).cast("string"), F.lit("&b=2")))
    urls = docs.select(
        "doc_id", F.concat(scheme, F.lit("://"), host, path, q).alias("url")
    )
    canon = url_canonicalize(urls, "url")
    w = W.partitionBy("canonical_url")
    keepers = (
        canon.withColumn("__min", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("__min"))
        .select("doc_id")
    )
    kept_docs = docs.join(keepers, "doc_id")
    draw = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("nbseed|"), d.cast("string"))), 1, 13
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    f = quality_features("text")
    seed = kept_docs.filter(draw == 0).select(
        "doc_id", (f["stopword_ratio"] >= 0.08).cast("int").alias("label")
    )
    scored = nb_quality_classifier(kept_docs, "text", "doc_id", seed)
    admitted = (
        scored.orderBy(F.desc("nb_score"), F.asc("doc_id"))
        .limit(64)
        .select("doc_id", "nb_score")
    )
    return shuffle_shard_plan(admitted, "doc_id", n_shards=4, n_buckets=16)


SQL_PIPE_WEB = f"""
WITH u AS (
    SELECT doc_id,
           (['https','HTTPS','http'])[(doc_id % 3) + 1] || '://'
           || (['Media.Example.COM','media.example.com',
                'CDN.example.org','cdn.example.org'])[(doc_id % 4) + 1]
           || '/p/' || CAST(doc_id % 40 AS VARCHAR)
           || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
           || (CASE WHEN doc_id % 2 = 0
                    THEN '?b=2&id=' || CAST(doc_id % 20 AS VARCHAR) || '&utm_source=news'
                    ELSE '?id=' || CAST(doc_id % 20 AS VARCHAR) || '&b=2' END) AS url
    FROM documents
), canon AS (
    SELECT doc_id,
           lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
           || '://'
           || lower(regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1))
           || (CASE WHEN regexp_replace(
                        regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1),
                        '/+$', '') = ''
                    THEN '/'
                    ELSE regexp_replace(
                        regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1),
                        '/+$', '') END)
           || '?' || array_to_string(list_sort(list_filter(
                  string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
                  p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&')
               AS canonical_url
    FROM u
), keepers AS (
    SELECT doc_id FROM (
        SELECT doc_id,
               min(doc_id) OVER (PARTITION BY canonical_url) AS mn
        FROM canon
    ) WHERE doc_id = mn
), kd AS (
    SELECT d.doc_id, d.text FROM documents d JOIN keepers USING (doc_id)
), lab AS (
    SELECT doc_id,
           CASE WHEN (CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                      ELSE len(list_filter({_TOKENS_SQL},
                               x -> list_contains({_STOP_SQL}, lower(x)))) END)
                    / CAST(greatest(CASE WHEN text IS NULL OR trim(text) = ''
                                    THEN 0 ELSE len({_TOKENS_SQL}) END,
                                    1) AS DOUBLE) >= 0.08
                THEN 1 ELSE 0 END AS y
    FROM kd
    WHERE CAST(concat('0x', substr(md5('nbseed|' || CAST(doc_id AS VARCHAR)),
                      1, 13)) AS BIGINT) % 2 = 0
), g AS (
    SELECT doc_id,
           CAST(concat('0x', substr(md5('nbq' || chr(31) || tok), 1, 13))
                AS BIGINT) % 1024 AS b
    FROM (SELECT doc_id, unnest({_TOKENS_LOWER_SQL}) AS tok
          FROM kd WHERE NOT (text IS NULL OR trim(text) = ''))
), cells AS (
    SELECT b, sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS n1,
           sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS n0
    FROM g JOIN lab USING (doc_id) GROUP BY b
), cen AS (
    SELECT (SELECT sum(n1) FROM cells) AS nn1,
           (SELECT sum(n0) FROM cells) AS nn0,
           (SELECT sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) FROM lab) AS d1,
           (SELECT sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) FROM lab) AS d0
), wt AS (
    SELECT b, ln((n1 + 1.0) / (nn1 + 1024.0))
            - ln((n0 + 1.0) / (nn0 + 1024.0)) AS w
    FROM cells, cen
), per AS (
    SELECT g.doc_id, count(*) AS nt,
           sum(CASE WHEN wt.w IS NULL THEN 0.0 ELSE wt.w END) AS raw,
           sum(CASE WHEN wt.w IS NULL THEN 1 ELSE 0 END) AS miss
    FROM g LEFT JOIN wt USING (b) GROUP BY g.doc_id
), adm AS (
    SELECT doc_id, nb_score FROM (
        SELECT k.doc_id,
               round(ln((cen.d1 + 1.0) / (cen.d0 + 1.0))
                     + COALESCE(per.raw, 0.0)
                     + COALESCE(per.miss, 0)
                       * (ln(1.0 / (cen.nn1 + 1024.0))
                          - ln(1.0 / (cen.nn0 + 1024.0))), 6) AS nb_score
        FROM kd k LEFT JOIN per ON k.doc_id = per.doc_id CROSS JOIN cen
    ) ORDER BY nb_score DESC, doc_id LIMIT 64
)
SELECT doc_id, nb_score,
       CAST(CAST(concat('0x', substr(md5('shard' || chr(31)
            || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) % 4
            AS INTEGER) AS shard,
       CAST(row_number() OVER (
           PARTITION BY CAST(concat('0x', substr(md5('shard' || chr(31)
               || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) % 4
           ORDER BY md5('shard' || chr(31) || CAST(doc_id AS VARCHAR)), doc_id
       ) AS BIGINT) AS position
FROM adm
"""


def q_decontaminate_fuzzy(spark, sf_dir):
    """Near-dup eval decontamination (operators/textstats.py
    fuzzy_decontamination): the MinHash sibling of decontaminate_eval
    — paraphrases break every exact 5-gram but barely move the token
    set, so the eval split (doc_id % 10 == 0) is screened against the
    training split through the dedup family's own LSH index (12
    lanes, 2 bands, est_jaccard >= 0.5). Every eval doc is reported,
    certified-clean rows included."""
    from stockpy_spark.operators.textstats import fuzzy_decontamination

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    eval_df = docs.filter(F.col("doc_id") % 10 == 0)
    return fuzzy_decontamination(corpus, eval_df, "text", "doc_id")


SQL_DECONTAM_FUZZY = f"""
WITH tok AS (
    SELECT DISTINCT doc_id AS doc, doc_id % 10 = 0 AS ev,
           unnest({_TOKENS_LOWER_SQL}) AS tok
    FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), base AS (
    SELECT doc, ev,
           CAST(concat('0x', substr(md5('1|' || tok), 1, 15)) AS BIGINT) % 1000000007 AS h1,
           CAST(concat('0x', substr(md5('2|' || tok), 1, 15)) AS BIGINT) % 1000000007 AS h2
    FROM tok
), sig AS (
    SELECT doc, ev, g.h AS h,
           min((h1 + g.h * h2) % 1000000007) AS mh
    FROM base CROSS JOIN generate_series(0, 11) AS g(h)
    GROUP BY doc, ev, g.h
), bands AS (
    SELECT doc, ev, h // 6 AS band,
           lpad(CAST(h AS VARCHAR), 4, '0') || ':' || CAST(mh AS VARCHAR) AS hmh
    FROM sig
), bsig AS (
    SELECT doc, ev, band, md5(string_agg(hmh, ',' ORDER BY hmh)) AS bs
    FROM bands GROUP BY doc, ev, band
), cand AS (
    SELECT DISTINCT e.doc AS edoc, c.doc AS cdoc
    FROM bsig e JOIN bsig c ON e.band = c.band AND e.bs = c.bs
    WHERE e.ev AND NOT c.ev
), est AS (
    SELECT cand.edoc, cand.cdoc,
           round(avg(CASE WHEN s1.mh = s2.mh THEN 1.0 ELSE 0.0 END), 6) AS ej
    FROM cand
    JOIN sig s1 ON s1.doc = cand.edoc
    JOIN sig s2 ON s2.doc = cand.cdoc AND s2.h = s1.h
    GROUP BY cand.edoc, cand.cdoc
), per AS (
    SELECT edoc, count(*) AS n_candidates,
           sum(CASE WHEN ej >= 0.5 THEN 1 ELSE 0 END) AS n_cont,
           max(ej) AS mx
    FROM est GROUP BY edoc
)
SELECT d.doc_id AS doc,
       CAST(COALESCE(per.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(COALESCE(per.n_cont, 0) AS BIGINT) AS n_contaminating,
       per.mx AS max_est_jaccard,
       COALESCE(per.n_cont, 0) > 0 AS is_contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
LEFT JOIN per ON d.doc_id = per.edoc
"""


def q_text_normalize(spark, sf_dir):
    """Unicode text normalization (functions/text.py normalize_text —
    the hygiene pass before tokenization): docs get deterministic
    doc_id-derived MESS (curly quotes, zero-width joins, en-dash +
    ellipsis, a control char, trailing space runs) and both engines
    normalize it blind. Reports per doc: normalized text, whether
    anything changed, and how many characters were removed."""
    from stockpy_spark.functions.text import normalize_text

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    t = F.coalesce(F.col("text"), F.lit(""))
    messy = F.concat(
        F.when(d % 2 == 0, F.lit("\u201cQ\u201d ")).otherwise(F.lit("")),
        t,
        F.when(d % 3 == 0, F.lit(" x\u200by")).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit(" a \u2013 b \u2026")).otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit(" ctl\u0007")).otherwise(F.lit("")),
        F.lit("  tail   spaces "),
    )
    sdf = docs.select("doc_id", messy.alias("messy"))
    return sdf.select(
        "doc_id",
        normalize_text("messy").alias("norm_text"),
        (F.col("messy") != normalize_text("messy")).alias("changed"),
        (F.length("messy") - F.length(normalize_text("messy")))
        .cast("bigint")
        .alias("n_chars_removed"),
    )


SQL_TEXT_NORMALIZE = r"""
WITH m AS (
    SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0
                 THEN chr(8220) || 'Q' || chr(8221) || ' ' ELSE '' END)
           || coalesce(text, '')
           || (CASE WHEN doc_id % 3 = 0
                    THEN ' x' || chr(8203) || 'y' ELSE '' END)
           || (CASE WHEN doc_id % 5 = 0
                    THEN ' a ' || chr(8211) || ' b ' || chr(8230) ELSE '' END)
           || (CASE WHEN doc_id % 7 = 0 THEN ' ctl' || chr(7) ELSE '' END)
           || '  tail   spaces ' AS messy
    FROM documents
), n AS (
    SELECT doc_id, messy,
           trim(regexp_replace(
               replace(
                   translate(
                       regexp_replace(
                           regexp_replace(messy,
                               '[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g'),
                           '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}-\x{9F}]',
                           '', 'g'),
                       chr(8220) || chr(8221) || chr(8216) || chr(8217)
                           || chr(8211) || chr(8212) || chr(160),
                       '""' || chr(39) || chr(39) || '-- '),
                   chr(8230), '...'),
               '\s+', ' ', 'g')) AS norm_text
    FROM m
)
SELECT doc_id, norm_text,
       messy <> norm_text AS changed,
       CAST(length(messy) - length(norm_text) AS BIGINT) AS n_chars_removed
FROM n
"""


def q_pack_efficiency(spark, sf_dir):
    """Packing-efficiency audit (operators/sampling.py
    pack_efficiency_report) over the pack_context_bins assignment:
    bin fill rates, exact fill percentiles, wasted (padding) tokens —
    the FLOPs-burn metric a packer is tuned with."""
    from stockpy_spark.operators.sampling import (
        pack_efficiency_report,
        pack_sequences,
    )

    docs = _t(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", token_count("text").cast("long").alias("n_tokens")
    )
    packed = pack_sequences(sized, "doc_id", "n_tokens", budget=2048, n_shards=4)
    return pack_efficiency_report(packed, "n_tokens", budget=2048)


SQL_PACK_EFFICIENCY = f"""
WITH t AS (
    SELECT doc_id,
           CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                ELSE len({_TOKENS_SQL}) END AS n_tokens,
           {_BUCKET_SQL.format(salt='pack')} % 4 AS shard
    FROM documents
), c AS (
    SELECT doc_id, shard, n_tokens,
           sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
    FROM t
), fills AS (
    SELECT shard, CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS bin,
           sum(n_tokens) AS fill
    FROM c GROUP BY 1, 2
)
SELECT CAST(count(*) AS BIGINT) AS n_bins,
       CAST(sum(fill) AS BIGINT) AS total_tokens,
       round(avg(fill / 2048.0), 6) AS mean_fill_rate,
       round(CAST(quantile_cont(fill, 0.5) AS DOUBLE) / 2048.0, 6) AS p50_fill,
       round(CAST(quantile_cont(fill, 0.95) AS DOUBLE) / 2048.0, 6) AS p95_fill,
       round(min(fill / 2048.0), 6) AS min_fill,
       CAST(sum(greatest(2048.0 - fill, 0.0)) AS BIGINT) AS waste_tokens,
       round(avg(CASE WHEN fill / 2048.0 >= 0.9 THEN 1.0 ELSE 0.0 END), 6)
           AS pct_bins_ge_90
FROM fills
"""


def q_text_line_dedup_intra(spark, sf_dir):
    """Intra-document repeated-line removal (operators/textcorpus.py
    dedup_lines_within_doc — the within-doc member of the line trio):
    docs get a deterministic line structure where a nav line repeats
    on even ids and the lead line repeats at the tail on ids % 3;
    both engines rebuild blind. First occurrence wins, order kept."""
    from stockpy_spark.operators.textcorpus import dedup_lines_within_doc

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    t = F.when(
        F.col("text").isNull() | (F.trim("text") == ""),
        F.array().cast("array<string>"),
    ).otherwise(F.split(F.trim("text"), r"\s+"))
    l1 = F.array_join(F.slice(t, 1, 8), " ")
    l2 = F.lit("Subscribe to our newsletter")
    l3 = F.array_join(F.slice(t, 9, 8), " ")
    arr = F.filter(
        F.array(
            l1,
            l2,
            l3,
            F.when(d % 2 == 0, l2),
            F.when(d % 3 == 0, l1),
        ),
        lambda x: x.isNotNull(),
    )
    sdf = docs.select("doc_id", F.array_join(arr, "\n").alias("text"))
    return dedup_lines_within_doc(sdf, "doc_id", "text")


SQL_LINE_DEDUP_INTRA = f"""
WITH t AS (
    SELECT doc_id,
           CASE WHEN text IS NULL OR trim(text) = '' THEN []
                ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
    FROM documents
), sal AS (
    SELECT doc_id,
           array_to_string(list_filter([
               array_to_string(tk[1:8], ' '),
               'Subscribe to our newsletter',
               array_to_string(tk[9:16], ' '),
               CASE WHEN doc_id % 2 = 0
                    THEN 'Subscribe to our newsletter' END,
               CASE WHEN doc_id % 3 = 0
                    THEN array_to_string(tk[1:8], ' ') END
           ], x -> x IS NOT NULL), chr(10)) AS text
    FROM t
), ln AS (
    SELECT doc_id, s AS pos, ls[s] AS line
    FROM (SELECT doc_id, string_split(text, chr(10)) AS ls,
                 unnest(generate_series(1, len(string_split(text, chr(10)))))
                     AS s
          FROM sal)
), firsts AS (
    SELECT doc_id, line, min(pos) AS pos FROM ln GROUP BY doc_id, line
), totals AS (
    SELECT doc_id, count(*) AS n_total FROM ln GROUP BY doc_id
)
SELECT f.doc_id,
       string_agg(f.line, chr(10) ORDER BY f.pos) AS text,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(any_value(t.n_total) - count(*) AS BIGINT) AS n_dropped
FROM firsts f JOIN totals t ON f.doc_id = t.doc_id
GROUP BY f.doc_id
"""


def q_sample_score_calibration(spark, sf_dir):
    """Per-source score calibration (operators/sampling.py
    calibrate_scores_by_group): the n_chars "score" re-expressed as a
    within-source percentile so one threshold means the same thing in
    every source; exact percent_rank with shared ties plus a
    deterministic id-tiebroken rank."""
    from stockpy_spark.operators.sampling import calibrate_scores_by_group

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return calibrate_scores_by_group(docs, "source", "n_chars", "doc_id")


SQL_SCORE_CALIBRATION = """
SELECT doc_id, source, n_chars,
       CAST(row_number() OVER (PARTITION BY source
                               ORDER BY n_chars, doc_id) AS BIGINT)
           AS group_rank,
       round(percent_rank() OVER (PARTITION BY source ORDER BY n_chars), 6)
           AS calibrated
FROM documents
"""


def q_drift_psi_series(spark, sf_dir):
    """PSI drift monitoring over time (operators/drift.py psi_series):
    the events value column bucketed into epoch weeks, the EARLIEST
    week as reference, every week's PSI against it — the reference
    week reads 0.0 (the built-in sanity row), and the 0.2 alert flag
    rides along. Five populated weeks at both SFs."""
    from stockpy_spark.operators.drift import psi_series

    ev = _t(spark, sf_dir, "events")
    return psi_series(ev, "value", "ts")


SQL_PSI_SERIES = """
WITH base AS (
    SELECT CAST(floor(epoch(ts) / 604800) AS BIGINT) AS period, value AS v
    FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
), refp AS (
    SELECT min(period) AS rp FROM base
), rng AS (
    SELECT min(v) AS mn, max(v) AS mx FROM base, refp WHERE period = rp
), counts AS (
    SELECT period,
           least(9, greatest(0,
               CASE WHEN mx = mn
                    THEN CASE WHEN v <= mn THEN 0 ELSE 9 END
                    ELSE CAST(floor((v - mn) / ((mx - mn) / 10.0)) AS INTEGER)
               END)) AS bin,
           count(*) AS n
    FROM base, rng GROUP BY 1, 2
), grid AS (
    SELECT p.period, b.bin, COALESCE(c.n, 0) AS n_cur
    FROM (SELECT DISTINCT period FROM counts) p
    CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bin) b
    LEFT JOIN counts c ON c.period = p.period AND c.bin = b.bin
), refb AS (
    SELECT bin, n_cur AS n_ref FROM grid, refp WHERE period = rp
), j AS (
    SELECT g.period, g.bin, g.n_cur, r.n_ref,
           sum(g.n_cur) OVER (PARTITION BY g.period) AS tc,
           sum(r.n_ref) OVER (PARTITION BY g.period) AS tr
    FROM grid g JOIN refb r USING (bin)
), terms AS (
    SELECT period, n_cur,
           (greatest(n_ref / CAST(tr AS DOUBLE), 0.000001)
            - greatest(n_cur / CAST(tc AS DOUBLE), 0.000001))
           * ln(greatest(n_ref / CAST(tr AS DOUBLE), 0.000001)
                / greatest(n_cur / CAST(tc AS DOUBLE), 0.000001)) AS term
    FROM j
)
SELECT period, CAST(sum(n_cur) AS BIGINT) AS n_values,
       round(sum(term), 6) AS psi,
       round(sum(term), 6) > 0.2 AS is_alert
FROM terms GROUP BY period
"""


EXT_QUERIES: dict[str, tuple] = {
    "text_nb_quality": (q_text_nb_quality, SQL_NB_QUALITY),
    "text_normalize": (q_text_normalize, SQL_TEXT_NORMALIZE),
    "pack_efficiency": (q_pack_efficiency, SQL_PACK_EFFICIENCY),
    "text_line_dedup_intra": (q_text_line_dedup_intra, SQL_LINE_DEDUP_INTRA),
    "sample_score_calibration": (q_sample_score_calibration, SQL_SCORE_CALIBRATION),
    "drift_psi_series": (q_drift_psi_series, SQL_PSI_SERIES),
    "text_boilerplate": (q_text_boilerplate, SQL_BOILERPLATE),
    "pipeline_web_curation": (q_pipeline_web_curation, SQL_PIPE_WEB),
    "decontaminate_fuzzy": (q_decontaminate_fuzzy, SQL_DECONTAM_FUZZY),
    "web_url_canonical": (q_web_url_canonical, SQL_URL_CANON),
    "sample_shard_shuffle": (q_sample_shard_shuffle, SQL_SHARD_SHUFFLE),
    "text_kn_perplexity": (q_text_kn_perplexity, SQL_KN_PPL),
    "text_token_count": (q_text_token_count, SQL_TOKEN_COUNT),
    "text_quality_score": (q_text_quality_score, SQL_QUALITY),
    "text_lang_id": (q_text_lang_id, SQL_LANG_ID),
    "text_fingerprint": (q_text_fingerprint, SQL_FINGERPRINT),
    "dedup_exact_stats": (q_dedup_exact_stats, SQL_DEDUP_EXACT_STATS),
    "dedup_exact_docs": (q_dedup_exact_docs, SQL_DEDUP_EXACT_DOCS),
    "dedup_word_jaccard": (q_dedup_word_jaccard, SQL_WORD_JACCARD),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, SQL_NGRAM_JACCARD),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, SQL_MINHASH_LSH),
    "dedup_minhash_assign": (q_dedup_minhash_assign, SQL_MINHASH_ASSIGN),
    "dedup_simhash": (q_dedup_simhash, SQL_SIMHASH),
    "dedup_simhash64": (q_dedup_simhash64, SQL_SIMHASH64),
    "dedup_embedding_cosine": (q_dedup_embedding_cosine, SQL_EMB_COSINE),
    "sim_cosine_topk": (q_sim_cosine_topk, SQL_SIM_TOPK),
    "sim_ann_lsh": (q_sim_ann_lsh, None),
    "sim_ivf_topk": (q_sim_ivf_topk, None),
    "text_tfidf": (q_text_tfidf, SQL_TFIDF),
    "dedup_embedding_lsh": (q_dedup_embedding_lsh, None),
    "asof_purchase_view": (q_asof_purchase_view, SQL_ASOF),
    "mm_decode_features": (q_mm_decode_features, SQL_MM_FEATURES),
    "mm_decode_pixels": (q_mm_decode_pixels, SQL_MM_PIXELS),
    "mm_decode_png": (q_mm_decode_png, SQL_MM_PNG),
    "mm_blob_pointer_read": (q_mm_blob_pointer_read, SQL_MM_BLOB),
    "mm_phash_neardup": (q_mm_phash_neardup, SQL_MM_PHASH),
    "mm_phash_dedup_cc": (q_mm_phash_dedup_cc, SQL_MM_PHASH_CC),
    "mm_equalize_hist": (q_mm_equalize_hist, SQL_MM_EQUALIZE),
    "pipeline_image_dedup": (q_pipeline_image_dedup, SQL_PIPE_IMAGE),
    "er_fellegi_sunter": (q_er_fellegi_sunter, SQL_ER_FS),
    "mm_decode_gif": (q_mm_decode_gif, SQL_MM_GIF),
    "approx_distinct_users": (q_approx_distinct_users, None),
    "pipeline_clean_corpus": (q_pipeline_clean_corpus, SQL_PIPELINE_CLEAN),
    "pipeline_extract_stocks": (q_pipeline_extract_stocks, SQL_EXTRACT_STOCKS),
    "sample_hash_docs": (q_sample_hash_docs, SQL_SAMPLE_HASH),
    "split_train_test": (q_split_train_test, SQL_SPLIT),
    "split_group_guard": (q_split_group_guard, SQL_SPLIT_GROUP),
    "dp_event_counts": (q_dp_event_counts, SQL_DP_COUNTS),
    "text_dup_spans": (q_text_dup_spans, SQL_TEXT_DUP_SPANS),
    "text_despan": (q_text_despan, SQL_TEXT_DESPAN),
    "text_gopher_repetition": (q_text_gopher_repetition, SQL_TEXT_GOPHER),
    "text_gopher_quality": (q_text_gopher_quality, SQL_TEXT_GOPHER_QUALITY),
    "sample_dsir_weights": (q_sample_dsir_weights, SQL_DSIR),
    "sketch_cm_counts": (q_sketch_cm_counts, SQL_CM_SKETCH),
    "web_domain_filter": (q_web_domain_filter, SQL_WEB_FILTER),
    "dedup_bloom_screen": (q_dedup_bloom_screen, SQL_BLOOM_SCREEN),
    "feat_target_encode": (q_feat_target_encode, SQL_TARGET_ENCODE),
    "sample_kcenter_coreset": (q_sample_kcenter_coreset, SQL_KCENTER),
    "text_pmi_collocations": (q_text_pmi_collocations, SQL_PMI),
    "attr_last_touch": (q_attr_last_touch, SQL_ATTR_LAST_TOUCH),
    "stats_cuped": (q_stats_cuped, SQL_CUPED),
    "privacy_k_anonymity": (q_privacy_k_anonymity, SQL_K_ANON),
    "ts_acf": (q_ts_acf, SQL_TS_ACF),
    "stats_kde_grid": (q_stats_kde_grid, SQL_KDE),
    "stats_spearman": (q_stats_spearman, SQL_SPEARMAN),
    "pack_context_bins": (q_pack_context_bins, SQL_PACK),
    "pack_chunks_ordered": (q_pack_chunks_ordered, SQL_PACK_CHUNKS),
    "text_redact_pii": (q_text_redact_pii, SQL_REDACT),
    "pack_materialize": (q_pack_materialize, SQL_PACK_MAT),
    "text_repetition": (q_text_repetition, SQL_REPETITION),
    "gate_ann_recall": (q_gate_ann_recall, SQL_GATE_ANN),
    "gate_ivf_recall": (q_gate_ivf_recall, SQL_GATE_ANN),
    "gate_embedding_lsh_recall": (q_gate_embedding_lsh_recall, SQL_GATE_EMB_LSH),
    "gate_approx_distinct_err": (q_gate_approx_distinct_err, SQL_GATE_HLL),
}
