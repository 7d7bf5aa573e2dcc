"""Text queries: normalization, tokenization, language id, quality gates
(Gopher, naive Bayes, perplexity), TF-IDF/BM25 retrieval, line-level
corpus cleaning, BPE, contamination screens, chunking and context
packing for LLM training data.

Oracle SQL replicates each operator's semantics exactly in DuckDB. The
synthetic documents have no newlines, so the line queries derive
deterministic "lines" by chunking the token stream (both engines build
identical lines by construction); the operators are separator-generic.
Array outputs surface as comma-joined strings because the oracle
gate's value hasher rejects array columns (tools/check.py output-type lint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stockpy_spark.functions.text import (
    LANG_STOPWORDS,
    fingerprint_md5,
    fingerprint_rolling,
    language_id,
    quality_features,
    quality_score,
    redact_pii,
    repetition_ratio,
    token_count,
)
from stockpy_spark.operators.chunking import chunk_documents
from stockpy_spark.operators.sampling import pack_sequences
from stockpy_spark.operators.textcorpus import remove_frequent_lines
from stockpy_spark.operators.textstats import bm25_topk, build_inverted_index
from stockpy_spark.registry._common import (
    _BUCKET_SQL,
    _STOP_SQL,
    _TOKENS_LOWER_SQL,
    _TOKENS_SQL,
    _t,
    query,
)


# --- text analysis ---
SQL_TOKEN_COUNT = f"""
SELECT doc_id,
       CASE WHEN text IS NULL OR trim(text) = '' THEN 0
            ELSE len({_TOKENS_SQL}) END AS n_tokens
FROM documents
"""


@query("text_token_count", oracle=SQL_TOKEN_COUNT)
def q_text_token_count(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count("text").alias("n_tokens"))


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


@query("text_quality_score", oracle=SQL_QUALITY)
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


@query("text_lang_id", oracle=SQL_LANG_ID)
def q_text_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", language_id("text").alias("lang_guess"))


SQL_FINGERPRINT = """
SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
FROM documents
"""


@query("text_fingerprint", oracle=SQL_FINGERPRINT)
def q_text_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_md5("text").alias("fp"))


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


@query("text_tfidf", oracle=SQL_TFIDF)
def q_text_tfidf(spark, sf_dir):
    """TF-IDF over a doc subset (full term table is |docs| x |vocab|-ish;
    the subset keeps the oracle comparison quick while the operator is
    corpus-general)."""
    from stockpy_spark.operators.textstats import tfidf_terms

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return tfidf_terms(docs, "text", "doc_id")


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


@query("text_repetition", oracle=SQL_REPETITION)
def q_text_repetition(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(repetition_ratio("text"), 6).alias("rep_ratio")
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


@query("pack_context_bins", oracle=SQL_PACK)
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


@query("pack_chunks_ordered", oracle=SQL_PACK_CHUNKS)
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


@query("text_gopher_repetition", oracle=SQL_TEXT_GOPHER)
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


@query("web_domain_filter", oracle=SQL_WEB_FILTER)
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


@query("text_pmi_collocations", oracle=SQL_PMI)
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


@query("sample_dsir_weights", oracle=SQL_DSIR)
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


@query("text_gopher_quality", oracle=SQL_TEXT_GOPHER_QUALITY)
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


@query("text_redact_pii", oracle=SQL_REDACT)
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


@query("pack_materialize", oracle=SQL_PACK_MAT)
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


@query("text_nb_quality", oracle=SQL_NB_QUALITY)
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


@query("web_url_canonical", oracle=SQL_URL_CANON)
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


@query("text_kn_perplexity", oracle=SQL_KN_PPL)
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


@query("text_boilerplate", oracle=SQL_BOILERPLATE)
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


@query("decontaminate_fuzzy", oracle=SQL_DECONTAM_FUZZY)
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


@query("text_normalize", oracle=SQL_TEXT_NORMALIZE)
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


@query("pack_efficiency", oracle=SQL_PACK_EFFICIENCY)
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


@query("text_line_dedup_intra", oracle=SQL_LINE_DEDUP_INTRA)
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


SQL_TEXT_RHASH = """
SELECT doc_id,
       list_reduce(
           list_prepend(
               CAST(0 AS BIGINT),
               list_transform(
                   range(1, least(length(text), 256) + 1),
                   i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)
               )
           ),
           (acc, cp) -> (acc * 131 + cp) % 1000000007
       ) AS rhash
FROM documents
"""


@query("text_rolling_fingerprint", oracle=SQL_TEXT_RHASH)
def q_text_rolling_fingerprint(spark, sf_dir):
    """Rabin-Karp polynomial rolling hash of each document's first 256
    chars (functions/text.py:fingerprint_rolling) — the incremental
    fingerprint the brief names, reproduced bit-for-bit by the oracle's
    list_reduce fold over the same codepoints."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", fingerprint_rolling("text").alias("rhash")
    )


# --- document chunking --------------------------------------------------

# DuckDB: same grid. regexp_split_to_array on trimmed text; docs whose
# trimmed text is empty produce no chunks; starts = 0, 24, 48, ... up to
# the largest multiple of 24 strictly below n_tokens.
SQL_CHUNKS = r"""
WITH toks AS (
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
    FROM documents
), grid AS (
    SELECT doc_id, tk, len(tk) AS n,
           unnest(generate_series(0, (len(tk) - 1) // 24 * 24, 24)) AS start_tok,
           unnest(generate_series(0, (len(tk) - 1) // 24, 1)) AS chunk_id
    FROM toks
    WHERE len(tk) > 0
)
SELECT doc_id,
       CAST(chunk_id AS INTEGER) AS chunk_id,
       CAST(start_tok AS INTEGER) AS start_tok,
       CAST(least(32, n - start_tok) AS INTEGER) AS n_tok,
       array_to_string(tk[start_tok + 1 : start_tok + 32], ' ') AS chunk_text
FROM grid
"""


@query("chunk_documents", oracle=SQL_CHUNKS)
def q_chunk_documents(spark, sf_dir):
    """Overlapping 32-token windows (8-token overlap) over every
    document — the corpus -> training-sample explosion, all builtin
    expressions (operators/chunking.py)."""
    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, "text", "doc_id", chunk_tokens=32, overlap=8)


# --- heavy hitters (exact two-stage top-k terms) -------------------------
SQL_TOP_TERMS = r"""
SELECT term, CAST(COUNT(*) AS BIGINT) AS n
FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
    FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
)
WHERE term <> ''
GROUP BY term ORDER BY n DESC, term LIMIT 20
"""


@query("text_top_terms", oracle=SQL_TOP_TERMS)
def q_text_top_terms(spark, sf_dir):
    """Exact corpus-wide top-20 terms by occurrence: explode + count +
    TakeOrderedAndProject. The partial aggregation makes the count
    map-side combined and the top-k never materializes the full sorted
    term list — the exact-tier twin of sketch-based heavy hitters
    (ties break on the term string, so the cut is deterministic)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.where(
        F.col("text").isNotNull() & (F.trim("text") != "")
    ).select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term")
    )
    return (
        toks.where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "term")
        .limit(20)
    )


# --- BM25 ranked retrieval ----------------------------------------------
_BM25_TERMS = ["spark", "merge", "vector"]


# Mirrors bm25_topk exactly: same idf smoothing, same evaluation order,
# fractional literals CAST to DOUBLE (bare decimal literals are DECIMAL
# in DuckDB, which would change the arithmetic), same 6-dp rounding of
# per-term contributions and the summed score.
SQL_BM25 = f"""
WITH toks AS (
    SELECT doc_id AS doc, unnest({_TOKENS_LOWER_SQL}) AS term FROM documents
), tf AS (
    SELECT doc, term, count(*) AS tf FROM toks GROUP BY doc, term
), dl AS (
    SELECT doc, count(*) AS dl FROM toks GROUP BY doc
), stats AS (
    SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
), qtf AS (
    SELECT * FROM tf WHERE term IN ('spark', 'merge', 'vector')
), dfreq AS (
    SELECT term, count(*) AS df FROM qtf GROUP BY term
), contrib AS (
    SELECT q.doc,
           round(ln((s.n - d.df + CAST(0.5 AS DOUBLE))
                    / (d.df + CAST(0.5 AS DOUBLE)) + 1)
                 * (q.tf * CAST(2.2 AS DOUBLE))
                 / (q.tf + CAST(1.2 AS DOUBLE)
                    * (CAST(0.25 AS DOUBLE)
                       + CAST(0.75 AS DOUBLE) * l.dl / s.avgdl)), 6) AS c
    FROM qtf q
    JOIN dfreq d USING (term)
    JOIN dl l ON q.doc = l.doc
    CROSS JOIN stats s
), scored AS (
    SELECT doc, count(*) AS n_terms, round(sum(c), 6) AS score
    FROM contrib GROUP BY doc
)
SELECT doc, n_terms, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc) AS INTEGER) AS rank
FROM scored ORDER BY score DESC, doc LIMIT 20
"""


@query("text_bm25_topk", oracle=SQL_BM25)
def q_text_bm25_topk(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, "text", "doc_id", _BM25_TERMS, k=20)


# --- LM-perplexity quality scoring --------------------------------------
SQL_LM_PPL = f"""
WITH d AS (
    SELECT doc_id AS doc, {_TOKENS_LOWER_SQL} AS t FROM documents
), big AS (
    SELECT doc, t[i] || ' ' || t[i + 1] AS bg
    FROM (SELECT doc, t, unnest(range(1, len(t))) AS i FROM d)
), c12 AS (
    SELECT bg, count(*) AS c12 FROM big GROUP BY 1
), c1 AS (
    SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1 FROM big GROUP BY 1
), v AS (
    SELECT count(DISTINCT tok) AS V
    FROM (SELECT unnest(t) AS tok FROM d)
), lp AS (
    SELECT b.doc,
           ln((c12.c12 + CAST(0.5 AS DOUBLE))
              / (c1.c1 + CAST(0.5 AS DOUBLE) * v.V)) AS lp
    FROM big b
    JOIN c12 USING (bg)
    JOIN c1 ON split_part(b.bg, ' ', 1) = c1.w1, v
)
SELECT doc, count(*) AS n_bigrams,
       round(avg(lp), 6) AS avg_logprob,
       round(exp(-round(avg(lp), 6)), 6) AS perplexity
FROM lp GROUP BY doc
"""


@query("text_lm_perplexity", oracle=SQL_LM_PPL)
def q_text_lm_perplexity(spark, sf_dir):
    from stockpy_spark.operators.textstats import lm_perplexity_scores

    docs = _t(spark, sf_dir, "documents")
    return lm_perplexity_scores(docs, "text", "doc_id")


# --- n-gram decontamination ---------------------------------------------
SQL_DECONTAM = f"""
WITH d AS (
    SELECT doc_id, {_TOKENS_LOWER_SQL} AS t FROM documents
), esh AS (
    SELECT DISTINCT doc_id AS doc,
           array_to_string(list_slice(t, i, i + 4), ' ') AS sh
    FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
          FROM d WHERE doc_id % 10 = 0)
), csh AS (
    SELECT DISTINCT doc_id AS cid,
           array_to_string(list_slice(t, i, i + 4), ' ') AS sh
    FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
          FROM d WHERE doc_id % 10 <> 0)
), hits AS (
    SELECT e.doc, count(DISTINCT e.sh) AS n_shared_ngrams,
           count(DISTINCT c.cid) AS n_corpus_docs
    FROM esh e JOIN csh c USING (sh) GROUP BY 1
)
SELECT ev.doc_id AS doc,
       coalesce(h.n_shared_ngrams, 0) AS n_shared_ngrams,
       coalesce(h.n_corpus_docs, 0) AS n_corpus_docs,
       coalesce(h.n_shared_ngrams, 0) > 0 AS is_contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) ev
LEFT JOIN hits h ON ev.doc_id = h.doc
"""


@query("decontaminate_eval", oracle=SQL_DECONTAM)
def q_decontaminate_eval(spark, sf_dir):
    """Screen a held-out eval split (doc_id % 10 == 0) against the
    training split for 5-gram overlap — the decontamination report a
    training run ships with."""
    from stockpy_spark.operators.spread import spread_small_input
    from stockpy_spark.operators.textstats import ngram_contamination

    # Both sides shingle-explode the docs scan (per-row CPU: 5-gram
    # construction over every token); a single-split read serializes
    # that onto one core — spread it first (measured 5.1 -> 1.5 s at
    # sf0.1; no-op when the scan already carries >= core-count splits).
    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    eval_df = docs.filter(F.col("doc_id") % 10 == 0)
    return ngram_contamination(corpus, eval_df, "text", "doc_id", n=5)


# --- C4-style frequent-line removal --------------------------------------
SQL_LINE_DEDUP = """
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok,
           generate_subscripts(
               regexp_split_to_array(trim(text), '\\s+'), 1) AS i
    FROM documents
), lines AS (
    SELECT doc_id, CAST((i - 1) // 3 AS BIGINT) AS pos,
           string_agg(tok, ' ' ORDER BY i) AS line
    FROM toks GROUP BY doc_id, (i - 1) // 3
), keep AS (
    SELECT line FROM lines GROUP BY line HAVING count(DISTINCT doc_id) <= 2
)
SELECT l.doc_id, string_agg(l.line, chr(10) ORDER BY l.pos) AS text
FROM lines l
WHERE l.line IN (SELECT line FROM keep)
GROUP BY l.doc_id
"""


@query("corpus_line_dedup", oracle=SQL_LINE_DEDUP)
def q_corpus_line_dedup(spark, sf_dir):
    """Corpus boilerplate removal
    (operators/textcorpus.py:remove_frequent_lines): delete every
    "line" occurring in more than 2 distinct documents, rebuild each
    document's surviving lines in order. Lines here are 3-token chunks
    (the synthetic docs are newline-free); the shape — explode,
    corpus-wide doc-frequency groupBy, semi-join back on the already
    line-partitioned exchange, in-order reassembly — is the production
    one."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    nl = F.ceil(F.size(toks) / F.lit(3.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), nl - F.lit(1)),
        lambda i: F.array_join(F.slice(toks, i * F.lit(3) + F.lit(1), F.lit(3)), " "),
    )
    lined = docs.select(
        "doc_id", F.array_join(chunks, "\n").alias("text")
    )
    return remove_frequent_lines(
        lined, "doc_id", "text", sep="\n", max_doc_freq=2
    )


# --- inverted index build ------------------------------------------------
SQL_INVERTED = f"""
WITH toks AS (
    SELECT DISTINCT doc_id AS doc, unnest({_TOKENS_LOWER_SQL}) AS term
    FROM documents
), ranked AS (
    SELECT term, doc,
           row_number() OVER (PARTITION BY term ORDER BY doc) AS rn
    FROM toks
)
SELECT term, count(*) AS df,
       array_to_string(list(CAST(doc AS VARCHAR) ORDER BY doc)
                       FILTER (WHERE rn <= 20), ',') AS postings
FROM ranked GROUP BY term
"""


@query("text_inverted_index", oracle=SQL_INVERTED)
def q_text_inverted_index(spark, sf_dir):
    """Posting lists with a pre-materialization cap
    (operators/textstats.py:build_inverted_index): df is the true
    document frequency, postings the first 20 doc ids per term — the
    cap applies in a constant-state row_number stream BEFORE any array
    exists, so Zipf-head terms never build corpus-sized state.

    Postings surface as a comma-joined STRING: the driver's pandas
    canonicalizer cannot sort list cells (the r06 stream_dedup_keys
    red row), so array-typed output columns are banned at the query
    registry surface — tools/check.py's schema lint enforces it."""
    docs = _t(spark, sf_dir, "documents")
    idx = build_inverted_index(docs, "text", "doc_id", max_postings=20)
    return idx.select(
        "term",
        "df",
        F.array_join(
            F.transform("postings", lambda x: x.cast("string")), ","
        ).alias("postings"),
    )


# --- BPE merge training (rows-only: iterative greedy fold, not SQL) -------
@query("text_bpe_merges", oracle=None)
def q_text_bpe_merges(spark, sf_dir):
    """Learn 12 BPE merges over the document corpus
    (operators/bpe.py:train_bpe_merges): per-round pair counting is one
    narrow zip_with fan-out + groupBy; the greedy non-overlapping merge
    applies as a builtin-expression fold; re-segmented corpus
    localCheckpoint-ed per round. DuckDB 1.0 cannot replay the greedy
    list fold (no seedable list_reduce), so this iterative family is
    rows-only at the driver and pytest-verified against a pure-Python
    reference trainer (test_bpe_matches_reference_trainer)."""
    from stockpy_spark.operators.bpe import train_bpe_merges

    docs = _t(spark, sf_dir, "documents")
    return train_bpe_merges(docs, "text", "doc_id", n_merges=12)


# --- BPE encoding with a fixed merge table (FULL oracle) ------------------

# fixed English-bigram table: exercises chained merges ((t,h)->th then
# (th,e); (a,n)->an then (an,d)) and rank-order application
_BPE_TABLE = [
    ("t", "h"),
    ("th", "e"),
    ("i", "n"),
    ("a", "n"),
    ("an", "d"),
    ("e", "r"),
]


SQL_BPE_VOCAB = r"""
WITH toks AS (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
    FROM documents WHERE len(trim(text)) > 0
), enc AS (
    SELECT replace(replace(replace(replace(replace(replace(
               tok,
               'th', chr(1)),
               chr(1) || 'e', chr(2)),
               'in', chr(3)),
               'an', chr(4)),
               chr(4) || 'd', chr(5)),
               'er', chr(6)) AS e
    FROM toks
), syms AS (
    SELECT unnest([e[i] for i in range(1, len(e) + 1)]) AS ch
    FROM enc
)
SELECT CASE ch
         WHEN chr(1) THEN 'th'
         WHEN chr(2) THEN 'the'
         WHEN chr(3) THEN 'in'
         WHEN chr(4) THEN 'an'
         WHEN chr(5) THEN 'and'
         WHEN chr(6) THEN 'er'
         ELSE ch
       END AS sym,
       count(*) AS n
FROM syms
GROUP BY 1
"""


@query("text_bpe_vocab", oracle=SQL_BPE_VOCAB)
def q_text_bpe_vocab(spark, sf_dir):
    """Encode the corpus with a FIXED 6-merge table and count the
    resulting symbol vocabulary. Unlike training (rows-only), the
    ENCODER has a full oracle: with single-character placeholders, the
    greedy left-to-right non-overlapping fold over atomic symbols is
    exactly chained string replace() — so DuckDB replays the
    segmentation with 6 replaces and hash-checks every symbol count.
    Runs the Arrow kernel (operators/bpe.py:apply_bpe_merges_arrow),
    pytest-proven identical to the declarative fold
    (apply_bpe_merges) and measured 19x faster at sf0.1 (21.1 s ->
    1.1 s warmed) — the fold stays as the executable spec and the
    training inner loop."""
    from stockpy_spark.operators.bpe import apply_bpe_merges_arrow

    docs = _t(spark, sf_dir, "documents")
    enc = apply_bpe_merges_arrow(docs, "text", "doc_id", _BPE_TABLE)
    return enc.groupBy("sym").agg(F.count(F.lit(1)).alias("n"))


_TOKCNT_SQL = (
    "CASE WHEN trim(text) = '' THEN 0 "
    "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END"
)


SQL_PACK_BOUNDARIES = f"""
WITH t AS (
    SELECT doc_id, {_TOKCNT_SQL} AS n_tokens,
           {_BUCKET_SQL.format(salt='pack')} % 4 AS shard
    FROM documents WHERE text IS NOT NULL
), c AS (
    SELECT doc_id, shard, n_tokens,
           CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING)
                - n_tokens AS BIGINT) AS strt
    FROM t
), b AS (
    SELECT doc_id, shard, n_tokens, strt,
           CAST(floor(strt / 2048.0) AS BIGINT) AS bin,
           strt - CAST(floor(strt / 2048.0) AS BIGINT) * 2048 AS off
    FROM c
)
SELECT shard, bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       string_agg(CAST(off AS VARCHAR), ',' ORDER BY off, doc_id)
           AS doc_starts,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY off, doc_id)
           AS doc_ids,
       CAST(min(off) AS BIGINT) AS lead_in_tokens,
       CAST(greatest(0, last(off + n_tokens ORDER BY off, doc_id) - 2048)
            AS BIGINT) AS spill_tokens
FROM b GROUP BY shard, bin
"""


@query("pack_boundary_masks", oracle=SQL_PACK_BOUNDARIES)
def q_pack_boundary_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-boundary metadata for the packed documents corpus —
    the same packing as pack_materialize (budget 2048, 4 hash shards)
    with per-window doc_starts/doc_ids plus the lead-in and spill
    token counts (operators/sampling.pack_boundaries)."""
    from stockpy_spark.functions.text import token_count
    from stockpy_spark.operators.sampling import pack_boundaries

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sized = docs.select(
        "doc_id", token_count("text").cast("long").alias("n_tokens")
    )
    out = pack_boundaries(
        sized, "doc_id", "n_tokens", budget=2048, n_shards=4
    )
    as_csv = lambda c: F.array_join(  # noqa: E731
        F.transform(F.col(c), lambda x: x.cast("string")), ","
    )
    return out.select(
        "shard",
        "bin",
        F.col("n_docs").cast("long").alias("n_docs"),
        as_csv("doc_starts").alias("doc_starts"),
        as_csv("doc_ids").alias("doc_ids"),
        "lead_in_tokens",
        "spill_tokens",
    )
