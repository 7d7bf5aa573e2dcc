"""Round-6 query families: chunking, sweep-line concurrency, mergeable
HLL rollups, product quantization (Arrow kernel), incremental
corpus-ingestion dedup, weighted sampling, exact heavy hitters, native
session windows, the baseline-JPEG fidelity gate, Spark-4 VARIANT,
EWMA folds, one-pass column profiling, and OLS trend aggregates.

Each family is the Spark-first scale path for a workload the
LLM-pipeline brief calls out (chunk long documents for training/RAG,
distinct-count rollups without rescans, 100x embedding compression,
screening new batches against a standing corpus) or classic analytics
(concurrency, trends, profiles). Oracles are exact DuckDB SQL except
the HLL and JPEG families, which are gate-style like the ANN/LSH
families (engine-specific sketches / lossy codecs; the quality
contract is what's hash-checked).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stockpy_spark.operators.chunking import chunk_documents
from stockpy_spark.operators.dedup import incremental_dedup_admit
from stockpy_spark.operators.sketches import hll_rollup_quality
from stockpy_spark.operators.similarity import pq_quantize
from stockpy_spark.operators.timeseries import interval_concurrency
from stockpy_spark.registry_ext import (
    _STOP_SQL,
    _TOKENS_LOWER_SQL,
    _TOKENS_SQL,
    _t,
)


# --- document chunking --------------------------------------------------

def q_chunk_documents(spark, sf_dir):
    """Overlapping 32-token windows (8-token overlap) over every
    document — the corpus -> training-sample explosion, all builtin
    expressions (operators/chunking.py)."""
    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, "text", "doc_id", chunk_tokens=32, overlap=8)


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


# --- sweep-line interval concurrency ------------------------------------

def q_ev_concurrency(spark, sf_dir):
    """Concurrent open sessions per event_type: each event opens an
    interval of ``value`` whole seconds (derived identically on both
    engines via epoch arithmetic); sweep line gives the concurrency
    level at every boundary instant (operators/timeseries.py).

    Boundary instants surface as epoch-second BIGINTs, not timestamps:
    the r06 driver row went red because DuckDB ``to_timestamp()``
    returns TIMESTAMP WITH TIME ZONE and the driver's pandas-dtype
    schema check rejects tz-aware-vs-naive — epoch integers are the
    tz-proof cross-engine surface (the green SQL_STREAM_HOPPING
    pattern)."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    # second-truncated instants (cast timestamp -> long floors) keep
    # the boundary arithmetic integral and identical on both engines
    sec = F.col("ts").cast("timestamp").cast("long")
    iv = ev.select(
        "event_type",
        sec.alias("start_s"),
        (sec + F.floor(F.col("value")).cast("long")).alias("end_s"),
    )
    out = interval_concurrency(iv, "start_s", "end_s", ["event_type"])
    return out.select(
        "event_type", F.col("at_ts").alias("at_epoch"), "concurrent"
    )


SQL_CONCURRENCY = """
WITH iv AS (
    SELECT event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS start_s,
           CAST(floor(epoch(ts)) AS BIGINT)
               + CAST(floor(value) AS BIGINT) AS end_s
    FROM events
    WHERE ts IS NOT NULL AND value IS NOT NULL
), b AS (
    SELECT event_type, start_s AS at_epoch, 1 AS delta FROM iv
    UNION ALL
    SELECT event_type, end_s AS at_epoch, -1 AS delta FROM iv
), net AS (
    SELECT event_type, at_epoch, SUM(delta) AS net
    FROM b GROUP BY event_type, at_epoch
)
SELECT event_type, at_epoch,
       CAST(SUM(net) OVER (PARTITION BY event_type ORDER BY at_epoch
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS concurrent
FROM net
"""


# --- mergeable HLL distinct rollup (gate-style oracle) ------------------

def q_gate_hll_rollup(spark, sf_dir):
    """Two-level distinct-user rollup: daily HLL sketches unioned to
    weekly WITHOUT rescanning raw events (operators/sketches.py), gated
    against the exact weekly distinct at 5% relative error. Spark's HLL
    is seed-fixed, so the gate rows are deterministic. Bucket starts
    surface as epoch BIGINTs (tz-proof — DuckDB to_timestamp() is
    tz-aware and fails the driver's pandas-dtype schema check)."""
    # null-ts rows would bucket to NULL and diverge between the inner
    # join (Spark) and GROUP BY (SQL) — scope the query to timestamped
    # rows so a regenerated fixture with nulls can't flip the gate
    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    out = hll_rollup_quality(
        ev, "ts", "user_id",
        fine_seconds=86_400, coarse_seconds=604_800, max_rel_err=0.05,
    )
    return out.select(
        F.col("bucket_start").cast("long").alias("bucket_epoch"),
        "exact_distinct",
        "n_fine_buckets",
        "gate_rel_err_ok",
    )


SQL_GATE_HLL = """
WITH wk AS (
    SELECT CAST(floor(epoch(ts)) AS BIGINT) // 604800 * 604800 AS bucket_epoch,
           CAST(floor(epoch(ts)) AS BIGINT) // 86400 * 86400   AS day_start,
           user_id
    FROM events WHERE ts IS NOT NULL
)
SELECT bucket_epoch,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
       CAST(COUNT(DISTINCT day_start) AS BIGINT) AS n_fine_buckets,
       1 AS gate_rel_err_ok
FROM wk GROUP BY bucket_epoch
"""


# --- product quantization ----------------------------------------------

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


# --- incremental corpus ingestion dedup ---------------------------------

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


def _bsig_ctes(suffix: str, src: str) -> str:
    """The minhash band-signature CTE chain (registry_ext
    SQL_MINHASH_BSIG_CTES) instantiated over an arbitrary source CTE
    with suffixed names, bands=2 (6 rows per band)."""
    return f"""tok{suffix} AS (
    SELECT DISTINCT doc_id AS doc, unnest({_TOKENS_LOWER_SQL}) AS tok
    FROM {src} WHERE text IS NOT NULL AND trim(text) <> ''
), base{suffix} AS (
    SELECT doc,
           CAST(concat('0x', substr(md5('1|' || tok), 1, 15)) AS BIGINT) % 1000000007 AS h1,
           CAST(concat('0x', substr(md5('2|' || tok), 1, 15)) AS BIGINT) % 1000000007 AS h2
    FROM tok{suffix}
), sig{suffix} AS (
    SELECT doc, g.h AS h,
           min((h1 + g.h * h2) % 1000000007) AS mh
    FROM base{suffix} CROSS JOIN generate_series(0, 11) AS g(h)
    GROUP BY doc, g.h
), bands{suffix} AS (
    SELECT doc, h // 6 AS band,
           lpad(CAST(h AS VARCHAR), 4, '0') || ':' || CAST(mh AS VARCHAR) AS hmh
    FROM sig{suffix}
), bsig{suffix} AS (
    SELECT doc, band, md5(string_agg(hmh, ',' ORDER BY hmh)) AS bs
    FROM bands{suffix} GROUP BY doc, band
)"""


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


# --- native session windows (batch twin of streaming sessionization) ----

def q_ts_session_window(spark, sf_dir):
    """Per-user session aggregates via Spark's NATIVE
    ``F.session_window`` (30-minute inactivity gap) — the built-in
    operator behind streaming session aggregation, exercised in batch.
    Semantically identical to the window-function sessionization the
    w5_sessionize query builds by hand (lag + gap flag + running sum),
    which is exactly what the DuckDB oracle computes; a hash match
    proves the native operator and the classic formulation agree.
    Events are second-truncated so the gap arithmetic is integral on
    both engines; session starts surface as epoch BIGINTs (tz-proof —
    see q_ev_concurrency)."""
    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    sec = F.col("ts").cast("timestamp").cast("long")
    ev = ev.select(
        "user_id", F.timestamp_seconds(sec).alias("tss"), "value"
    )
    return (
        ev.groupBy("user_id", F.session_window("tss", "30 minutes"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").cast("long").alias("session_epoch"),
            "n_events",
            "sum_value",
        )
    )


SQL_SESSION_WINDOW = """
WITH ev AS (
    SELECT user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS tss,
           value
    FROM events WHERE ts IS NOT NULL
), flagged AS (
    SELECT user_id, tss, value,
           -- Spark's session window is half-open: an event exactly
           -- `gap` after the previous one starts a NEW session
           CASE WHEN tss - LAG(tss) OVER (PARTITION BY user_id ORDER BY tss)
                     >= 1800
                OR LAG(tss) OVER (PARTITION BY user_id ORDER BY tss) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM ev
), sessions AS (
    SELECT user_id, tss, value,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY tss
                                  ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
)
SELECT user_id,
       MIN(tss) AS session_epoch,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       round(SUM(value), 4) AS sum_value
FROM sessions GROUP BY user_id, sid
"""


# --- VARIANT semi-structured path (Spark 4 native) -----------------------

def q_f14_variant_props(spark, sf_dir):
    """Semi-structured JSON via Spark 4's native VARIANT type:
    ``parse_json`` once into the binary variant encoding, then typed
    ``try_variant_get`` extraction — the modern engine path for ragged
    event properties (shredded columnar access, no per-query string
    re-parsing like get_json_object, schema discovered not declared).
    Per event_type: count, sum/min/max of $.k, plus the
    schema_of_variant the data actually carries."""
    ev = _t(spark, sf_dir, "events").where(F.col("props").isNotNull())
    v = ev.select(
        "event_type", F.parse_json("props").alias("v")
    ).select(
        "event_type",
        F.try_variant_get("v", "$.k", "long").alias("k"),
        F.schema_of_variant("v").alias("vschema"),
    )
    return v.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("k").cast("long").alias("sum_k"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
        F.min("vschema").alias("variant_schema"),
    )


SQL_VARIANT_PROPS = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS min_k,
       CAST(MAX(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS max_k,
       MIN(CASE WHEN json_valid(props) THEN 'OBJECT<k: BIGINT>' END)
           AS variant_schema
FROM events WHERE props IS NOT NULL
GROUP BY event_type
"""


# --- baseline JPEG fidelity gate -----------------------------------------

def q_gate_jpeg_fidelity(spark, sf_dir):
    """JPEG is lossy, so unlike BMP/PNG/GIF there is no bit-exact
    closed-form oracle; the cross-engine contract is the FIDELITY
    BOUND instead: encode every document's closed-form pixels as a real
    baseline JFIF JPEG (quality 100, 4:4:4 — operators/jpeg.py: DCT,
    Annex-K quantization, Huffman), decode it back through the full
    entropy/IDCT pipeline, and gate on max |decoded - source| <= 4 per
    channel (measured bound over every fixture image: 2). The DuckDB
    oracle states the expected gate rows; any codec regression —
    Huffman mis-decode, IDCT drift, chroma misplacement — flips a gate
    to 0 and the driver row goes red."""
    import numpy as np
    import pandas as pd

    from stockpy_spark.operators.multimodal import attach_jpeg_payload

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    assets = attach_jpeg_payload(docs, "doc_id")

    def batch(it):
        from stockpy_spark.operators.jpeg import decode_jpeg
        from stockpy_spark.operators.multimodal import _fake_pixels

        for pdf in it:
            ids, oks = [], []
            for i, payload in zip(pdf["doc_id"], pdf["payload"]):
                dec = decode_jpeg(bytes(payload)).astype(int)
                src = _fake_pixels(int(i)).astype(int)
                ok = dec.shape == src.shape and np.abs(dec - src).max() <= 4
                ids.append(int(i))
                oks.append(int(ok))
            yield pd.DataFrame({"doc_id": ids, "gate_err_ok": oks})

    return assets.mapInPandas(batch, "doc_id long, gate_err_ok int")


SQL_GATE_JPEG = """
SELECT doc_id, 1 AS gate_err_ok FROM documents
"""


# --- composed training-prep pipeline -------------------------------------

def q_pipeline_training_prep(spark, sf_dir):
    """The full corpus -> training-samples flow in one composition:
    quality gate (>= 0.5) -> exact dedup (min-id per normalized md5
    fingerprint) -> overlapping-window chunking (32 tokens / 8
    overlap) -> per-language sample statistics. Every stage is an
    operator with its own oracle-checked query (`text_quality_score`,
    `dedup_exact_docs`, `chunk_documents`); this entry pins the
    composition — the pipeline a pretraining data job actually ships.
    Scale shape: one narrow quality scan, one map-side-combined
    fingerprint shuffle, zero-shuffle chunk explode, one final rollup."""
    from stockpy_spark.functions.text import quality_score
    from stockpy_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang", "text", quality_score("text").alias("quality")
    )
    qualified = scored.filter(F.col("quality") >= 0.5)
    uniq = exact_dedup(qualified, "text", "doc_id")
    chunks = chunk_documents(uniq, "text", "doc_id", chunk_tokens=32, overlap=8)
    return (
        chunks.join(uniq.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_chunks"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
        )
    )


SQL_TRAINING_PREP = rf"""
WITH feat AS (
    SELECT doc_id, lang, text,
           length(coalesce(text, '')) AS n_chars,
           CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                ELSE len({_TOKENS_SQL}) END AS n_tokens,
           CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                ELSE len(list_filter({_TOKENS_SQL},
                         x -> list_contains({_STOP_SQL}, lower(x)))) END AS stop_hits,
           length(coalesce(text, ''))
               - length(regexp_replace(coalesce(text, ''), '[^\w\s]', '', 'g'))
               AS punct_chars
    FROM documents
), scored AS (
    SELECT doc_id, lang, text,
           round(least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.4
                 + least(stop_hits / CAST(greatest(n_tokens, 1) AS DOUBLE) * 5.0, 1.0) * 0.3
                 + greatest(1.0 - punct_chars / CAST(greatest(n_chars, 1) AS DOUBLE) * 4.0,
                            0.0) * 0.3, 6) AS quality
    FROM feat
), qualified AS (
    SELECT doc_id, lang, text,
           md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
    FROM scored WHERE quality >= 0.5
), uniq AS (
    SELECT q.doc_id, q.lang, q.text
    FROM qualified q
    JOIN (SELECT fp, min(doc_id) AS m FROM qualified GROUP BY fp) k
      ON q.fp = k.fp AND q.doc_id = k.m
), toks AS (
    SELECT doc_id, lang,
           CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
    FROM uniq
), grid AS (
    SELECT doc_id, lang, len(tk) AS n,
           unnest(generate_series(0, (len(tk) - 1) // 24 * 24, 24)) AS start_tok
    FROM toks
    WHERE len(tk) > 0
)
SELECT lang,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(least(32, n - start_tok)) AS BIGINT) AS total_tokens
FROM grid GROUP BY lang
"""


# --- regression aggregates (trend per key) -------------------------------

def q_ts_trend(spark, sf_dir):
    """Per-event-type linear trend of value over time via the built-in
    regression aggregates (regr_slope / regr_intercept / corr — the
    SQL-standard OLS family, one aggregation pass, decomposable
    partials). Time axis is days since epoch so slopes are
    human-scaled; outputs rounded to 6."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    x = F.col("ts").cast("timestamp").cast("long") / F.lit(86400.0)
    prepared = ev.select("event_type", x.alias("x"), F.col("value").alias("y"))
    return prepared.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.regr_slope("y", "x"), 6).alias("slope_per_day"),
        F.round(F.regr_intercept("y", "x"), 6).alias("intercept"),
        F.round(F.corr("y", "x"), 6).alias("corr_yx"),
    )


SQL_TS_TREND = """
SELECT event_type,
       COUNT(*) AS n,
       round(regr_slope(value, CAST(floor(epoch(ts)) AS BIGINT) / 86400.0), 6)
           AS slope_per_day,
       round(regr_intercept(value, CAST(floor(epoch(ts)) AS BIGINT) / 86400.0), 6)
           AS intercept,
       round(corr(value, CAST(floor(epoch(ts)) AS BIGINT) / 86400.0), 6)
           AS corr_yx
FROM events
WHERE ts IS NOT NULL AND value IS NOT NULL
GROUP BY event_type
"""


# --- one-pass column profiling -------------------------------------------

def q_profile_events(spark, sf_dir):
    """Data-quality profile of the events table in ONE aggregation pass
    (operators/aggregate.py profile_columns): per column, row/non-null/
    null/exact-distinct counts, unpivoted to long form."""
    from stockpy_spark.operators.aggregate import profile_columns

    ev = _t(spark, sf_dir, "events")
    return profile_columns(ev, ["event_id", "user_id", "event_type", "value"])


SQL_PROFILE_EVENTS = """
SELECT 'event_id' AS column, COUNT(*) AS n_rows, COUNT(event_id) AS n_nonnull,
       COUNT(*) - COUNT(event_id) AS n_nulls,
       COUNT(DISTINCT event_id) AS n_distinct FROM events
UNION ALL
SELECT 'user_id', COUNT(*), COUNT(user_id),
       COUNT(*) - COUNT(user_id), COUNT(DISTINCT user_id) FROM events
UNION ALL
SELECT 'event_type', COUNT(*), COUNT(event_type),
       COUNT(*) - COUNT(event_type), COUNT(DISTINCT event_type) FROM events
UNION ALL
SELECT 'value', COUNT(*), COUNT(value),
       COUNT(*) - COUNT(value), COUNT(DISTINCT value) FROM events
"""


# --- EWMA (recursive smoothing as an exact cross-engine fold) ------------

def q_ts_ewma(spark, sf_dir):
    """Per-user exponentially weighted moving average of event values
    (alpha = 0.1): the classic RECURSIVE smoother s = a*v + (1-a)*s
    that window frames cannot express, computed as a left fold over the
    time-ordered value list — the same builtin-expression fold idiom as
    the Rabin-Karp fingerprint (functions/text.py), so DuckDB
    reproduces every double operation in the same order and the result
    is bit-exact cross-engine. Seeded with the first value, ties on ts
    broken by event_id.

    Scale note: collect_list bounds state by the per-key series length
    — the right tool when per-key series fit an executor (user/device
    telemetry); an unbounded-key variant would ride
    applyInPandasWithState (streaming/ops.py stateful_running_stats is
    that shape).

    ts is declared non-null for this query: Spark's array_sort places
    a null-ts struct FIRST while DuckDB's ORDER BY places NULLS LAST
    (probed empirically), so a regenerated fixture with null
    timestamps would silently reorder the fold between engines — the
    filter pins the contract instead (same defensive move as
    gate_hll_rollup's)."""
    ev = _t(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    )
    ordered = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("__seq")
    )
    vals = F.transform(F.col("__seq"), lambda s: s["value"])
    ewma = F.aggregate(
        F.slice(vals, 2, F.greatest(F.lit(0), F.size(vals) - 1)),
        F.element_at(vals, 1),
        lambda acc, v: v * F.lit(0.1) + acc * F.lit(0.9),
    )
    return ordered.select(
        "user_id",
        F.size("__seq").cast("long").alias("n_events"),
        F.round(ewma, 8).alias("ewma"),
    )


SQL_TS_EWMA = """
WITH seq AS (
    SELECT user_id,
           list(value ORDER BY ts, event_id) AS vals
    FROM events
    WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
    GROUP BY user_id
)
SELECT user_id,
       CAST(len(vals) AS BIGINT) AS n_events,
       round(list_reduce(vals, (acc, v) -> v * 0.1 + acc * 0.9), 8) AS ewma
FROM seq
"""


# --- weighted sampling ---------------------------------------------------

def q_sample_weighted(spark, sf_dir):
    """Length-weighted corpus sample (long documents proportionally
    more likely): Efraimidis-Spirakis keys from md5-uniforms, top-50
    (operators/sampling.py weighted_sample_topk). Deterministic, so the
    exact key set sits under the hash gate."""
    from stockpy_spark.operators.sampling import weighted_sample_topk

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample_topk(
        docs.select("doc_id", "lang", "n_chars"), "doc_id", "n_chars", k=50
    )
    return out.select("doc_id", "lang", "n_chars", "__wkey")


SQL_SAMPLE_WEIGHTED = """
WITH keyed AS (
    SELECT doc_id, lang, n_chars,
           round(pow(CAST(concat('0x', substr(md5('wsample' || chr(31)
                         || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
                     / 4503599627370496.0,
                     1.0 / CAST(n_chars AS DOUBLE)), 12) AS __wkey
    FROM documents
    WHERE CAST(n_chars AS DOUBLE) > 0
)
SELECT doc_id, lang, n_chars, __wkey
FROM keyed ORDER BY __wkey DESC, doc_id LIMIT 50
"""


# --- heavy hitters (exact two-stage top-k terms) -------------------------

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


SQL_TOP_TERMS = r"""
SELECT term, CAST(COUNT(*) AS BIGINT) AS n
FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
    FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
)
WHERE term <> ''
GROUP BY term ORDER BY n DESC, term LIMIT 20
"""


R6_QUERIES: dict[str, tuple] = {
    "chunk_documents": (q_chunk_documents, SQL_CHUNKS),
    "ev_concurrency": (q_ev_concurrency, SQL_CONCURRENCY),
    "gate_hll_rollup": (q_gate_hll_rollup, SQL_GATE_HLL),
    "emb_pq_codes": (q_emb_pq_codes, SQL_PQ),
    "dedup_incremental": (q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    "sample_weighted": (q_sample_weighted, SQL_SAMPLE_WEIGHTED),
    "text_top_terms": (q_text_top_terms, SQL_TOP_TERMS),
    "ts_session_window": (q_ts_session_window, SQL_SESSION_WINDOW),
    "gate_jpeg_fidelity": (q_gate_jpeg_fidelity, SQL_GATE_JPEG),
    "f14_variant_props": (q_f14_variant_props, SQL_VARIANT_PROPS),
    "ts_ewma": (q_ts_ewma, SQL_TS_EWMA),
    "profile_events": (q_profile_events, SQL_PROFILE_EVENTS),
    "ts_trend": (q_ts_trend, SQL_TS_TREND),
    "pipeline_training_prep": (q_pipeline_training_prep, SQL_TRAINING_PREP),
}
