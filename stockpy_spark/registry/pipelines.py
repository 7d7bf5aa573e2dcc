"""Pipeline queries: multi-stage curation DAGs, the reference's stock
extract, and its lake I/O (the ``fmt_*`` format round-trips and the
``hive_*`` partitioned-layout cycle).

The ``hive_*`` queries READ a ``dataproc=YYYYMMDD`` partitioned layout
that their own run materialized from the flat testdata
(``sources/hive_fixture.py``), so the partition write, discover and
pruned-read cycle is what the hash gates. Two oracle styles on purpose:

- flat-view oracles (``hive_prune_day``, ``hive_prune_range``,
  ``hive_incremental_cycle``) recompute the answer from the original
  ``events`` view, which catches a wrong ``dataproc`` derivation on
  write AND a wrong pruned read;
- a ``read_parquet(..., hive_partitioning=true)`` oracle
  (``hive_partition_counts``) makes DuckDB read the directory tree
  itself. It hardcodes the sf0.01 fixture path because oracle SQL
  takes no sf parameter.

The ``hive_*`` and ``fmt_*`` queries write shared fixtures, so they are
declared ``serial=True``.

``pipeline_data_release`` chains the complete curation DAG a training
data release signs off on:

    salt (deterministic web-page fixture, planted eval leak)
      -> intra-doc line dedup          (textcorpus.dedup_lines_within_doc)
      -> per-line boilerplate screen   (textcorpus.boilerplate_line_screen)
      -> unicode normalization         (functions.text.normalize_text)
      -> Gopher quality gate           (gopher.gopher_quality_rules)
      -> NB quality gate, top-128      (textstats.nb_quality_classifier)
      -> canonical-URL dedup           (webfilter.url_canonicalize)
      -> MinHash-LSH dedup             (dedup.minhash_dedup_assign)
      -> exact 5-gram decontamination  (vs the doc_id%10==0 eval split)
      -> fuzzy MinHash decontamination (est_jaccard >= 0.5 vs eval)
      -> per-source score calibration  (percent_rank)
      -> mixture/diversity cap         (top-2 per source)
      -> deterministic shard shuffle   (sampling.shuffle_shard_plan)
      -> ordered context packing       (sampling.pack_chunks_ordered)

Its DuckDB oracle replays the ENTIRE chain, so a drift in any stage
reds the release row. Normalization runs after the line stages because
normalize_text collapses newlines. The inter-stage frames that fan out
are doc-ID sets pinned per operators/pinning.py, while the cleaned text
re-derives as a narrow map.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from stockpy_spark.functions.text import quality_features, quality_score
from stockpy_spark.operators.chunking import chunk_documents
from stockpy_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup_assign,
    minhash_lsh_star_edges,
)
from stockpy_spark.operators.graph import dedup_components
from stockpy_spark.operators.multimodal import (
    attach_bmp_payload,
    extract_pixel_features,
)
from stockpy_spark.operators.pinning import pin, pin_literal
from stockpy_spark.registry._common import (
    _STOP_SQL,
    _TOKENS_LOWER_SQL,
    _TOKENS_SQL,
    SQL_MINHASH_BSIG_CTES,
    SQL_MM_PHASH,
    _t,
    query,
)
from stockpy_spark.sources.format_fixture import (
    TS_FMT,
    events_from_csv,
    events_from_json,
    events_from_orc,
)
from stockpy_spark.sources.hive_fixture import (
    ensure_events_by_day,
    run_incremental_cycle,
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


@query("pipeline_image_dedup", oracle=SQL_PIPE_IMAGE)
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


# --- composed extract pipeline (connector seam) ---
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


@query("pipeline_extract_stocks", oracle=SQL_EXTRACT_STOCKS)
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


# --- end-to-end training-data pipeline ---
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


@query("pipeline_clean_corpus", oracle=SQL_PIPELINE_CLEAN)
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


@query("pipeline_web_curation", oracle=SQL_PIPE_WEB)
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


DAY = "20240115"


RANGE_LO, RANGE_HI = "20240110", "20240112"


INCR_DAYS = ["20240101", "20240102", "20240103"]


INCR_RERUN = "20240102"


SQL_HIVE_PRUNE_DAY = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(value), 6) AS DOUBLE) AS total_value,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE strftime(ts, '%Y%m%d') = '{DAY}'
GROUP BY event_type
"""


@query("hive_prune_day", oracle=SQL_HIVE_PRUNE_DAY, serial=True)
def q_hive_prune_day(spark, sf_dir):
    """Single-day pruned read — the reference's most common query shape
    (read exactly today's partition: transform_stocks_job.py:32). The
    predicate is on the partition column, so Catalyst prunes to ONE
    directory at planning time (plan-tested in tests/test_hive_cycle.py);
    at 100 TB with years of partitions this is the difference between
    scanning ~1/1000th of the table and all of it."""
    path = ensure_events_by_day(spark, sf_dir)
    day = spark.read.parquet(path).where(F.col("dataproc") == int(DAY))
    return day.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


SQL_HIVE_PARTITION_COUNTS = """
SELECT CAST(strftime(ts, '%Y%m%d') AS BIGINT) AS dataproc,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(value), 6) AS DOUBLE) AS total_value
FROM events
GROUP BY 1
"""


@query("hive_partition_counts", oracle=SQL_HIVE_PARTITION_COUNTS, serial=True)
def q_hive_partition_counts(spark, sf_dir):
    """Whole-table per-partition profile over the materialized
    ``dataproc=YYYYMMDD`` layout: Spark reads the DIRECTORY TREE (so
    directory names as the partition column and row placement are what
    produce these groups) while the oracle independently re-derives
    the same profile from the flat events table — any row landing in
    the wrong partition directory hash-mismatches. The oracle used to
    read the fixture path with DuckDB's hive_partitioning reader, but
    that hard-coded the sf0.01 path and silently compared ACROSS
    scale factors when checked at any other SF (caught by the r10
    sf0.001 sparse sweep); the external-readability property that
    oracle carried now lives in
    test_hive_layout_externally_readable_by_duckdb, which builds the
    path dynamically."""
    path = ensure_events_by_day(spark, sf_dir)
    df = spark.read.parquet(path)
    return df.groupBy(F.col("dataproc").cast("long").alias("dataproc")).agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


SQL_HIVE_PRUNE_RANGE = f"""
SELECT CAST(strftime(ts, '%Y%m%d') AS BIGINT) AS dataproc,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(avg(value), 6) AS DOUBLE) AS avg_value
FROM events
WHERE strftime(ts, '%Y%m%d') BETWEEN '{RANGE_LO}' AND '{RANGE_HI}'
GROUP BY 1, 2
"""


@query("hive_prune_range", oracle=SQL_HIVE_PRUNE_RANGE, serial=True)
def q_hive_prune_range(spark, sf_dir):
    """Multi-day range over the partition column — the backfill /
    re-aggregation shape. Still prunes (range predicates on partition
    columns resolve at planning time), still oracle-checked against the
    flat table."""
    path = ensure_events_by_day(spark, sf_dir)
    df = spark.read.parquet(path).where(
        (F.col("dataproc") >= int(RANGE_LO)) & (F.col("dataproc") <= int(RANGE_HI))
    )
    return df.groupBy(
        F.col("dataproc").cast("long").alias("dataproc"), "event_type"
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


SQL_HIVE_INCREMENTAL = f"""
SELECT CAST(strftime(ts, '%Y%m%d') AS BIGINT) AS dataproc,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(round(sum(value), 6) AS DOUBLE) AS total_value
FROM events
WHERE strftime(ts, '%Y%m%d') IN ({", ".join(f"'{d}'" for d in INCR_DAYS)})
GROUP BY 1
"""


@query("hive_incremental_cycle", oracle=SQL_HIVE_INCREMENTAL, serial=True)
def q_hive_incremental_cycle(spark, sf_dir):
    """Three simulated daily runs + one RERUN of the middle day through
    dynamic partition overwrite, per-day O(1) ``ADD PARTITION``
    registration, and a catalog read-back with a partition predicate
    (sources/hive_fixture.py:run_incremental_cycle). The flat-table
    oracle makes this an idempotence gate: a rerun that appended instead
    of replacing would double day-2's counts and flip the hash."""
    df = run_incremental_cycle(
        spark, sf_dir, INCR_DAYS, rerun_day=INCR_RERUN
    )
    return df.groupBy(F.col("dataproc").cast("long").alias("dataproc")).agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


# --- fmt: text-format reader round-trips --------------------------------
def _fmt_agg(ev):
    return ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum(F.length("props")).cast("long").alias("props_chars"),
        F.date_format(F.max("ts"), TS_FMT).alias("max_ts"),
    )


SQL_FMT = """
SELECT event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(LENGTH(props)) AS BIGINT) AS props_chars,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS max_ts
FROM events GROUP BY event_type
"""


@query("fmt_csv_events", oracle=SQL_FMT, serial=True)
def q_fmt_csv_events(spark, sf_dir):
    """events written as RFC-4180 CSV and read back through
    readers.read_csv (explicit schema, quote-doubling) — the oracle
    computes the same aggregate from the ORIGINAL parquet, so lost
    timestamp micros, mangled doubles, or a quoting bug on the
    comma-riddled props column flips the hash
    (sources/format_fixture.py)."""
    return _fmt_agg(events_from_csv(spark, sf_dir))


@query("fmt_json_events", oracle=SQL_FMT, serial=True)
def q_fmt_json_events(spark, sf_dir):
    """Same round-trip through newline-delimited JSON
    (readers.read_json, explicit schema — no inference pass)."""
    return _fmt_agg(events_from_json(spark, sf_dir))


@query("fmt_orc_events", oracle=SQL_FMT, serial=True)
def q_fmt_orc_events(spark, sf_dir):
    """Typed-columnar round-trip: timestamps travel natively through
    ORC, no string leg (sources/format_fixture.py)."""
    return _fmt_agg(events_from_orc(spark, sf_dir))


@query("fmt_xml_events", oracle=SQL_FMT, serial=True)
def q_fmt_xml_events(spark, sf_dir):
    """Same round-trip through XML (Spark 4's native xml source, one
    <event> element per row) — entity escaping on the special-character
    props column is what a sloppy serializer corrupts
    (sources/format_fixture.py events_from_xml)."""
    from stockpy_spark.sources.format_fixture import events_from_xml

    return _fmt_agg(events_from_xml(spark, sf_dir))


SQL_PIPE_CC = f"""
WITH RECURSIVE {SQL_MINHASH_BSIG_CTES}, bucket_min AS (
    SELECT band, bs, MIN(doc) AS bmin FROM bsig GROUP BY band, bs
), pairs AS (
    SELECT DISTINCT b1.bmin AS d1, b.doc AS d2
    FROM bsig b
    JOIN bucket_min b1 ON b.band = b1.band AND b.bs = b1.bs
    WHERE b.doc <> b1.bmin
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
), kept AS (
    SELECT d.* FROM documents d
    JOIN comp c ON d.doc_id = c.doc_id AND c.doc_id = c.component
)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM kept GROUP BY lang
"""


@query("pipeline_dedup_cc", oracle=SQL_PIPE_CC)
def q_pipeline_dedup_cc(spark, sf_dir):
    """End-to-end transitive dedup: near-dup pairs -> connected
    components -> keep only min-id representatives -> per-language
    corpus stats. The composition every production corpus dedup runs
    (pair emitters alone under-remove: A~B, B~C keeps C unless the
    closure is taken).

    Edges come from the SCALE-path emitter: MinHash-LSH STAR edges
    (dedup.py:minhash_lsh_star_edges — each bucket member connects to
    the bucket's min doc, O(docs x bands) edges), NOT all-pairs bucket
    enumeration and NOT the exact-Jaccard self-join
    graph_dedup_components uses. Measured on the synthetic sf1: the
    all-pairs emitter explodes to 224M candidate pairs (GC death on
    8g); star edges stay ~n_docs and the pipeline runs. A bucket is a
    clique in the candidate graph, so the star preserves its connected
    components exactly; the md5-derived signatures keep the edge set
    bit-for-bit SQL-reproducible, so the full scale-path composition
    still sits under the exact recursive-CTE hash gate."""
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_star_edges(docs, "text", "doc_id", num_hashes=12, bands=2)
    comp = dedup_components(docs.select("doc_id"), pairs)
    kept = docs.join(
        comp.where(F.col("is_representative")).select("doc_id"),
        "doc_id",
        "inner",
    )
    return kept.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# --- composed training-prep pipeline -------------------------------------
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


@query("pipeline_training_prep", oracle=SQL_TRAINING_PREP)
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


def release_stage_frames(spark: SparkSession, sf_dir: str) -> dict:
    """The capstone's stage frames, keyed by stage name — the query
    returns ``final``; tests assert decontamination/gate invariants on
    the intermediates (``clean``, ``evalc``, ``c9``, ``c10``...)."""
    from stockpy_spark.functions.text import (
        normalize_text,
        quality_features,
        token_count,
        word_ngrams,
    )
    from stockpy_spark.operators.dedup import (
        _band_signatures,
        _minhash_wide,
        minhash_dedup_assign,
    )
    from stockpy_spark.operators.gopher import gopher_keep_filter
    from stockpy_spark.operators.sampling import (
        pack_chunks_ordered,
        shuffle_shard_plan,
    )
    from stockpy_spark.operators.textcorpus import (
        boilerplate_line_screen,
        dedup_lines_within_doc,
    )
    from stockpy_spark.operators.textstats import nb_quality_classifier
    from stockpy_spark.operators.webfilter import url_canonicalize

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")

    # --- salt: deterministic web-page fixture -------------------------
    t = F.when(
        F.col("text").isNull() | (F.trim("text") == ""),
        F.array().cast("array<string>"),
    ).otherwise(F.split(F.trim("text"), r"\s+"))
    sw = F.element_at(
        F.array(
            F.lit("of the"), F.lit("and that"),
            F.lit("have with"), F.lit("be to"),
        ),
        (d % 4 + 1).cast("int"),
    )
    l1 = F.concat(F.lit("“intro” "), F.array_join(F.slice(t, 1, 8), " "))
    nav = F.lit("Subscribe | Home | Login")
    l2 = F.trim(
        F.concat_ws(
            " ",
            F.array_join(F.slice(t, 9, 8), " "),
            sw,
            F.when(d % 5 == 0, F.lit("…")).otherwise(F.lit("")),
        )
    )
    btn = F.when(d % 3 == 0, F.lit("ok"))
    rest = F.array_join(F.slice(t, 17, 100000), " ")
    ev_lead = docs.select(
        F.col("doc_id").alias("__eid"),
        F.array_join(
            F.slice(
                F.when(
                    F.col("text").isNull() | (F.trim("text") == ""),
                    F.array().cast("array<string>"),
                ).otherwise(F.split(F.trim("text"), r"\s+")),
                1, 8,
            ),
            " ",
        ).alias("__elead"),
    )
    plant = F.when((d % 41 == 0) & (d % 10 != 0), F.col("__elead"))
    arr = F.filter(
        F.array(l1, nav, l2, nav, btn, rest, plant),
        lambda x: x.isNotNull() & (x != ""),
    )
    salted = docs.join(ev_lead, d - (d % 10) == F.col("__eid"), "left").select(
        "doc_id", "source", F.array_join(arr, "\n").alias("text")
    )

    # --- line dedup -> boilerplate -> normalize -----------------------
    # r17 (guide §2.4): `source` rides THROUGH the narrow line ops
    # (their new ``carry`` param) instead of being re-attached by a
    # doc_id self-join below — that join was the clean pin's entire
    # shuffle (0.84 MB at sf0.1, corpus-metadata-sized at 100 TB).
    dd = dedup_lines_within_doc(salted, "doc_id", "text", carry=["source"])
    bp = boilerplate_line_screen(
        dd.select("doc_id", "source", "text"), "doc_id", "text",
        carry=["source"],
    )
    # The cleaned corpus is the pipeline's inter-stage boundary and
    # EIGHT downstream consumers read it (gopher, NB seed+train, both
    # dedups, both decontaminations, sizing); unpinned, each consumer
    # re-derives the whole salt -> line-dedup -> boilerplate ->
    # normalize chain — measured super-linear at sf10 (>580 s vs 35 s
    # at sf1). A real 100 TB release run materializes the cleaned
    # corpus to storage between stages; pin() is that boundary here
    # (reliable mode IS a durable write), the one corpus-scale pin in
    # the repo, justified by the pipeline-stage semantics rather than
    # the census dominance criterion.
    clean = (
        bp.select("doc_id", normalize_text("text").alias("ctext"), "source")
        .transform(pin)
    )

    # --- gopher gate (thresholds sized to this corpus' doc lengths) ---
    # r17 (guide §2.4): the gate is zero-shuffle narrow, so attaching
    # it by joining gopher_quality_rules' (doc_id, keep) frame back
    # onto `clean` paid a data-sized self-equi-join for a filter; the
    # shared-builder filter form applies the bit-identical gates in
    # place. Every consumer of `train` replays a narrow filter over
    # the pinned clean blocks instead of a sort-merge join.
    train = gopher_keep_filter(
        clean, "ctext",
        min_words=20, max_mean_word_len=12.0, min_alpha_frac=0.6,
    ).where(d % 10 != 0)
    evalc = clean.where(d % 10 == 0)

    # --- NB gate, admit top-128 ---------------------------------------
    draw = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("nbseed|"), d.cast("string"))), 1, 13
            ),
            16, 10,
        ).cast("long") % 2
    )
    qf = quality_features("ctext")
    seed = train.filter(draw == 0).select(
        "doc_id", (qf["stopword_ratio"] >= 0.10).cast("int").alias("label")
    )
    nb = nb_quality_classifier(train, "ctext", "doc_id", seed)
    # r17: the four admitted-set-scale pins below are BOUNDED at 128
    # rows by this limit (everything downstream only shrinks), so they
    # pin as driver-literal LocalRelations (pin_literal docstring —
    # joins against them plan as static broadcasts with zero build
    # jobs / scan stages, vs the checkpoint pins' sort-merge + leaf
    # scans).
    admitted6 = (
        nb.orderBy(F.desc("nb_score"), F.asc("doc_id"))
        .limit(128)
        .select("doc_id")
        .transform(lambda d: pin_literal(d, 128))  # KB doc-id set; 2 consumers
    )

    # --- canonical-URL dedup ------------------------------------------
    scheme = F.element_at(
        F.array(F.lit("https"), F.lit("HTTPS"), F.lit("http")),
        (d % 3 + 1).cast("int"),
    )
    host = F.element_at(
        F.array(
            F.lit("Media.Example.COM"), F.lit("media.example.com"),
            F.lit("CDN.example.org"), F.lit("cdn.example.org"),
        ),
        (d % 4 + 1).cast("int"),
    )
    path = F.concat(
        F.lit("/p/"), (d % 96).cast("string"),
        F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    qq = F.when(
        d % 2 == 0,
        F.concat(
            F.lit("?b=2&id="), (d % 48).cast("string"), F.lit("&utm_source=news")
        ),
    ).otherwise(F.concat(F.lit("?id="), (d % 48).cast("string"), F.lit("&b=2")))
    urls = admitted6.select(
        "doc_id", F.concat(scheme, F.lit("://"), host, path, qq).alias("url")
    )
    canon = url_canonicalize(urls, "url")
    wc = W.partitionBy("canonical_url")
    url_keep = (
        canon.withColumn("__mn", F.min("doc_id").over(wc))
        .filter(d == F.col("__mn"))
        .select("doc_id")
    )

    # --- MinHash-LSH dedup within survivors ---------------------------
    # r17: url_keep/mh/dirty_* are bounded (<=128 rows, derived
    # from the limit-128 admitted set) — explicit broadcast hints
    # replace sort-merge planning against unknown-size subtrees
    # (guide §3.1: use the bound the planner cannot see).
    surv = train.join(F.broadcast(url_keep), "doc_id")
    mh = minhash_dedup_assign(
        surv, "ctext", "doc_id", num_hashes=12, bands=2, bounded_docs=128
    )
    mh_keep = surv.join(
        F.broadcast(mh.filter(~F.col("is_dup")).select("doc_id")), "doc_id"
    ).transform(lambda d: pin_literal(d, 128))  # <=128 rows; 3 consumers

    # --- exact 5-gram decontamination vs the eval split ---------------
    esh = (
        evalc.select(
            F.explode(F.array_distinct(word_ngrams(F.col("ctext"), 5))).alias("sh")
        ).distinct()
    )
    tsh = mh_keep.select(
        "doc_id",
        F.explode(F.array_distinct(word_ngrams(F.col("ctext"), 5))).alias("sh"),
    )
    dirty_exact = tsh.join(esh, "sh", "semi").select("doc_id").distinct()
    c9 = mh_keep.join(F.broadcast(dirty_exact), "doc_id", "anti").transform(
        lambda d: pin_literal(d, 128)
    )

    # --- fuzzy MinHash decontamination vs the eval split --------------
    both = c9.select("doc_id", "ctext").unionByName(
        evalc.select("doc_id", "ctext")
    )
    wide = _minhash_wide(both, "ctext", "doc_id", 12).transform(pin)
    bs = _band_signatures(wide, 12, 2)
    evids = evalc.select(F.col("doc_id").alias("doc"))
    bse = bs.join(evids, "doc", "semi")
    bst = bs.join(evids, "doc", "anti")
    cand = (
        F.broadcast(bst.alias("t"))
        .join(
            bse.alias("e"),
            (F.col("t.band") == F.col("e.band"))
            & (F.col("t.bsig") == F.col("e.bsig")),
        )
        .select(F.col("t.doc").alias("td"), F.col("e.doc").alias("ed"))
        .distinct()
    )
    agree = None
    for h in range(12):
        c = (F.col(f"a.mh{h}") == F.col(f"b.mh{h}")).cast("int")
        agree = c if agree is None else agree + c
    ej = (
        cand.join(wide.alias("a"), F.col("td") == F.col("a.doc"))
        .join(wide.alias("b"), F.col("ed") == F.col("b.doc"))
        .select("td", (agree / F.lit(12.0)).alias("ej"))
    )
    dirty_fuzzy = ej.where(F.col("ej") >= 0.5).select(
        F.col("td").alias("doc_id")
    ).distinct()
    c10 = c9.join(F.broadcast(dirty_fuzzy), "doc_id", "anti").transform(
        lambda d: pin_literal(d, 128)
    )

    # --- calibration -> mixture cap -> shard shuffle -> packing -------
    sized = c10.select(
        "doc_id", "source", token_count("ctext").cast("long").alias("n_tokens")
    )
    wsrc = W.partitionBy("source").orderBy("n_tokens")
    cal = sized.withColumn("calibrated", F.round(F.percent_rank().over(wsrc), 6))
    wcap = W.partitionBy("source").orderBy(F.desc("calibrated"), F.asc("doc_id"))
    capd = (
        cal.withColumn("__rk", F.row_number().over(wcap))
        .where(F.col("__rk") <= 2)
        .drop("__rk")
    )
    sh = shuffle_shard_plan(capd, "doc_id", n_shards=4, n_buckets=16)
    ordkey = (F.col("shard").cast("long") * F.lit(1_000_000) + F.col("position")).alias("ord")
    packed_in = sh.select(
        "doc_id", "source", "n_tokens", "calibrated", "shard", "position", ordkey
    )
    pk = pack_chunks_ordered(
        packed_in, "ord", "doc_id", "n_tokens", budget=128, n_buckets=16
    )
    final = pk.select(
        "doc_id", "source", "n_tokens", "calibrated",
        "shard", "position", "seq_start", "bin",
    )
    return {
        "salted": salted,
        "clean": clean,
        "train": train,
        "evalc": evalc,
        "admitted6": admitted6,
        "url_keep": url_keep,
        "mh_keep": mh_keep,
        "c9": c9,
        "c10": c10,
        "capd": capd,
        "final": final,
    }


_NAV = "Subscribe | Home | Login"


_SQL_CHAIN = f"""
WITH tk AS MATERIALIZED (
    SELECT doc_id, source,
           CASE WHEN text IS NULL OR trim(text) = '' THEN []
                ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
    FROM documents
), sal AS MATERIALIZED (
    SELECT a.doc_id, a.source,
           array_to_string(list_filter([
               chr(8220) || 'intro' || chr(8221) || ' '
                   || array_to_string(a.tk[1:8], ' '),
               '{_NAV}',
               trim(concat_ws(' ', array_to_string(a.tk[9:16], ' '),
                    (['of the','and that','have with','be to'])[(a.doc_id % 4) + 1],
                    CASE WHEN a.doc_id % 5 = 0 THEN chr(8230) ELSE '' END)),
               '{_NAV}',
               CASE WHEN a.doc_id % 3 = 0 THEN 'ok' END,
               array_to_string(a.tk[17:], ' '),
               CASE WHEN a.doc_id % 41 = 0 AND a.doc_id % 10 <> 0
                    THEN array_to_string(e.tk[1:8], ' ') END
           ], x -> x IS NOT NULL AND x <> ''), chr(10)) AS text
    FROM tk a LEFT JOIN tk e ON a.doc_id - (a.doc_id % 10) = e.doc_id
), ln AS (
    SELECT doc_id, s AS pos, ls[s] AS line
    FROM (SELECT doc_id, string_split(text, chr(10)) AS ls,
                 unnest(generate_series(1, len(string_split(text, chr(10))))) AS s
          FROM sal)
), t1 AS MATERIALIZED (
    SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
    FROM (SELECT doc_id, line, min(pos) AS pos FROM ln GROUP BY doc_id, line)
    GROUP BY doc_id
), ln2 AS (
    SELECT doc_id, s AS pos, ls[s] AS line
    FROM (SELECT doc_id, string_split(text, chr(10)) AS ls,
                 unnest(generate_series(1, len(string_split(text, chr(10))))) AS s
          FROM t1)
), flag AS (
    SELECT doc_id, pos, line,
           (n >= 4) AND NOT ((sh / CAST(greatest(n, 1) AS DOUBLE) < 0.05)
                             AND (n < 30)) AS keep
    FROM (SELECT doc_id, pos, line,
                 CASE WHEN line IS NULL OR trim(line) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(line), '\\s+')) END AS n,
                 CASE WHEN line IS NULL OR trim(line) = '' THEN 0
                      ELSE len(list_filter(regexp_split_to_array(trim(line), '\\s+'),
                               x -> list_contains({_STOP_SQL}, lower(x)))) END AS sh
          FROM ln2)
), t2 AS MATERIALIZED (
    SELECT doc_id,
           COALESCE(string_agg(line, chr(10) ORDER BY pos)
                    FILTER (WHERE keep), '') AS text
    FROM flag GROUP BY doc_id
), nrm AS MATERIALIZED (
    SELECT doc_id,
           trim(regexp_replace(
               replace(
                   translate(
                       regexp_replace(
                           regexp_replace(text,
                               '[\\x{{200B}}\\x{{200C}}\\x{{200D}}\\x{{FEFF}}]', '', 'g'),
                           '[\\x{{00}}-\\x{{08}}\\x{{0B}}\\x{{0C}}\\x{{0E}}-\\x{{1F}}\\x{{7F}}-\\x{{9F}}]',
                           '', 'g'),
                       chr(8220) || chr(8221) || chr(8216) || chr(8217)
                           || chr(8211) || chr(8212) || chr(160),
                       '""' || chr(39) || chr(39) || '-- '),
                   chr(8230), '...'),
               '\\s+', ' ', 'g')) AS ctext
    FROM t2
), gf AS (
    SELECT doc_id,
           len(lines) AS n_lines, len(words) AS n_words,
           greatest(len(lines), 1) AS snl, greatest(len(words), 1) AS snw,
           len(list_filter(lines, l -> l LIKE '- %' OR l LIKE {chr(0x2022)!r} || ' %')) AS bullet,
           len(list_filter(lines, l -> l LIKE '%...')) AS ellips,
           len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]'))) AS alpha,
           length(ctext) - length(replace(ctext, '#', '')) AS hashc,
           (length(ctext) - length(replace(ctext, '...', ''))) / 3 AS dots3,
           list_sum(list_transform(words, w -> length(w))) AS wchars,
           (CASE WHEN list_contains(words, 'the') THEN 1 ELSE 0 END
          + CASE WHEN list_contains(words, 'be') THEN 1 ELSE 0 END
          + CASE WHEN list_contains(words, 'to') THEN 1 ELSE 0 END
          + CASE WHEN list_contains(words, 'of') THEN 1 ELSE 0 END
          + CASE WHEN list_contains(words, 'and') THEN 1 ELSE 0 END
          + CASE WHEN list_contains(words, 'that') THEN 1 ELSE 0 END
          + CASE WHEN list_contains(words, 'have') THEN 1 ELSE 0 END
          + CASE WHEN list_contains(words, 'with') THEN 1 ELSE 0 END) AS stop_hits
    FROM (SELECT doc_id, ctext,
                 CASE WHEN trim(ctext) = '' THEN []
                      ELSE string_split(ctext, chr(10)) END AS lines,
                 CASE WHEN trim(ctext) = '' THEN []
                      ELSE regexp_split_to_array(trim(ctext), '\\s+') END AS words
          FROM nrm)
), gkeep AS MATERIALIZED (
    SELECT doc_id FROM gf
    WHERE n_words BETWEEN 20 AND 100000
      AND round(COALESCE(wchars, 0) / CAST(snw AS DOUBLE), 6) BETWEEN 3.0 AND 12.0
      AND round(bullet / CAST(snl AS DOUBLE), 6) <= 0.9
      AND round(ellips / CAST(snl AS DOUBLE), 6) <= 0.3
      AND round(alpha / CAST(snw AS DOUBLE), 6) >= 0.6
      AND round((hashc + dots3) / CAST(snw AS DOUBLE), 6) <= 0.1
      AND stop_hits >= 2
), kd AS MATERIALIZED (
    SELECT n.doc_id, n.ctext AS text
    FROM nrm n JOIN gkeep USING (doc_id)
    WHERE n.doc_id % 10 <> 0
), lab AS (
    SELECT doc_id,
           CASE WHEN (CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                      ELSE len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               x -> list_contains({_STOP_SQL}, lower(x)))) END)
                    / CAST(greatest(CASE WHEN text IS NULL OR trim(text) = ''
                                    THEN 0
                                    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END,
                                    1) AS DOUBLE) >= 0.10
                THEN 1 ELSE 0 END AS y
    FROM kd
    WHERE CAST(concat('0x', substr(md5('nbseed|' || CAST(doc_id AS VARCHAR)),
                      1, 13)) AS BIGINT) % 2 = 0
), g AS (
    SELECT doc_id,
           CAST(concat('0x', substr(md5('nbq' || chr(31) || tok), 1, 13))
                AS BIGINT) % 1024 AS b
    FROM (SELECT doc_id,
                 unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
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
), adm6 AS MATERIALIZED (
    SELECT doc_id FROM (
        SELECT k.doc_id,
               round(ln((cen.d1 + 1.0) / (cen.d0 + 1.0))
                     + COALESCE(per.raw, 0.0)
                     + COALESCE(per.miss, 0)
                       * (ln(1.0 / (cen.nn1 + 1024.0))
                          - ln(1.0 / (cen.nn0 + 1024.0))), 6) AS nb_score
        FROM kd k LEFT JOIN per ON k.doc_id = per.doc_id CROSS JOIN cen
    ) ORDER BY nb_score DESC, doc_id LIMIT 128
), u AS (
    SELECT doc_id,
           (['https','HTTPS','http'])[(doc_id % 3) + 1] || '://'
           || (['Media.Example.COM','media.example.com',
                'CDN.example.org','cdn.example.org'])[(doc_id % 4) + 1]
           || '/p/' || CAST(doc_id % 96 AS VARCHAR)
           || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
           || (CASE WHEN doc_id % 2 = 0
                    THEN '?b=2&id=' || CAST(doc_id % 48 AS VARCHAR) || '&utm_source=news'
                    ELSE '?id=' || CAST(doc_id % 48 AS VARCHAR) || '&b=2' END) AS url
    FROM adm6
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
), ukeep AS MATERIALIZED (
    SELECT doc_id FROM (
        SELECT doc_id, min(doc_id) OVER (PARTITION BY canonical_url) AS mn
        FROM canon
    ) WHERE doc_id = mn
), mtok AS MATERIALIZED (
    SELECT DISTINCT k.doc_id AS doc, unnest(
        regexp_split_to_array(trim(lower(k.text)), '\\s+')) AS tok
    FROM kd k JOIN ukeep USING (doc_id)
    WHERE k.text IS NOT NULL AND trim(k.text) <> ''
), mbase AS (
    SELECT doc,
           CAST(concat('0x', substr(md5('1|' || tok), 1, 15)) AS BIGINT) % 1000000007 AS h1,
           CAST(concat('0x', substr(md5('2|' || tok), 1, 15)) AS BIGINT) % 1000000007 AS h2
    FROM mtok
), msig AS MATERIALIZED (
    SELECT doc, g.h AS h, min((h1 + g.h * h2) % 1000000007) AS mh
    FROM mbase CROSS JOIN generate_series(0, 11) AS g(h)
    GROUP BY doc, g.h
), mbsig AS (
    SELECT doc, band, md5(string_agg(hmh, ',' ORDER BY hmh)) AS bs
    FROM (SELECT doc, h // 6 AS band,
                 lpad(CAST(h AS VARCHAR), 4, '0') || ':' || CAST(mh AS VARCHAR) AS hmh
          FROM msig)
    GROUP BY doc, band
), mkeep AS MATERIALIZED (
    SELECT b.doc AS doc_id
    FROM mbsig b JOIN (SELECT band, bs, min(doc) AS m
                       FROM mbsig GROUP BY band, bs) m
      ON b.band = m.band AND b.bs = m.bs
    GROUP BY b.doc HAVING min(m.m) = b.doc
), ect AS MATERIALIZED (
    SELECT n.doc_id,
           CASE WHEN n.ctext IS NULL OR trim(n.ctext) = '' THEN []
                ELSE regexp_split_to_array(trim(lower(n.ctext)), '\\s+') END AS t
    FROM nrm n
), esh AS MATERIALIZED (
    SELECT DISTINCT array_to_string(list_slice(t, i, i + 4), ' ') AS sh
    FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
          FROM ect WHERE doc_id % 10 = 0 AND len(t) >= 5)
), dirty_exact AS MATERIALIZED (
    SELECT DISTINCT c.doc_id
    FROM (SELECT e.doc_id, array_to_string(list_slice(e.t, i, i + 4), ' ') AS sh
          FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
                FROM ect WHERE len(t) >= 5) e(doc_id, t, i)
          JOIN mkeep mk ON e.doc_id = mk.doc_id) c
    JOIN esh USING (sh)
), c9 AS MATERIALIZED (
    SELECT doc_id FROM mkeep
    WHERE doc_id NOT IN (SELECT doc_id FROM dirty_exact)
), ftok AS MATERIALIZED (
    SELECT DISTINCT e.doc_id AS doc, e.doc_id % 10 = 0 AS ev, unnest(e.t) AS tok
    FROM ect e
    WHERE (e.doc_id % 10 = 0 OR e.doc_id IN (SELECT doc_id FROM c9))
      AND len(e.t) >= 1
), fbase AS (
    SELECT doc, ev,
           CAST(concat('0x', substr(md5('1|' || tok), 1, 15)) AS BIGINT) % 1000000007 AS h1,
           CAST(concat('0x', substr(md5('2|' || tok), 1, 15)) AS BIGINT) % 1000000007 AS h2
    FROM ftok
), fsig AS MATERIALIZED (
    SELECT doc, ev, g.h AS h, min((h1 + g.h * h2) % 1000000007) AS mh
    FROM fbase CROSS JOIN generate_series(0, 11) AS g(h)
    GROUP BY doc, ev, g.h
), fbsig AS (
    SELECT doc, ev, band, md5(string_agg(hmh, ',' ORDER BY hmh)) AS bs
    FROM (SELECT doc, ev, h // 6 AS band,
                 lpad(CAST(h AS VARCHAR), 4, '0') || ':' || CAST(mh AS VARCHAR) AS hmh
          FROM fsig)
    GROUP BY doc, ev, band
), fcand AS (
    SELECT DISTINCT t.doc AS td, e.doc AS ed
    FROM fbsig t JOIN fbsig e ON t.band = e.band AND t.bs = e.bs
    WHERE NOT t.ev AND e.ev
), dirty_fuzzy AS MATERIALIZED (
    SELECT DISTINCT td AS doc_id FROM (
        SELECT fcand.td, fcand.ed,
               avg(CASE WHEN s1.mh = s2.mh THEN 1.0 ELSE 0.0 END) AS ej
        FROM fcand
        JOIN fsig s1 ON s1.doc = fcand.td
        JOIN fsig s2 ON s2.doc = fcand.ed AND s2.h = s1.h
        GROUP BY fcand.td, fcand.ed
    ) WHERE ej >= 0.5
), c10 AS MATERIALIZED (
    SELECT doc_id FROM c9
    WHERE doc_id NOT IN (SELECT doc_id FROM dirty_fuzzy)
), sized AS MATERIALIZED (
    SELECT s.doc_id, s.source,
           CAST(CASE WHEN n.ctext IS NULL OR trim(n.ctext) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(n.ctext), '\\s+')) END
                AS BIGINT) AS n_tokens
    FROM c10 JOIN sal s USING (doc_id) JOIN nrm n USING (doc_id)
), cal AS (
    SELECT doc_id, source, n_tokens,
           round(percent_rank() OVER (PARTITION BY source ORDER BY n_tokens), 6)
               AS calibrated
    FROM sized
), capd AS MATERIALIZED (
    SELECT doc_id, source, n_tokens, calibrated FROM (
        SELECT *, row_number() OVER (
            PARTITION BY source ORDER BY calibrated DESC, doc_id) AS rk
        FROM cal
    ) WHERE rk <= 2
), sh AS MATERIALIZED (
    SELECT doc_id, source, n_tokens, calibrated,
           CAST(CAST(concat('0x', substr(md5('shard' || chr(31)
                || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) % 4
                AS INTEGER) AS shard,
           CAST(row_number() OVER (
               PARTITION BY CAST(concat('0x', substr(md5('shard' || chr(31)
                   || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) % 4
               ORDER BY md5('shard' || chr(31) || CAST(doc_id AS VARCHAR)), doc_id
           ) AS BIGINT) AS position
    FROM capd
)
"""


SQL_DATA_RELEASE = _SQL_CHAIN + """
SELECT doc_id, source, n_tokens, calibrated, shard, position,
       CAST(sum(n_tokens) OVER (ORDER BY shard, position
                ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS seq_start,
       CAST(floor((sum(n_tokens) OVER (ORDER BY shard, position
                ROWS UNBOUNDED PRECEDING) - n_tokens) / 128.0) AS BIGINT) AS bin
FROM sh
"""


@query("pipeline_data_release", oracle=SQL_DATA_RELEASE)
def q_pipeline_data_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    return release_stage_frames(spark, sf_dir)["final"]


SQL_RELEASE_FUNNEL = _SQL_CHAIN + """
SELECT * FROM (
    SELECT '0_input' AS stage, CAST((SELECT count(*) FROM tk) AS BIGINT) AS n_docs
    UNION ALL SELECT '1_clean', (SELECT count(*) FROM nrm)
    UNION ALL SELECT '2_gopher_train', (SELECT count(*) FROM kd)
    UNION ALL SELECT '3_nb_admit', (SELECT count(*) FROM adm6)
    UNION ALL SELECT '4_url_dedup', (SELECT count(*) FROM ukeep)
    UNION ALL SELECT '5_minhash_dedup', (SELECT count(*) FROM mkeep)
    UNION ALL SELECT '6_exact_decon', (SELECT count(*) FROM c9)
    UNION ALL SELECT '7_fuzzy_decon', (SELECT count(*) FROM c10)
    UNION ALL SELECT '8_mixture_cap', (SELECT count(*) FROM capd)
)
"""


@query("pipeline_release_funnel", oracle=SQL_RELEASE_FUNNEL)
def q_pipeline_release_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The release pipeline's AUDIT TRAIL: one row per stage with its
    surviving doc count — the funnel table a data-release sign-off
    reads next to the release itself. Reuses the capstone's stage
    frames (the heavy ones are pinned, so each count is a lookup or a
    narrow pass, not a chain re-run) and assembles the 9-row table on
    the driver (codebook class). The oracle replays the ENTIRE chain
    and re-counts every stage, so a drift that shifts a stage's
    population reds this row even when the final release hash happens
    to survive."""
    stages = release_stage_frames(spark, sf_dir)
    counts = [
        ("0_input", stages["salted"].count()),
        ("1_clean", stages["clean"].count()),
        ("2_gopher_train", stages["train"].count()),
        ("3_nb_admit", stages["admitted6"].count()),
        ("4_url_dedup", stages["url_keep"].count()),
        ("5_minhash_dedup", stages["mh_keep"].count()),
        ("6_exact_decon", stages["c9"].count()),
        ("7_fuzzy_decon", stages["c10"].count()),
        ("8_mixture_cap", stages["capd"].count()),
    ]
    return spark.createDataFrame(counts, "stage string, n_docs bigint")
