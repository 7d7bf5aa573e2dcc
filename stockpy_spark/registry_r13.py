"""Round-13 capstone: the full data-release curation pipeline.

One oracle-backed query chaining the complete curation DAG a training
data release actually signs off on (r12 verdict Next #7 — the
superset of pipeline_web_curation / pipeline_clean_corpus):

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

The DuckDB oracle replays the ENTIRE chain, so a drift in any stage
reds the release row, not just that stage's own query. Every stage is
load-bearing at sf0.01: the line stages rewrite every doc (nav line
injected twice, template dup), normalize rewrites every doc (curly
quotes + ellipsis char), gopher drops ~30%, NB caps at 128, URL dedup
collapses period-96 congruence classes, MinHash drops the corpus's
natural near-dups, exact decon drops the PLANTED leak (train docs
d%41==0 carry their decade's eval doc lead 8-gram), fuzzy decon drops
near-paraphrases of eval docs, and the per-source cap trims dominant
sources. Stage order note: the line operators need lines, and
normalize_text collapses newlines — so normalization runs AFTER the
line stages here; same stage set as the C4/RefinedWeb ordering, one
transposition forced by the whitespace-collapse semantics.

Scale shape: every stage is the library operator with its documented
plan (bucketed/semi-join dedups, no pair enumeration, narrow text
maps); the inter-stage frames that fan out are doc-ID SETS (KB-scale)
pinned per operators/pinning.py, while the cleaned text re-derives as
a narrow map — at 100 TB a real run would materialize the cleaned
corpus between stages, which is exactly what the pin generalizes to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from stockpy_spark.operators.pinning import pin, pin_literal
from stockpy_spark.registry_ext import _STOP_SQL, _t


def q_pipeline_data_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    return release_stage_frames(spark, sf_dir)["final"]


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


R13_QUERIES: dict[str, tuple] = {
    "pipeline_data_release": (q_pipeline_data_release, SQL_DATA_RELEASE),
    "pipeline_release_funnel": (q_pipeline_release_funnel, SQL_RELEASE_FUNNEL),
}
