"""Corpus-level text statistics: TF-IDF term weighting.

Column-level text features (tokens, quality, language) live in
functions.text; this module holds the transforms that need corpus
aggregates. Everything is builtin expressions — one explode, two
hash aggregations, one broadcast join; no UDFs.
"""

from __future__ import annotations

import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockpy_spark.functions.text import tokenize, tokenize_lower_row
from stockpy_spark.operators.pinning import pin, pin_literal_with_rows


def tfidf_terms(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc, term, tf, df, tfidf): textbook TF-IDF over lowercase
    whitespace tokens. tf = raw term count in the doc; idf = ln(N/df)
    with N = docs containing at least one token; tfidf rounded to 6.

    Scale shape: the token explode feeds ONE (doc, term) aggregate
    (map-side combined); document frequency is a second aggregate of
    that output (already one row per doc-term, far smaller than the
    token stream); N is a 1-row broadcast. Nothing rescans the corpus.
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(tokenize(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = tf.select(F.countDistinct("doc").alias("n"))
    return (
        tf.join(dfreq, "term")  # vocabulary grows (Heaps' law): no hint
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc",
            "term",
            "tf",
            "df",
            F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 6).alias("tfidf"),
        )
    )


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    dp: int = 6,
) -> DataFrame:
    """Okapi BM25 ranked retrieval for a fixed query-term set:
    (doc, n_terms, score, rank), top-k by score (ties broken by doc id).

    idf is the Lucene-style smoothed Robertson-Sparck Jones form
    ln((N - df + 0.5) / (df + 0.5) + 1) — always positive; the tf
    saturation uses the standard (k1, b) length normalization against
    avgdl. Per-term contributions and the final score are rounded to
    ``dp`` so an independent engine replays bit-identically.

    Scale shape: one token explode feeds the (doc, term) tf aggregate;
    doc length is a second aggregate of the same token stream (both
    map-side combined); df and the (N, avgdl) scalars are aggregates of
    the already-small tf frame and broadcast. Only rows for the handful
    of query terms survive past the tf filter, so the scoring join is
    query-sized, not corpus-sized — and nothing rescans the corpus.
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(tokenize(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
    qtf = tf.filter(F.col("term").isin(query_terms))
    dfreq = qtf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        qtf.join(dfreq, "term")
        .join(dl, "doc")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            F.round(
                F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
                ),
                dp,
            ),
        )
    )
    scored = contrib.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.sum("contrib"), dp).alias("score"),
    )
    # top-k as TakeOrderedAndProject (per-partition heaps, no global
    # sort), THEN a window over the k-row survivor frame for the rank —
    # an unpartitioned row_number over the full match set would funnel
    # every matching doc through one task at corpus scale.
    top = scored.orderBy(F.col("score").desc(), F.col("doc")).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("doc"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc", "n_terms", "score", "rank"
    )


def top_terms_per_doc(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF (ties broken by
    term for determinism)."""
    from pyspark.sql.window import Window

    scored = tfidf_terms(df, text_col, id_col)
    w = Window.partitionBy("doc").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc", "term", "tfidf", "rank")
    )


def bigram_stats_kernel(
    df: DataFrame,
    text_col: str,
    id_col: str,
    emit_unigrams: bool = True,
) -> DataFrame:
    """Arrow-batched form of the tokenize -> bigram-explode ->
    ``groupBy(doc, bg)`` reduction that both perplexity scorers share
    (lm/kn were ~45 s each at sf10 as Spark expressions, per-row-CPU
    bound in the interpreted word_ngrams HOFs). One ``mapInPandas``
    pass emits (doc, bg, m, ug): for ``ug = 0``, ``bg`` is a
    space-joined word bigram and ``m`` its multiplicity in the
    document, Counter-reduced in O(tokens) per doc with ZERO shuffle
    (the expression reduction shuffles the full bigram instance
    stream to build the same rows); for ``ug = 1``, ``bg`` is a
    distinct token of the doc and ``m`` its count.

    The rows equal ``explode(word_ngrams(col, 2))`` grouped by (doc,
    bg) exactly (pinned per frame, corpus plus tokenizer edge rows, in
    tests/test_behavior_graph.py): tokenization mirrors
    functions.text.tokenize's Java semantics (space-only trim — Spark
    trim strips ASCII 0x20 only — then an ASCII-``\\s`` split that
    keeps empty edge tokens under limit=-1; Python's Unicode
    .strip()/.split() would treat NBSP/thin-space/\\x1c-\\x1f as
    separators), bigrams are the same " "-joined adjacent pairs as
    word_ngrams(col, 2), docs with < 2 tokens emit no bigram rows
    (the explode contract), and every output is an integer or an
    exact string — nothing to round. Case folding: ASCII parity is
    by construction; for non-ASCII Spark falls back to Java
    String.toLowerCase() (JVM default locale) while Python uses
    Unicode default case conversion — these agree (verified by the
    İ/ẞ/final-sigma/ǅ edge fixture) except under a locale with
    bespoke case rules (e.g. Turkish dotted/dotless I), where Spark's
    ``lower`` itself shifts and the kernel keeps the
    locale-independent answer."""
    from pyspark.sql.types import (
        ByteType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    id_type = df.schema[id_col].dataType
    schema = StructType(
        [
            StructField("doc", id_type),
            StructField("bg", StringType()),
            StructField("m", LongType()),
            StructField("ug", ByteType()),
        ]
    )

    def gen(batches):
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            doc_o, bg_o, m_o, ug_o = [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = tokenize_lower_row(text)
                if len(toks) >= 2:
                    for g, c in Counter(
                        map(" ".join, zip(toks, toks[1:]))
                    ).items():
                        doc_o.append(did)
                        bg_o.append(g)
                        m_o.append(c)
                        ug_o.append(0)
                if emit_unigrams and toks:
                    for t, c in Counter(toks).items():
                        doc_o.append(did)
                        bg_o.append(t)
                        m_o.append(c)
                        ug_o.append(1)
            yield pd.DataFrame(
                {"doc": doc_o, "bg": bg_o, "m": m_o, "ug": ug_o}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(gen, schema)


def bigram_count_partials(
    df: DataFrame,
    text_col: str,
    emit_unigrams: bool = True,
    flush_keys: int = 2_000_000,
) -> DataFrame:
    """Partition-level pre-aggregated twin of
    :func:`bigram_stats_kernel` for the COUNT-TABLE pass, where the
    doc id is irrelevant: emits (ug, bg, m) partials where ``m`` sums
    a gram's multiplicity across every document the Python worker has
    seen since the last flush — the map-side combine Spark's hash
    aggregate would give, done in the Counter itself. Downstream
    ``groupBy(ug, bg).sum(m)`` merges partials into the exact global
    counts (integer sums — order-free), so the
    shuffle input is near-vocabulary-scale instead of
    per-document-scale. ``flush_keys`` caps the in-heap Counter (a
    128 MB text split can hold ~10M distinct bigrams — an unbounded
    dict would be GBs at 100 TB splits); each flush emits partials
    and resets, trading a little dedup for bounded worker memory."""
    from pyspark.sql.types import (
        ByteType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("ug", ByteType()),
            StructField("bg", StringType()),
            StructField("m", LongType()),
        ]
    )

    def gen(batches):
        from collections import Counter

        import pandas as pd

        bg_c: Counter = Counter()
        ug_c: Counter = Counter()

        def frame():
            return pd.DataFrame(
                {
                    "ug": [0] * len(bg_c) + [1] * len(ug_c),
                    "bg": list(bg_c.keys()) + list(ug_c.keys()),
                    "m": list(bg_c.values()) + list(ug_c.values()),
                }
            )

        for pdf in batches:
            for text in pdf[text_col]:
                toks = tokenize_lower_row(text)
                if len(toks) >= 2:
                    bg_c.update(map(" ".join, zip(toks, toks[1:])))
                if emit_unigrams and toks:
                    ug_c.update(toks)
            if len(bg_c) + len(ug_c) >= flush_keys:
                yield frame()
                bg_c, ug_c = Counter(), Counter()
        if bg_c or ug_c:
            yield frame()

    return df.select(F.col(text_col)).mapInPandas(gen, schema)


def lm_perplexity_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: float = 0.5,
    dp: int = 6,
    pin_counts: bool = True,
) -> DataFrame:
    """Bigram-language-model quality scoring, the CCNet-style corpus
    filter: train add-k-smoothed bigram statistics on the corpus, score
    every document by its average bigram log-probability. Returns
    (doc, n_bigrams, avg_logprob, perplexity); LOW avg_logprob (high
    perplexity) marks boilerplate-free but incoherent text, the band a
    perplexity filter drops.

    P(w2|w1) = (c(w1 w2) + k) / (c(w1·) + k·V), with c(w1·) the count
    of bigrams starting with w1 and V the corpus vocabulary size. The
    per-doc average (and the perplexity derived from the rounded
    average) is rounded to ``dp`` so the score table replays exactly
    on a SQL engine; see the in-code note on why the per-bigram
    log-prob must NOT be.

    Scale shape: TWO Arrow passes over the corpus, no bigram
    instance-stream shuffle and no interpreted HOFs. Pass 1
    (:func:`bigram_count_partials`) feeds ONE vocabulary-scale count
    table grouped by (ug, bg) — the bigram counts c12 AND the unigram
    census from the same shuffle (V = the unigram row count: the table
    is grouped by token, so counting rows IS countDistinct, and it
    includes each document's final token, which the bigram-start table
    misses). Pass 2 (:func:`bigram_stats_kernel`) is the per-document
    (doc, bg, m) scoring stream. Context counts c(w1.) derive from c12
    (a vocabulary-sized input, not a third corpus pass), and the
    per-doc average is the multiplicity-weighted mean sum(m*lp)/sum(m)
    — algebraically the instance mean, ~ulp-identical in float. The
    DuckDB oracle of ``text_lm_perplexity`` is the declarative spec.
    """
    counts = bigram_count_partials(
        df, text_col, emit_unigrams=True
    ).groupBy("ug", "bg").agg(F.sum("m").alias("c12"))
    # distinct-collapse checkpoint (r12 dominance criterion; the sf1
    # and sf10 measurements are in BASELINE.md §4): the count table is
    # vocabulary-sized and feeds the context branch, the scoring join
    # and V — unpinned, each consumer replans the corpus pass and its
    # aggregate. EAGER side effect: the pin runs the count-table jobs
    # AT PLAN-BUILD TIME; pin_counts=False restores the lazy contract
    # at the cost of the per-consumer recompute and the
    # per-materialization determinism caveat (operators/pinning.py).
    if pin_counts:
        counts = counts.transform(pin)
    c12 = counts.where(F.col("ug") == 0).select("bg", "c12")
    vocab = (
        counts.where(F.col("ug") == 1)
        .agg(F.count(F.lit(1)).alias("V"))
    )
    per = bigram_stats_kernel(
        df, text_col, id_col, emit_unigrams=False
    ).select("doc", "bg", "m")
    c1 = (
        c12.select(
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"),
            "c12",
        )
        .groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
    )
    scored = (
        per.join(c12, "bg")
        .withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(vocab))
        # lp deliberately NOT rounded: its ln argument is built from
        # integers, so both engines see identical doubles and differ by
        # at most a libm ulp; rounding HERE would make the per-doc
        # average a multiple of 10^-dp / n_bigrams, which lands exactly
        # on round-half boundaries systematically. Round only the avg.
        .withColumn(
            "lp",
            F.log((F.col("c12") + k) / (F.col("c1") + k * F.col("V"))),
        )
    )
    return scored.groupBy("doc").agg(
        F.sum("m").alias("n_bigrams"),
        F.round(F.sum(F.col("m") * F.col("lp")) / F.sum("m"), dp).alias(
            "avg_logprob"
        ),
        F.round(
            F.exp(-F.round(F.sum(F.col("m") * F.col("lp")) / F.sum("m"), dp)),
            dp,
        ).alias("perplexity"),
    )


def ngram_contamination(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """Eval-set decontamination by n-gram overlap (the GPT-3-style
    13-gram check, here parameterized): for every eval document, how
    many of its distinct word n-grams appear anywhere in the training
    corpus and how many distinct corpus documents share one. Returns
    every eval doc: (doc, n_shared_ngrams, n_corpus_docs,
    is_contaminated) — rows with 0/false are the certified-clean set,
    which is exactly what a decontamination report must include.

    Scale shape: both sides explode to distinct (doc, ngram) pairs
    (map-side-combined distinct), then one hash equi-join on the ngram
    string and one per-eval-doc aggregate. The eval side is tiny by
    construction, so at 100 TB the join broadcasts the eval shingle
    set and the corpus stream is one linear scan — no pair
    enumeration, no driver state.
    """
    from stockpy_spark.functions.text import word_ngrams

    def shingles(frame: DataFrame, out_id: str) -> DataFrame:
        return frame.select(
            F.col(id_col).alias(out_id),
            F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias(
                "sh"
            ),
        )

    e_sh = shingles(eval_df, "doc")
    c_sh = shingles(corpus, "cid")
    hits = (
        e_sh.join(c_sh, "sh")
        .groupBy("doc")
        .agg(
            F.countDistinct("sh").alias("n_shared_ngrams"),
            F.countDistinct("cid").alias("n_corpus_docs"),
        )
    )
    return (
        eval_df.select(F.col(id_col).alias("doc"))
        .join(hits, "doc", "left")
        .select(
            "doc",
            F.coalesce("n_shared_ngrams", F.lit(0)).alias("n_shared_ngrams"),
            F.coalesce("n_corpus_docs", F.lit(0)).alias("n_corpus_docs"),
            (F.coalesce("n_shared_ngrams", F.lit(0)) > 0).alias(
                "is_contaminated"
            ),
        )
    )


def build_inverted_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_postings: int = 1000,
) -> DataFrame:
    """Posting lists: (term, df, postings) with ``postings`` the
    ascending doc-id list capped at ``max_postings`` — the build step
    of a distributed inverted index (BM25/tfidf serve from it).

    The cap is applied BEFORE any list materializes: a row_number
    window over (term) ordered by doc id streams each term's postings
    through constant state and keeps the first ``max_postings``; only
    then does collect_list run, so the head term of a Zipf corpus
    costs a bounded array, never a corpus-sized one. ``df`` is the
    TRUE document frequency (counted pre-cap over the same exchange —
    Catalyst reuses the (term)-partitioned shuffle for the window, the
    count, and the final collect). array_sort makes the collect order
    deterministic.
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(tokenize(F.lower(F.col(text_col)))).alias("term"),
    ).distinct()
    w = Window.partitionBy("term").orderBy("doc")
    ranked = toks.withColumn("__rn", F.row_number().over(w))
    return (
        ranked.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_sort(
                F.collect_list(F.when(F.col("__rn") <= max_postings, F.col("doc")))
            ).alias("postings"),
        )
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_count: int = 5,
    k: int = 50,
    dp: int = 6,
    pin_counts: bool = True,
) -> DataFrame:
    """Top-k PMI collocations (pointwise mutual information of
    adjacent word pairs — the classic phrase/vocab-design statistic:
    word2vec's phrase pass and every tokenizer-design audit rank
    candidate merges this way): PMI(x, y) = ln(c_xy * N / (c_x *
    c_y)) over corpus bigram/unigram counts, with a ``min_count``
    floor so rare co-occurrences' infinite-ish PMIs don't dominate.
    Ties (same rounded PMI) break by bigram text, so the top-k is
    deterministic.

    Scale shape: the unigram and bigram aggregates are both map-side
    combined (token- and shingle-volume in, vocabulary-sized out); the
    two unigram attachments are broadcast joins of the vocabulary
    frame; top-k is TakeOrderedAndProject. Nothing shuffles the corpus
    beyond the two count aggregates — the text_lm_perplexity cost
    profile without the per-doc scoring pass."""
    from stockpy_spark.functions.text import word_ngrams

    toks = df.select(
        F.explode(word_ngrams(F.col(text_col), 1)).alias("w")
    )
    # distinct-collapse checkpoint (r12 dominance criterion, third
    # member found by the lm/kn audit): uni is vocabulary-sized and
    # consumed by BOTH unigram attachments — unpinned, each broadcast
    # build replans the corpus tokenize + count. Same-session A/B:
    # sf1 5.45 s -> 4.48 s, sf10 53.31 s -> 36.68 s (the gap GROWS
    # with scale, which is what made the pin mandatory, not optional).
    # Eager at plan-build; pin_counts=False restores laziness (see
    # lm_perplexity_scores' note and operators/pinning.py).
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    if pin_counts:
        uni = uni.transform(pin)
    big = (
        df.select(F.explode(word_ngrams(F.col(text_col), 2)).alias("xy"))
        .groupBy("xy")
        .agg(F.count(F.lit(1)).alias("cxy"))
        .where(F.col("cxy") >= min_count)
        .select(
            "xy",
            "cxy",
            F.split("xy", " ").getItem(0).alias("x"),
            F.split("xy", " ").getItem(1).alias("y"),
        )
    )
    n_tok = toks.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        big.join(F.broadcast(uni.select(F.col("w").alias("x"), F.col("cw").alias("cx"))), "x")
        .join(F.broadcast(uni.select(F.col("w").alias("y"), F.col("cw").alias("cy"))), "y")
        .crossJoin(F.broadcast(n_tok))
        .select(
            "xy",
            F.col("cxy").cast("long").alias("pair_count"),
            F.round(
                F.log(
                    F.col("cxy").cast("double")
                    * F.col("n").cast("double")
                    / (F.col("cx").cast("double") * F.col("cy").cast("double"))
                ),
                dp,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), F.col("xy")).limit(k)


def nb_quality_classifier(
    df: DataFrame,
    text_col: str,
    id_col: str,
    labels: DataFrame,
    label_id_col: str = "doc_id",
    label_col: str = "label",
    n_buckets: int = 1024,
    alpha: float = 1.0,
    salt: str = "nbq",
    dp: int = 6,
) -> DataFrame:
    """Model-based quality filtering — the classifier stage of the
    CCNet / FineWeb-Edu recipe: train a multinomial Naive Bayes text
    classifier on a LABELED SEED (labels come from wherever the
    pipeline gets them — a heuristic, human raters, an LLM judge;
    they are an input, not this operator's business), then score the
    ENTIRE corpus with per-class log-likelihood ratios. This is the
    supervised sibling of DSIR (operators/dsir.py): DSIR contrasts two
    unlabeled DISTRIBUTIONS, this fits a labeled decision rule with a
    class prior and an out-of-vocabulary default.

    Model, textbook multinomial NB with add-``alpha`` smoothing over
    ``n_buckets`` hashed unigram features (hashing bounds the model at
    a KB no matter the corpus vocabulary):

    - per-bucket weight  w[b] = ln((n1[b]+a)/(N1+aB)) - ln((n0[b]+a)/(N0+aB))
    - unseen-bucket default  w0 = ln(a/(N1+aB)) - ln(a/(N0+aB))
      (a bucket the seed never saw still carries the smoothed ratio —
      dropping it would bias long out-of-domain docs toward the prior)
    - prior = ln((d1+a)/(d0+a)) over seed DOC counts
    - score(doc) = prior + sum over token instances of w[bucket]

    Returns EVERY row of ``df``: (id, n_tokens, nb_score, pred_quality)
    with ``nb_score`` rounded to ``dp`` and ``pred_quality = nb_score >
    0``. Empty/NULL docs score exactly the rounded prior. A label class
    absent from the seed does not crash (smoothing keeps every ratio
    finite) — the scores just collapse toward the surviving class,
    which is the honest answer to a degenerate seed.

    Scale shape: one token explode feeds BOTH training and scoring
    (ReuseExchange shares the exchange, the lm_perplexity pattern); the
    seed join is an unhinted equi-join on the doc id (labels can be
    corpus-sized — AQE broadcasts while they fit, r11 LUT policy); the
    model is ``n_buckets`` rows broadcast back onto the token stream;
    the census totals inline as literals, so the instance stream never
    carries them. No window, no pair join; driver state is the
    ``n_buckets``-row model.
    """
    from stockpy_spark.operators.dsir import _bucket

    lab = labels.select(
        F.col(label_id_col).alias("__id"),
        F.col(label_col).cast("int").alias("__y"),
    )
    grams = df.select(
        F.col(id_col).alias("__id"),
        F.explode_outer(tokenize(F.lower(F.col(text_col)))).alias("__tok"),
    ).select(
        "__id",
        F.when(
            F.col("__tok").isNotNull(),
            _bucket(F.col("__tok"), n_buckets, salt),
        ).alias("__b"),
    )

    # r17 (guide §3.3 + §2.4): labels used to be attached to the
    # TOKEN-INSTANCE stream (`grams.join(lab)` — one join row per
    # token); joining at DOC level and exploding after moves the same
    # attachment to doc-sized rows, and only labeled docs are
    # tokenized on the training side. The trained cell table is
    # BOUNDED at n_buckets rows (bucket ids are mod n_buckets), so it
    # pins as a driver-literal LocalRelation
    # (pinning.pin_literal_with_rows): the weight broadcast then
    # builds from plan literals — no shuffle-stage jobs, no leaf
    # scans — and the token grand totals fold in as exact-int
    # literals (an empty cell table keeps SQL's NULL-sum semantics).
    labeled = df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__ltxt")
    ).join(lab, "__id")
    lgrams = labeled.select(
        "__y",
        F.explode_outer(tokenize(F.lower(F.col("__ltxt")))).alias("__tok"),
    ).select(
        "__y",
        F.when(
            F.col("__tok").isNotNull(),
            _bucket(F.col("__tok"), n_buckets, salt),
        ).alias("__b"),
    )
    cells = (
        lgrams.filter(F.col("__b").isNotNull())
        .groupBy("__b")
        .agg(
            F.sum(F.when(F.col("__y") == 1, 1).otherwise(0)).alias("__n1"),
            F.sum(F.when(F.col("__y") == 0, 1).otherwise(0)).alias("__n0"),
        )
    )
    cells, table = pin_literal_with_rows(cells, n_buckets)
    if table is None:
        raise RuntimeError(f"NB cell table exceeded {n_buckets} rows")
    # the doc census is one row by construction (a global agg):
    # collecting it too makes the ENTIRE model literal — the weight
    # table derives from a LocalRelation with literal totals (no
    # census broadcast job), and prior/w0 inline as literals in the
    # final projection (no 1-row crossJoin). Every double is still
    # computed by the same JVM expressions.
    docs = lab.agg(
        F.sum(F.when(F.col("__y") == 1, 1).otherwise(0)).alias("__d1"),
        F.sum(F.when(F.col("__y") == 0, 1).otherwise(0)).alias("__d0"),
    ).collect()[0]
    lits = {
        "__t1": pc.sum(table["__n1"]).as_py(),
        "__t0": pc.sum(table["__n0"]).as_py(),
        "__d1": docs["__d1"],
        "__d0": docs["__d0"],
    }
    cen = {k: F.lit(v).cast("long") for k, v in lits.items()}
    a, b = F.lit(float(alpha)), F.lit(float(n_buckets))
    weights = cells.select(
        "__b",
        (
            F.log((F.col("__n1") + a) / (cen["__t1"] + a * b))
            - F.log((F.col("__n0") + a) / (cen["__t0"] + a * b))
        ).alias("__w"),
    )

    per_doc = (
        grams.join(F.broadcast(weights), "__b", "left")
        .groupBy("__id")
        .agg(
            F.sum(
                F.when(F.col("__b").isNotNull(), 1).otherwise(0)
            ).alias("__nt"),
            F.sum(
                F.when(
                    F.col("__b").isNotNull(), F.coalesce(F.col("__w"), F.lit(0.0))
                ).otherwise(0.0)
            ).alias("__raw"),
            F.sum(
                F.when(
                    F.col("__b").isNotNull() & F.col("__w").isNull(), 1
                ).otherwise(0)
            ).alias("__miss"),
        )
    )
    prior = F.log((cen["__d1"] + a) / (cen["__d0"] + a))
    w0 = F.log(a / (cen["__t1"] + a * b)) - F.log(a / (cen["__t0"] + a * b))
    score = F.round(prior + F.col("__raw") + F.col("__miss") * w0, dp)
    return per_doc.select(
        F.col("__id").alias(id_col),
        F.col("__nt").cast("bigint").alias("n_tokens"),
        score.alias("nb_score"),
        (score > F.lit(0.0)).alias("pred_quality"),
    )


def kn_perplexity_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    discount: float = 0.75,
    dp: int = 6,
    pin_counts: bool = True,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity (Kneser & Ney 1995;
    Chen & Goodman 1999's interpolated form with a fixed discount) —
    the statistically honest upgrade over :func:`lm_perplexity_scores`'
    add-k smoothing: instead of spreading one uniform pseudo-count
    over the vocabulary, mass discounted from seen bigrams is
    redistributed by CONTINUATION probability — how many distinct
    contexts a word follows — so "francisco" (frequent but only ever
    after "san") stops stealing probability from genuinely promiscuous
    words. The classic failure add-k cannot see.

        P(w2|w1) = max(c(w1 w2) - D, 0) / c(w1.)
                 + (D * N1+(w1 .) / c(w1.)) * (N1+(. w2) / N1+(. .))

    with D = ``discount``, N1+(w1 .) the distinct continuations of w1,
    N1+(. w2) the distinct contexts preceding w2, N1+(. .) the total
    distinct bigrams. Trained on the scored corpus itself (the
    lm_perplexity contract), so every scored bigram is seen and the
    backoff term interpolates rather than rescues. Returns (doc,
    n_bigrams, avg_logprob, kn_perplexity), the average rounded to
    ``dp`` (the per-bigram lp stays unrounded — see lm_perplexity's
    in-code note on systematic half-boundary hits).

    Scale shape, same skeleton as lm_perplexity: the per-document
    (doc, bg, m) scoring stream comes from :func:`bigram_stats_kernel`
    and the count table from :func:`bigram_count_partials`' partition
    partials (map-side combined in the Counter, so its shuffle is
    near-vocabulary-scale); no unigram census is needed, since ALL
    model tables derive from c12 (context counts, continuation
    counts, the 1-row distinct-bigram census). Every lp input is
    integer-built (D = 0.75 is exact binary), so Spark and the DuckDB
    oracle of ``text_kn_perplexity`` compute identical doubles term
    for term.
    """
    per = bigram_stats_kernel(
        df, text_col, id_col, emit_unigrams=False
    ).select("doc", "bg", "m")
    c12_base = (
        bigram_count_partials(df, text_col, emit_unigrams=False)
        .groupBy("bg")
        .agg(F.sum("m").alias("c12"))
    )
    c12 = (
        c12_base
        .select(
            "bg",
            "c12",
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("w2"),
        )
    )
    # distinct-collapse checkpoint (the r12 dominance criterion):
    # c12 is bigram-vocabulary-sized and fans out to FOUR consumers
    # (ctx, cont, tot, the scoring join) — unpinned, each replans
    # the corpus tokenize + both aggregates; measured at the
    # synthetic sf1 the pin is 16.97 s -> 7.23 s, and the sf10
    # decade ratio fell 20.0x -> 6.2x per 100x (BASELINE.md §4).
    # Eager at plan-build; pin_counts=False restores laziness (see
    # lm_perplexity_scores' note and operators/pinning.py).
    if pin_counts:
        c12 = c12.transform(pin)
    ctx = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1p1")
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p2"))
    tot = c12.agg(F.count(F.lit(1)).alias("n1tot"))
    d = F.lit(float(discount))
    # ctx/cont joins deliberately UNHINTED (r11 LUT policy): the
    # unigram vocabulary of a real web corpus is data-sized in
    # disguise (typos, URLs, numbers); AQE broadcasts while the table
    # fits and sort-merges when it doesn't. Measured equal to the
    # forced broadcast at sf1 (7.23 s vs 7.64 s).
    scored = (
        per.join(c12, "bg")
        .join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "lp",
            F.log(
                F.greatest(F.col("c12") - d, F.lit(0.0)) / F.col("c1")
                + (d * F.col("n1p1") / F.col("c1"))
                * (F.col("n1p2") / F.col("n1tot"))
            ),
        )
    )
    avg = F.round(F.sum(F.col("m") * F.col("lp")) / F.sum("m"), dp)
    return scored.groupBy("doc").agg(
        F.sum("m").alias("n_bigrams"),
        avg.alias("avg_logprob"),
        F.round(F.exp(-avg), dp).alias("kn_perplexity"),
    )


def fuzzy_decontamination(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 12,
    bands: int = 2,
    threshold: float = 0.5,
    hash_fn: str = "md5",
) -> DataFrame:
    """Near-duplicate eval decontamination — the MinHash sibling of
    :func:`ngram_contamination`: the exact n-gram rule misses a
    training document that PARAPHRASES an eval item (token swaps break
    every 5-gram while the token SET barely moves), which is exactly
    the leak reported in practice (PaLM/GPT-4-class reports
    deduplicate eval sets against training data by near-dup, not just
    exact overlap). Here every eval document is screened against the
    corpus through the flagship dedup family's own LSH index: shared
    (band, band-signature) buckets nominate candidate corpus docs, the
    signature lanes estimate Jaccard, and ``est_jaccard >=
    threshold`` flags contamination.

    Returns EVERY eval row: (doc, n_candidates, n_contaminating,
    max_est_jaccard, is_contaminated) — candidates = distinct corpus
    docs sharing any band bucket, max_est_jaccard NULL when no
    candidate (the certified-clean rows a decontamination report must
    include).

    Scale shape: signatures are the ZERO-shuffle narrow map
    (_minhash_wide); the band join is two-sided, eval x corpus, and
    eval-side-tiny (an eval suite is KB against a 100 TB corpus — AQE
    broadcasts the eval buckets); each candidate pair joins one
    signature ARRAY per side and scores it with the lane agreement
    minhash_lsh_pairs uses; the final aggregate is per-eval-doc.
    ``hash_fn="xxhash64"`` swaps the production kernel exactly as in
    the dedup family.
    """
    from stockpy_spark.operators.dedup import (
        _band_signatures,
        _lane_agreement,
        _minhash_wide,
        _signature_array,
    )

    cw = _minhash_wide(corpus, text_col, id_col, num_hashes, hash_fn)
    ew = _minhash_wide(eval_df, text_col, id_col, num_hashes, hash_fn)
    cb = _band_signatures(cw, num_hashes, bands, hash_fn).select(
        F.col("doc").alias("cdoc"), "band", "bsig"
    )
    eb = _band_signatures(ew, num_hashes, bands, hash_fn).select(
        F.col("doc").alias("edoc"), "band", "bsig"
    )
    cand = eb.join(cb, ["band", "bsig"]).select("edoc", "cdoc").distinct()
    es = _signature_array(ew, num_hashes).toDF("edoc", "esig")
    cs = _signature_array(cw, num_hashes).toDF("cdoc", "csig")
    est = cand.join(es, "edoc").join(cs, "cdoc").select(
        "edoc",
        "cdoc",
        _lane_agreement(F.col("esig"), F.col("csig"), num_hashes).alias("est_jaccard"),
    )
    per_eval = est.groupBy("edoc").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(
            F.when(F.col("est_jaccard") >= threshold, 1).otherwise(0)
        ).alias("n_contaminating"),
        F.max("est_jaccard").alias("max_est_jaccard"),
    )
    return (
        eval_df.select(F.col(id_col).alias("doc"))
        .join(per_eval, F.col("doc") == F.col("edoc"), "left")
        .select(
            "doc",
            F.coalesce(F.col("n_candidates"), F.lit(0)).cast("bigint").alias(
                "n_candidates"
            ),
            F.coalesce(F.col("n_contaminating"), F.lit(0))
            .cast("bigint")
            .alias("n_contaminating"),
            "max_est_jaccard",
            (F.coalesce(F.col("n_contaminating"), F.lit(0)) > 0).alias(
                "is_contaminated"
            ),
        )
    )
