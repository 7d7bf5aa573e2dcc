"""DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling").

The pretraining-data selection recipe: score every raw document by how
much more likely its hashed-n-gram feature profile is under a TARGET
distribution (the high-quality corpus you wish you had more of) than
under the RAW distribution, then resample the raw pool by those
importance weights. The paper's estimator, faithfully:

- features = word bigrams hashed into ``n_buckets`` buckets;
- each distribution is a bag-of-buckets unigram model with add-1
  smoothing: ``p[b] = (count_target[b] + 1) / (total_target +
  n_buckets)``, same for raw;
- per-doc importance weight ``log w = sum over the doc's bigrams of
  (ln p[bucket] - ln q[bucket])``;
- selection = Gumbel top-k over ``log w + g_i`` (Gumbel-max sampling
  without replacement), with the Gumbel draw seeded from md5 of the
  doc id — a pure function of (salt, id), so reruns and the SQL
  oracle reproduce the exact sample (the same determinism-over-CSPRNG
  trade every sampler in operators/sampling.py makes).

Scale shape: one bigram explode (shingle-volume, the minhash profile)
feeds BOTH distribution estimates via a single conditional aggregate
(map-side combined, output = n_buckets rows no matter the corpus
size); the per-bucket log-ratio table is KB-sized and broadcast back
onto the exploded grams; the only corpus-keyed shuffle is the per-doc
weight sum. Nothing here is quadratic and no state exceeds the bucket
table — at 100 TB the cost is the explode plus two well-combined
aggregates. Selection is a TakeOrderedAndProject top-k, never a full
sort.
"""

from __future__ import annotations

import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stockpy_spark.functions.text import word_ngrams
from stockpy_spark.operators.pinning import pin_lazy, pin_literal_with_rows
from stockpy_spark.operators.privacy import _hash_uniform


def _bucket(gram: Column, n_buckets: int, salt: str) -> Column:
    """Portable hash bucket: md5 of the salted gram, first 13 hex chars
    (52 bits — exactly representable everywhere), mod n_buckets. Same
    derivation family as sampling._hash_bucket. An earlier draft of
    this docstring prescribed "swap for xxhash64 at 100 TB" — MEASURED
    WRONG in r11: at sf1 the whole bucket pass costs 5.6 s with md5
    and 5.5 s with xxhash64; the wall is the bigram-string
    materialization in the explode, not the hash (and a string-free
    token-pair xxhash64 HOF variant measured SLOWER, 7.6 s — the
    per-element lambda overhead exceeds the string build). The
    md5/oracle path IS the fast path."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("\x1f", F.lit(salt), gram)), 1, 13
            ),
            16,
            10,
        ).cast("long")
        % F.lit(n_buckets)
    )


def _kernel_tokens_and_buckets(salt: str, n_buckets: int):
    """Shared Python-side tokenize + bucket for the DSIR kernels —
    bit-identical to the expression path: tokenization mirrors
    functions.text.tokenize's Java semantics (space-only trim, ASCII
    \\s split — see bigram_stats_kernel), bucketing mirrors
    :func:`_bucket` (md5 over UTF-8 "salt\\x1fgram", first 13 hex
    chars = 52 bits, mod n_buckets)."""
    import re
    from hashlib import md5

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    pre = (salt + "\x1f").encode("utf-8")

    def tokens(text):
        if not isinstance(text, str):
            return []
        if text.strip(" ") == "":
            return []
        return ws.split(text.lower().strip(" "))

    def bucket(gram: str) -> int:
        return int(md5(pre + gram.encode("utf-8")).hexdigest()[:13], 16) % n_buckets

    return tokens, bucket


def dsir_bucket_partials(
    df: DataFrame,
    text_col: str,
    is_target: Column,
    n_buckets: int,
    salt: str,
) -> DataFrame:
    """Partition-level (``__tgt``, ``__b``, ``__cnt``) bucket-count
    partials — the DISTRIBUTION-ESTIMATE input, Counter-combined per
    partition (at most 2*n_buckets keys live per worker, so no flush
    cap is needed), so the downstream ``groupBy(__b)`` shuffles
    KBs regardless of corpus size. r14 attribution (BASELINE.md
    "Round-14: sample_dsir_weights attribution + kernel"; the probe
    script is in commit e029af0, tools/dsir_probe.py): the expression
    explode+bucket scan is interpreted-HOF-bound
    (5.9 s vs a 3.1 s kernel at sf1 — the word_ngrams transform/
    array_join lambdas, not the md5, which measured free), while a
    per-DOC kernel feeding this aggregate loses Spark's map-side
    combine and regresses (11.6 s) — hence this dedicated partial
    mode for the stats branch only."""
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("__tgt", BooleanType()),
            StructField("__b", LongType()),
            StructField("__cnt", LongType()),
        ]
    )

    def gen(batches):
        from collections import Counter

        import pandas as pd

        tokens, bucket = _kernel_tokens_and_buckets(salt, n_buckets)
        cnt: Counter = Counter()
        for pdf in batches:
            for tgt, text in zip(pdf["__tgt"], pdf["__txt"]):
                toks = tokens(text)
                if len(toks) < 2:
                    continue  # stats excludes the null bucket anyway
                t = bool(tgt)
                for g in map(" ".join, zip(toks, toks[1:])):
                    cnt[(t, bucket(g))] += 1
        if cnt:
            yield pd.DataFrame(
                [(t, b, c) for (t, b), c in cnt.items()],
                columns=["__tgt", "__b", "__cnt"],
            )

    return df.select(
        is_target.alias("__tgt"), F.col(text_col).alias("__txt")
    ).mapInPandas(gen, schema)


def dsir_bucket_doc_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_target: Column,
    n_buckets: int,
    salt: str,
    raw_only: bool = True,
    tag_target: bool = False,
) -> DataFrame:
    """Per-document (``__id``, ``__b``, ``__cnt``) bucket counts — the
    SCORING-stream input (the per-doc weight sum needs doc identity).
    Counter-reduced per doc, so a doc emits at most min(bigrams,
    n_buckets) rows instead of one row per bigram instance; zero-bigram
    docs emit a single (id, NULL, 0) row, the explode_outer contract,
    so every raw doc reaches the final aggregate without a backfill
    join. ``raw_only`` skips target docs before tokenizing — the
    expression path pays the explode for both sides and filters after.
    ``tag_target`` (r17) additionally emits the ``__tgt`` flag per row
    so ONE pass can feed both the distribution estimate (group the
    tagged rows by bucket) and the scoring stream (filter the raw
    rows) — callers pass ``raw_only=False`` with it; the per-doc
    Counter rows partial-aggregate to the same KB bucket shuffle the
    partials kernel produced."""
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StructField,
        StructType,
    )

    id_type = df.schema[id_col].dataType
    schema = StructType(
        [StructField("__id", id_type)]
        + ([StructField("__tgt", BooleanType())] if tag_target else [])
        + [
            StructField("__b", LongType()),
            StructField("__cnt", LongType()),
        ]
    )

    def gen(batches):
        from collections import Counter

        import pandas as pd

        tokens, bucket = _kernel_tokens_and_buckets(salt, n_buckets)
        for pdf in batches:
            id_o, t_o, b_o, c_o = [], [], [], []
            for did, tgt, text in zip(pdf["__id"], pdf["__tgt"], pdf["__txt"]):
                t = bool(tgt)
                if raw_only and t:
                    continue
                toks = tokens(text)
                if len(toks) < 2:
                    id_o.append(did)
                    t_o.append(t)
                    b_o.append(None)
                    c_o.append(0)
                    continue
                for b, c in Counter(
                    bucket(g) for g in map(" ".join, zip(toks, toks[1:]))
                ).items():
                    id_o.append(did)
                    t_o.append(t)
                    b_o.append(b)
                    c_o.append(c)
            out = {"__id": id_o}
            if tag_target:
                out["__tgt"] = t_o
            out["__b"] = b_o
            out["__cnt"] = c_o
            yield pd.DataFrame(out)

    return df.select(
        F.col(id_col).alias("__id"),
        is_target.alias("__tgt"),
        F.col(text_col).alias("__txt"),
    ).mapInPandas(gen, schema)


def dsir_importance_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_target: Column,
    n_buckets: int = 1024,
    salt: str = "dsir",
    dp: int = 6,
    use_kernel: bool = True,
) -> DataFrame:
    """(id, n_bigrams, log_weight, resample_key) for every RAW row of
    ``df`` (rows where ``is_target`` is false). ``log_weight`` is the
    hashed-bigram log likelihood ratio (module docstring);
    ``resample_key = log_weight + Gumbel(md5(salt, id))`` is the
    Gumbel-max sampling key — take the k largest for DSIR's sample
    without replacement (:func:`dsir_select_topk`). Docs with fewer
    than 2 tokens carry weight 0 (an empty product of ratios) but
    still draw a Gumbel key, so short docs are sampled at the prior."""
    if use_kernel:
        # r14 kernel path (BASELINE.md "Round-14: sample_dsir_weights
        # attribution + kernel"): the explode+bucket scan was
        # interpreted-HOF-bound — word_ngrams' transform/array_join
        # lambdas, NOT the md5 or the aggregate —
        # so both corpus scans move to Arrow kernels (1.9x on the scan
        # stage). The stats branch takes partition-level partials
        # (keeps the map-side combine); the scoring branch takes
        # per-doc bucket counts (keeps doc identity, drops target
        # docs before tokenizing). Bit-exact bucket/tokenize parity
        # with the expression path is pytest-pinned. The float weight
        # branch is PARITY-BY-TEST, not by construction: the kernel
        # sums cnt * ld where the expression path adds ld once per
        # instance, and n*x vs n-fold addition is not IEEE-754
        # identical in general — both paths are already order-
        # nondeterministic under Spark aggregation, and the dp=6
        # round absorbs the difference (a value landing exactly on a
        # rounding boundary could in principle diverge; none has).
        # r17 (guide §1.2: the corpus was tokenized TWICE — once by the
        # partials kernel for the distribution estimate, once by the
        # doc-counts kernel for scoring; and the r16 eager census pin
        # was a blocking plan-build job that cost more than it saved
        # at bench scale). ONE tagged doc-counts pass now feeds both:
        # the per-doc (id, tgt, bucket, cnt) frame is lazily pinned
        # (its plan is narrow — no shuffle — so the lazy pin costs
        # nothing at build; the census collect below is the
        # materializing action and every later branch reads the
        # persisted blocks), the distribution estimate is an integer
        # re-aggregation of the SAME per-doc counts the partials
        # kernel Counter-combined (identical sums), and the scoring
        # stream is the raw-row filter of the same frame.
        doc_counts = dsir_bucket_doc_counts(
            df, text_col, id_col, is_target, n_buckets, salt,
            raw_only=False, tag_target=True,
        ).transform(pin_lazy)
        stats = doc_counts.filter(F.col("__b").isNotNull()).groupBy("__b").agg(
            F.sum(F.when(F.col("__tgt"), F.col("__cnt")).otherwise(0)).alias("__ct"),
            F.sum(F.when(~F.col("__tgt"), F.col("__cnt")).otherwise(0)).alias("__cr"),
        )
    else:
        tagged = df.select(
            F.col(id_col).alias("__id"),
            is_target.alias("__tgt"),
            F.col(text_col).alias("__txt"),
        )
        # explode_OUTER keeps zero-bigram docs as one null-gram row, so
        # the per-doc aggregate below covers every raw doc and no
        # corpus-sized re-join is needed to backfill them (the
        # join-based first draft cost a SortMergeJoin + 2 extra
        # shuffles for exactly those rows).
        grams = tagged.select(
            "__id",
            "__tgt",
            F.explode_outer(word_ngrams("__txt", 2)).alias("__gram"),
        ).select(
            "__id",
            "__tgt",
            F.when(
                F.col("__gram").isNotNull(),
                _bucket(F.col("__gram"), n_buckets, salt),
            ).alias("__b"),
        )

        # One pass estimates BOTH distributions: conditional counts per
        # bucket (map-side combined; output is n_buckets rows). The
        # null bucket (empty docs) is excluded from the models.
        stats = grams.filter(F.col("__b").isNotNull()).groupBy("__b").agg(
            F.sum(F.when(F.col("__tgt"), 1).otherwise(0)).alias("__ct"),
            F.sum(F.when(~F.col("__tgt"), 1).otherwise(0)).alias("__cr"),
        )
    # r16 pinned the n_buckets-row census (guide §2.4 — unpinned, the
    # corpus bucket pass replayed once per consumer); r17 upgrades the
    # pin to a driver-literal (pinning.pin_literal_with_rows): the
    # census is BOUNDED at n_buckets rows (bucket ids are mod
    # n_buckets), so it embeds as a LocalRelation, the grand totals
    # fold in as exact-int literals (NULL for an empty census, SQL's
    # sum semantics), and the log-ratio broadcast builds driver-side
    # with zero jobs.
    stats, table = pin_literal_with_rows(stats, n_buckets)
    if table is None:
        raise RuntimeError(f"DSIR bucket census exceeded {n_buckets} rows")
    _T = pc.sum(table["__ct"]).as_py()
    _R = pc.sum(table["__cr"]).as_py()
    log_ratio = stats.select(
        "__b",
        (
            F.log(
                (F.col("__ct") + 1).cast("double")
                / (F.lit(_T).cast("long") + n_buckets).cast("double")
            )
            - F.log(
                (F.col("__cr") + 1).cast("double")
                / (F.lit(_R).cast("long") + n_buckets).cast("double")
            )
        ).alias("__ld"),
    )

    gumbel = -F.log(-F.log(_hash_uniform(F.col("__id"), salt + "-g")))
    if use_kernel:
        scored = (
            doc_counts.filter(~F.col("__tgt"))
            .drop("__tgt")
            .join(F.broadcast(log_ratio), "__b", "left")
            .groupBy("__id")
            .agg(
                # sum of per-bucket multiplicities == the instance count
                F.sum("__cnt").alias("__n"),
                # 0-cnt null-bucket row: 0 * NULL ld = NULL, summed to
                # NULL, coalesced — the explode_outer contract
                F.coalesce(
                    F.sum(F.col("__cnt") * F.col("__ld")), F.lit(0.0)
                ).alias("__lw"),
            )
        )
    else:
        scored = (
            grams.filter(~F.col("__tgt"))
            .join(F.broadcast(log_ratio), "__b", "left")
            .groupBy("__id")
            .agg(
                F.count("__b").alias("__n"),  # count() skips the null row
                F.coalesce(F.sum("__ld"), F.lit(0.0)).alias("__lw"),
            )
        )
    return scored.select(
        F.col("__id").alias(id_col),
        F.col("__n").cast("long").alias("n_bigrams"),
        F.round("__lw", dp).alias("log_weight"),
        F.round(F.col("__lw") + gumbel, dp).alias("resample_key"),
    )


def dsir_select_topk(weights: DataFrame, id_col: str, k: int) -> DataFrame:
    """The resampling step: k largest Gumbel keys = a without-
    replacement draw proportional to the importance weights (Gumbel-max
    trick). Plans as TakeOrderedAndProject — no global sort; ties
    (md5-improbable) break by id for determinism."""
    return weights.orderBy(
        F.col("resample_key").desc(), F.col(id_col)
    ).limit(k)
