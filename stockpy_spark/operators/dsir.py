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

Scale shape: one Arrow pass tokenizes the corpus and emits per-doc
bucket counts (at most min(bigrams, n_buckets) rows per doc); it
feeds BOTH distribution estimates via a single conditional aggregate
(map-side combined, output = n_buckets rows no matter the corpus
size), and the per-bucket log-ratio table is KB-sized and broadcast
back onto the same rows; the only corpus-keyed shuffle is the per-doc
weight sum. Nothing here is quadratic and no state exceeds the bucket
table — at 100 TB the cost is the tokenize pass plus two
well-combined aggregates. Selection is a TakeOrderedAndProject top-k,
never a full sort.
"""

from __future__ import annotations

import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stockpy_spark.functions.text import tokenize_lower_row
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


def _kernel_bucket(salt: str, n_buckets: int):
    """Python-side :func:`_bucket` for :func:`dsir_bucket_doc_counts`
    (md5 over UTF-8 "salt\\x1fgram", first 13 hex chars = 52 bits, mod
    n_buckets); its tokens come from
    :func:`~stockpy_spark.functions.text.tokenize_lower_row`, so the
    pair is bit-identical to word_ngrams plus :func:`_bucket`."""
    from hashlib import md5

    pre = (salt + "\x1f").encode("utf-8")

    def bucket(gram: str) -> int:
        return int(md5(pre + gram.encode("utf-8")).hexdigest()[:13], 16) % n_buckets

    return bucket


def dsir_bucket_doc_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_target: Column,
    n_buckets: int,
    salt: str,
) -> DataFrame:
    """Per-document (``__id``, ``__tgt``, ``__b``, ``__cnt``) bucket
    counts, target flag carried, for every row of ``df``: ONE Arrow
    pass feeds both the distribution estimate (group the rows by
    bucket) and the scoring stream (filter the raw rows). Counter-
    reduced per doc, so a doc emits at most min(bigrams, n_buckets)
    rows instead of one row per bigram instance; zero-bigram docs emit
    a single (id, tgt, NULL, 0) row, the explode_outer contract, so
    every raw doc reaches the final aggregate without a backfill join.
    The rows equal ``explode_outer(word_ngrams(text, 2))`` bucketed by
    :func:`_bucket` and counted per (doc, bucket) — pinned over the
    corpus plus tokenizer edge rows in tests/test_sampling.py."""
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("__id", df.schema[id_col].dataType),
            StructField("__tgt", BooleanType()),
            StructField("__b", LongType()),
            StructField("__cnt", LongType()),
        ]
    )

    def gen(batches):
        from collections import Counter

        import pandas as pd

        bucket = _kernel_bucket(salt, n_buckets)
        for pdf in batches:
            id_o, t_o, b_o, c_o = [], [], [], []
            for did, tgt, text in zip(pdf["__id"], pdf["__tgt"], pdf["__txt"]):
                t = bool(tgt)
                toks = tokenize_lower_row(text)
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
            yield pd.DataFrame(
                {"__id": id_o, "__tgt": t_o, "__b": b_o, "__cnt": c_o}
            )

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
) -> DataFrame:
    """(id, n_bigrams, log_weight, resample_key) for every RAW row of
    ``df`` (rows where ``is_target`` is false). ``log_weight`` is the
    hashed-bigram log likelihood ratio (module docstring);
    ``resample_key = log_weight + Gumbel(md5(salt, id))`` is the
    Gumbel-max sampling key — take the k largest for DSIR's sample
    without replacement (:func:`dsir_select_topk`). Docs with fewer
    than 2 tokens carry weight 0 (an empty product of ratios) but
    still draw a Gumbel key, so short docs are sampled at the prior.

    The corpus is tokenized once, by :func:`dsir_bucket_doc_counts`:
    the word_ngrams explode it replaces is interpreted-HOF-bound (its
    transform/array_join lambdas, not the md5, which measured free),
    1.9x slower on the scan stage (BASELINE.md §4, Round-14). The
    DuckDB oracle of ``sample_dsir_weights`` is the declarative spec.
    Floats: the scoring sum adds cnt * ld per bucket where a
    per-instance sum adds ld cnt times; n*x and n-fold addition are
    not IEEE-754 identical in general, and the dp round absorbs the
    difference (a value landing exactly on a rounding boundary could
    in principle diverge; none has)."""
    # The per-doc (id, tgt, bucket, cnt) frame is lazily pinned (its
    # plan is narrow — no shuffle — so the pin costs nothing at build;
    # the census collect below is the materializing action and every
    # later branch reads the persisted blocks). The distribution
    # estimate is an integer re-aggregation of it, and the scoring
    # stream is its raw-row filter.
    doc_counts = dsir_bucket_doc_counts(
        df, text_col, id_col, is_target, n_buckets, salt
    ).transform(pin_lazy)
    # One pass estimates BOTH distributions: conditional counts per
    # bucket (map-side combined; output is n_buckets rows). The null
    # bucket (zero-bigram docs) is excluded from the models.
    stats = doc_counts.filter(F.col("__b").isNotNull()).groupBy("__b").agg(
        F.sum(F.when(F.col("__tgt"), F.col("__cnt")).otherwise(0)).alias("__ct"),
        F.sum(F.when(~F.col("__tgt"), F.col("__cnt")).otherwise(0)).alias("__cr"),
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
