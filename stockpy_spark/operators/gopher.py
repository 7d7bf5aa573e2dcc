"""Gopher-style within-document repetition battery (Rae et al. 2021,
"Scaling Language Models: ... Gopher", Appendix A quality filters).

The corpus-level span family (``dedup.duplicated_span_coverage`` /
``remove_duplicated_spans``) finds text repeated ACROSS documents; the
Gopher repetition rules score text a document repeats WITHIN itself —
the listing-spam / keyword-stuffing / template-loop signal used to
filter web corpora before training. The two char-weighted families
here are the ones the shelf lacked:

- ``top{n}_char_frac`` (n = 2, 3, 4): fraction of the document's
  characters covered by occurrences of its single MOST FREQUENT word
  n-gram (ties broken to the lexicographically smallest gram, so the
  statistic is deterministic);
- ``dup{n}_char_frac`` (n = 5, 10): fraction of characters covered by
  word n-grams occurring MORE THAN ONCE in the document.

Character accounting follows the paper's "taking care not to count
characters twice": overlapping occurrences are interval-UNIONED over
token positions, and a covered position contributes its token's
length. "Characters" are token characters (inter-token whitespace
excluded) of the lowercased whitespace tokenization — an exact,
engine-portable definition.

Scale shape: one ``mapInPandas`` pass computes every statistic per
document in Python, counting grams with a Counter in O(nt) — a
ZERO-shuffle narrow map with document-sized state, so at 100 TB it
scales with scan bandwidth and never re-keys the data (the per-doc
groupBy alternative would shuffle the entire corpus by doc_id for
state the size of one document). A Spark higher-order-function form
of the same statistics was the corpus-worst CPU query (an O(nt^2)
per-position count pass, every HOF interpreted per element):
25.4 s against this pass's 1.5 s at sf1 (BASELINE.md §4, Round-13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stockpy_spark.functions.text import tokenize_lower_row


# The 8 words Gopher's "required stopwords" rule checks for (Rae et al.
# 2021, App. A: a document must contain at least 2 of these).
GOPHER_REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_rules(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    max_symbol_ratio: float = 0.1,
    min_stop_hits: int = 2,
    dp: int = 6,
) -> DataFrame:
    """The Gopher document-quality rule battery (Rae et al. 2021 App. A
    — the line- and word-shape gates, complementing the repetition
    battery above and the token-ratio features in functions/text.py):

    - ``bullet_line_frac``: lines starting with a bullet ("- "/"• ");
    - ``ellipsis_line_frac``: lines ending with "...";
    - ``alpha_word_frac``: words containing >= 1 ASCII letter;
    - ``symbol_word_ratio``: ('#' chars + non-overlapping "..."
      occurrences) / words;
    - ``mean_word_len``; ``stop_hits`` = how many of the paper's 8
      required stopwords appear; and ``keep`` (int 0/1) = all gates at
      the paper's default thresholds.

    Same scale shape as :func:`gopher_repetition_profile`: zero
    shuffle, zero explode, one narrow pass; intermediates (lines,
    words) are materialized per select stage so no lambda re-derives
    them per element. Lines are ``\\n``-separated; words are the
    whitespace tokens of the raw text (newlines included in ``\\s``).
    Every input row gets an output row; empty/NULL docs score 0 on
    every fraction and fail ``keep`` on the min-words gate."""
    feats, keep = _gopher_gate(
        df.select(F.col(id_col).alias("__id"), F.col(text_col)),
        text_col,
        ["__id"],
        min_words, max_words, min_mean_word_len, max_mean_word_len,
        max_bullet_frac, max_ellipsis_frac, min_alpha_frac,
        max_symbol_ratio, min_stop_hits, dp,
    )
    return feats.select(
        F.col("__id").alias(id_col),
        "n_lines",
        "n_words",
        "bullet_line_frac",
        "ellipsis_line_frac",
        "alpha_word_frac",
        "symbol_word_ratio",
        "mean_word_len",
        "stop_hits",
        keep.cast("int").alias("keep"),
    )


def gopher_keep_filter(
    df: DataFrame,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    max_symbol_ratio: float = 0.1,
    min_stop_hits: int = 2,
    dp: int = 6,
) -> DataFrame:
    """``df`` filtered to the rows :func:`gopher_quality_rules` would
    flag ``keep == 1`` — same gates, built by the SAME expression
    builder (bit-identical by construction), applied as a narrow
    filter instead of computing a (id, keep) frame and equi-joining it
    back onto the very frame it came from. The rule battery is
    zero-shuffle, so for the "keep the survivors of this frame" use
    (the release pipeline's Gopher stage) the join formulation pays
    two data-sized exchanges for nothing (guide §2.4). Caller columns
    must not collide with the gate's internals (``__txt``/``__lines``/
    ``__words`` and the feature names); column order is preserved."""
    feats, keep = _gopher_gate(
        df, text_col, list(df.columns),
        min_words, max_words, min_mean_word_len, max_mean_word_len,
        max_bullet_frac, max_ellipsis_frac, min_alpha_frac,
        max_symbol_ratio, min_stop_hits, dp,
    )
    return feats.where(keep).select(*df.columns)


def _gopher_gate(
    df: DataFrame,
    text_col: str,
    carry: list,
    min_words: int,
    max_words: int,
    min_mean_word_len: float,
    max_mean_word_len: float,
    max_bullet_frac: float,
    max_ellipsis_frac: float,
    min_alpha_frac: float,
    max_symbol_ratio: float,
    min_stop_hits: int,
    dp: int,
) -> tuple:
    """Shared staged builder for the Gopher gate: returns ``(feats,
    keep)`` where ``feats`` carries the ``carry`` columns plus the
    eight feature columns and ``keep`` is the boolean gate over them.
    Both public entry points above delegate here so the filter and
    the feature-frame forms can never drift apart."""
    base = df.select(
        *[F.col(c) for c in carry],
        F.coalesce(F.col(text_col), F.lit("")).alias("__txt"),
    ).select(
        *[F.col(c) for c in carry],
        "__txt",
        F.when(
            F.trim("__txt") == "", F.array().cast("array<string>")
        ).otherwise(F.split("__txt", "\n")).alias("__lines"),
        F.when(
            F.trim("__txt") == "", F.array().cast("array<string>")
        ).otherwise(F.split(F.trim("__txt"), r"\s+")).alias("__words"),
    )

    nl, nw = F.size("__lines"), F.size("__words")
    safe_nl = F.greatest(nl, F.lit(1)).cast("double")
    safe_nw = F.greatest(nw, F.lit(1)).cast("double")
    txt = F.col("__txt")

    bullet = F.size(
        F.filter(
            "__lines",
            lambda l: l.startswith("- ") | l.startswith("• "),
        )
    )
    ellips = F.size(F.filter("__lines", lambda l: l.endswith("...")))
    alpha = F.size(F.filter("__words", lambda w: w.rlike("[a-zA-Z]")))
    hash_chars = F.length(txt) - F.length(F.regexp_replace(txt, "#", ""))
    dots3 = (
        F.length(txt) - F.length(F.replace(txt, F.lit("...")))
    ) / F.lit(3)
    word_chars = F.aggregate(
        F.transform("__words", lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    stop_hits = sum(
        F.when(F.array_contains("__words", s), 1).otherwise(0)
        for s in GOPHER_REQUIRED_STOPWORDS
    )

    feats = base.select(
        *[F.col(c) for c in carry],
        nl.cast("long").alias("n_lines"),
        nw.cast("long").alias("n_words"),
        F.round(bullet / safe_nl, dp).alias("bullet_line_frac"),
        F.round(ellips / safe_nl, dp).alias("ellipsis_line_frac"),
        F.round(alpha / safe_nw, dp).alias("alpha_word_frac"),
        F.round((hash_chars + dots3) / safe_nw, dp).alias("symbol_word_ratio"),
        F.round(word_chars / safe_nw, dp).alias("mean_word_len"),
        stop_hits.cast("int").alias("stop_hits"),
    )
    keep = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("bullet_line_frac") <= max_bullet_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_frac)
        & (F.col("alpha_word_frac") >= min_alpha_frac)
        & (F.col("symbol_word_ratio") <= max_symbol_ratio)
        & (F.col("stop_hits") >= min_stop_hits)
    )
    return feats, keep


def gopher_repetition_profile(
    df: DataFrame,
    text_col: str,
    id_col: str,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 10),
    dp: int = 6,
) -> DataFrame:
    """Per-document Gopher repetition statistics (module docstring):
    (id, n_tokens, total_chars, top{n}_char_frac ..., dup{n}_char_frac
    ...) for EVERY input row, the id keeping its input type; docs too
    short for a given n (or empty) score 0.0 on that statistic.

    Every intermediate is integer arithmetic (token lengths, interval
    unions, counts) and the final division is of two exact longs,
    rounded HALF_UP at ``dp`` via Decimal — bit-for-bit the
    ``BigDecimal.setScale(dp, HALF_UP)`` Spark's ``round`` applies.
    The ``text_gopher_repetition`` DuckDB oracle is the declarative
    spec; tokenizer and rounding-tie rows are pinned in
    tests/test_r6c_ops.py."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField(id_col, id_type),
            StructField("n_tokens", LongType()),
            StructField("total_chars", LongType()),
        ]
        + [StructField(f"top{n}_char_frac", DoubleType()) for n in top_ns]
        + [StructField(f"dup{n}_char_frac", DoubleType()) for n in dup_ns]
    )
    cols = [f.name for f in out_schema.fields]
    all_ns = sorted(set(top_ns) | set(dup_ns))

    def gen(batches):
        from collections import Counter
        from decimal import ROUND_HALF_UP, Decimal

        import pandas as pd

        quantum = Decimal(1).scaleb(-dp)

        def rnd(x: float) -> float:
            # Spark round() goes through BigDecimal.valueOf(double) =
            # the SHORTEST decimal repr (Double.toString); Decimal(x)
            # on the raw float is the exact binary expansion, which
            # disagrees HALF_UP at dp-digit ties (1/3200 = 0.0003125
            # shortest, 0.000312499999...98 exact). repr() is Python's
            # shortest round-trip repr — the BigDecimal.valueOf twin.
            return float(
                Decimal(repr(x)).quantize(quantum, rounding=ROUND_HALF_UP)
            )

        def coverage(starts, lens, n):
            prev = 0
            chars = 0
            for s in starts:  # starts ascending by construction
                lo = max(s, prev)
                hi = s + n
                if hi > lo:
                    chars += sum(lens[lo:hi])
                    prev = hi
            return chars

        for pdf in batches:
            out = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = tokenize_lower_row(text)
                nt = len(toks)
                lens = [len(t) for t in toks]
                tot = sum(lens)
                row = [did, nt, tot]
                grams = {}
                counts = {}
                for n in all_ns:
                    g = (
                        [" ".join(toks[i : i + n]) for i in range(nt - n + 1)]
                        if nt >= n
                        else []
                    )
                    grams[n] = g
                    counts[n] = Counter(g)
                for n in top_ns:
                    if nt < n or tot == 0:
                        row.append(0.0)
                        continue
                    mx = max(counts[n].values())
                    best = min(g for g, c in counts[n].items() if c == mx)
                    starts = [i for i, g in enumerate(grams[n]) if g == best]
                    row.append(rnd(coverage(starts, lens, n) / tot))
                for n in dup_ns:
                    if nt < n or tot == 0:
                        row.append(0.0)
                        continue
                    cn = counts[n]
                    starts = [
                        i for i, g in enumerate(grams[n]) if cn[g] > 1
                    ]
                    row.append(rnd(coverage(starts, lens, n) / tot))
                out.append(row)
            yield pd.DataFrame(out, columns=cols)

    return df.select(id_col, text_col).mapInPandas(gen, out_schema)
