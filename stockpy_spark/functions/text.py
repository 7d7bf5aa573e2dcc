"""Text-analysis column functions for LLM data pipelines.

All builtin-expression implementations (split/regexp/aggregate/transform)
— no Python UDFs — so they run JVM-side inside codegen and scale linearly
with executors. Each has an exact ANSI-SQL twin used as the DuckDB oracle
(see __spark_entry__.oracle_sql), which pins the semantics:

- tokens = regexp-split on whitespace of the trimmed text
- quality score = hand-rolled length/punct/stopword feature blend
- language-ID = argmax of per-language stopword hit counts
- fingerprint = md5 of whitespace-normalized lowercased text (md5 is
  bit-identical across engines, unlike murmur3-based F.hash)
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language
# heuristic. Deliberately small + hard-coded: the heuristic must be
# deterministic and SQL-expressible for the oracle.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is", "in", "that"),
    "es": ("el", "la", "de", "que", "y", "los", "en", "un"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "que"),
    "de": ("der", "die", "das", "und", "ein", "zu", "ist", "nicht"),
    "zh": ("的", "了", "是", "我", "不", "在", "他", "有"),
}

ENGLISH_STOPWORDS = LANG_STOPWORDS["en"]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokenize(col: Column | str) -> Column:
    """array<string> of whitespace-delimited tokens of the trimmed text.
    Empty/NULL text -> empty array."""
    c = _c(col)
    return F.when(
        c.isNull() | (F.trim(c) == ""), F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(c), r"\s+"))


# Java-regex \s is ASCII-only; Python's \s and str.split() also match
# Unicode whitespace (NBSP, thin space, \x1c-\x1f) and would tokenize
# web text differently.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def tokenize_lower_row(text: object) -> list[str]:
    """Python twin of ``tokenize(lower(col))`` for one row, for kernels
    that tokenize inside ``mapInPandas``. It mirrors the column function
    exactly: Spark's trim strips ONLY the ASCII space, the split is on
    ASCII whitespace runs, so a leading/trailing tab yields an empty edge
    token as Spark's split does; NULL and all-space text give no tokens."""
    if not isinstance(text, str):
        return []
    if text.strip(" ") == "":
        return []
    return _JAVA_WS.split(text.lower().strip(" "))


def token_count(col: Column | str) -> Column:
    """Whitespace token count (the cheap proxy for LLM token budgeting;
    multiply by ~1.3 for a BPE estimate)."""
    return F.size(tokenize(col))


def char_ngrams(col: Column | str, n: int = 3) -> Column:
    """array<string> of character n-grams (shingles) of the normalized
    text — the input unit for MinHash/SimHash near-dup. Text shorter
    than n (including empty/NULL) -> empty array; note Spark's
    ``sequence(1, 0)`` counts DOWN to [1, 0], so the short case must be
    guarded, not clamped."""
    c = F.regexp_replace(F.trim(F.lower(_c(col))), r"\s+", " ")
    return F.when(
        c.isNull() | (F.length(c) < n), F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(c) - F.lit(n - 1)),
            lambda i: c.substr(i, F.lit(n)),
        )
    )


def word_ngrams(col: Column | str, n: int = 5) -> Column:
    """array<string> of space-joined word n-grams over the lowercase
    whitespace tokens — the unit of LM bigram statistics (n=2) and of
    n-gram decontamination (n=5..13). Fewer than n tokens (including
    empty/NULL text) -> empty array."""
    t = tokenize(F.lower(_c(col)))
    return F.when(
        F.size(t) < n, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(t) - F.lit(n - 1)),
            lambda i: F.array_join(F.slice(t, i, F.lit(n)), " "),
        )
    )


def quality_features(col: Column | str) -> dict[str, Column]:
    """Document-quality features: n_chars, n_tokens, mean token length,
    punctuation ratio, stopword ratio, uppercase ratio."""
    c = _c(col)
    toks = tokenize(c)
    n_chars = F.length(F.coalesce(c, F.lit("")))
    n_tokens = F.size(toks)
    stop_hits = F.size(
        F.filter(toks, lambda t: F.lower(t).isin(*ENGLISH_STOPWORDS))
    )
    punct_chars = n_chars - F.length(
        F.regexp_replace(F.coalesce(c, F.lit("")), r"[^\w\s]", "")
    )
    upper_chars = n_chars - F.length(
        F.regexp_replace(F.coalesce(c, F.lit("")), r"[A-Z]", "")
    )
    safe_tokens = F.greatest(n_tokens, F.lit(1)).cast("double")
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_tokens": n_tokens.cast("bigint"),
        "mean_token_len": (n_chars - (n_tokens - 1)) / safe_tokens,
        "punct_ratio": punct_chars / safe_chars,
        "stopword_ratio": stop_hits / safe_tokens,
        "upper_ratio": upper_chars / safe_chars,
    }


def quality_score(col: Column | str) -> Column:
    """Scalar quality score in [0,1]: rewards reasonable length and
    stopword presence, penalizes punctuation soup. Deterministic blend —
    the exact formula matters less than it being stable and cheap."""
    f = quality_features(col)
    length_term = F.least(f["n_tokens"].cast("double") / F.lit(50.0), F.lit(1.0))
    stop_term = F.least(f["stopword_ratio"] * F.lit(5.0), F.lit(1.0))
    punct_term = F.greatest(F.lit(1.0) - f["punct_ratio"] * F.lit(4.0), F.lit(0.0))
    return F.round(
        length_term * F.lit(0.4) + stop_term * F.lit(0.3) + punct_term * F.lit(0.3), 6
    )


def language_id(col: Column | str) -> Column:
    """Stopword-hit language heuristic: tokenize, count hits per language
    list, argmax (ties broken by language code order); 'und' if no hits."""
    toks = tokenize(col)
    best_lang = F.lit("und")
    best_hits = F.lit(0)

    def _hit_filter(words: tuple[str, ...]):
        # factory closure — a default-arg lambda would look like a
        # two-arg (value, index) lambda to pyspark's HOF binder
        return lambda t: F.lower(t).isin(*words)

    for lang in sorted(LANG_STOPWORDS):
        hits = F.size(F.filter(toks, _hit_filter(LANG_STOPWORDS[lang])))
        better = hits > best_hits
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(better, hits).otherwise(best_hits)
    return best_lang


def fingerprint_md5(col: Column | str) -> Column:
    """Document fingerprint: md5 of normalized text. Engine-portable
    (identical in DuckDB/Trino/Spark), unlike murmur3 F.hash."""
    c = F.regexp_replace(F.trim(F.lower(_c(col))), r"\s+", " ")
    return F.md5(c)


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity of two array<numeric> columns, computed in
    double. Builtin zip_with/aggregate — JVM-side, no UDF."""
    ca = F.transform(_c(a), lambda x: x.cast("double"))
    cb = F.transform(_c(b), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(F.aggregate(ca, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(cb, F.lit(0.0), lambda acc, x: acc + x * x))
    # try_divide: a ZERO vector (failed encoder output — real at
    # corpus scale) has no direction and an undefined cosine — NULL,
    # which drops out of every top-k (desc NULLS LAST) and fails
    # every >= threshold, instead of killing the job with the ANSI
    # DIVIDE_BY_ZERO a plain / raises (r11 degenerate sweep)
    return F.try_divide(dot, na * nb)


# PII redaction patterns, applied in order. Written in the common
# Java-regex/RE2 subset ((?:...), \b, \d, {m,n}) so Spark and the
# DuckDB oracle redact identically.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
)


def redact_pii(col: Column | str) -> Column:
    """Redact common PII shapes (emails, NANP phone numbers, SSNs) with
    typed placeholder tags — the standard scrub stage before corpus
    release. Chained builtin regexp_replace: JVM-side, codegen, linear
    scan; patterns are deliberately conservative (no catastrophic
    backtracking, identical semantics in RE2 engines)."""
    c = _c(col)
    for pat, tag in PII_PATTERNS:
        c = F.regexp_replace(c, pat, tag)
    return c


def repetition_ratio(col: Column | str, n: int = 2) -> Column:
    """Fraction of duplicated word n-grams in [0,1] — the classic
    boilerplate/spam signal (high = the document repeats itself).
    0 for texts with fewer than n tokens. Pure array expressions:
    n-grams via transform over an index sequence, ratio via
    array_distinct — no explode, no shuffle, no UDF."""
    toks = tokenize(F.lower(_c(col)))
    sz = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), sz - F.lit(n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + F.lit(j)) for j in range(n)]
        ),
    )
    return F.when(sz < n, F.lit(0.0)).otherwise(
        F.lit(1.0)
        - F.size(F.array_distinct(grams)).cast("double")
        / F.size(grams).cast("double")
    )


ROLLING_B = 131
ROLLING_P = 1_000_000_007


def fingerprint_rolling(col: Column | str, max_chars: int = 256) -> Column:
    """Polynomial rolling hash (Rabin-Karp) of the first ``max_chars``
    codepoints: h = fold(acc * B + cp) mod P, B=131, P=1e9+7 — the
    rolling-hash fingerprint the training-pipeline brief names, as a
    complement to :func:`fingerprint_md5`. Pure builtin expressions
    (substring -> codepoint array -> F.aggregate fold): JVM-side,
    engine-portable (a SQL engine reproduces the fold bit-for-bit with
    the same arithmetic), and — unlike md5 — INCREMENTAL: appending a
    char is one multiply-add, which is what makes sliding-window
    near-dup shingles cheap at scale (the per-shingle variant rides the
    same fold).

    The cap bounds per-row cost on pathological documents; rows shorter
    than ``max_chars`` hash their full text. 64-bit safe: acc < P <
    2^30 and B*P + cp < 2^38.
    """
    cps = F.transform(
        F.split(F.substring(_c(col), 1, max_chars), ""),
        lambda ch: F.ascii(ch).cast("long"),
    )
    return F.aggregate(
        cps,
        F.lit(0).cast("long"),
        lambda acc, cp: (acc * ROLLING_B + cp) % ROLLING_P,
    )


def normalize_text(col: Column | str) -> Column:
    """Unicode hygiene — the cleanup every web corpus runs before
    tokenization, because the tokenizer treats zero-width-joined
    words and curly-quoted text as distinct types and control
    characters as real content:

    - C0/C1 control characters dropped (except tab/newline/CR, which
      are structure: kept here and folded by the whitespace collapse);
    - zero-width characters dropped (ZWSP/ZWNJ/ZWJ/BOM — the classic
      invisible-token poison);
    - typographic punctuation folded to ASCII (curly quotes, en/em
      dash, ellipsis, NBSP) so downstream fingerprints/shingles agree
      across sources that styled the same text differently;
    - whitespace runs collapsed to one space, ends trimmed.

    Pure chained builtin regexp_replace/translate — JVM-side codegen,
    linear scan, no UDF. NULL stays NULL (a missing doc is not an
    empty doc).
    """
    c = _c(col)
    # zero-width + BOM first (translate cannot delete, regexp can)
    c = F.regexp_replace(c, "[\u200b\u200c\u200d\ufeff]", "")
    # C0/C1 control chars except tab/newline/CR (whitespace, below)
    c = F.regexp_replace(c, "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]", "")
    # typographic -> ASCII: curly double/single quotes, en/em dash, NBSP
    c = F.translate(
        c,
        "\u201c\u201d\u2018\u2019\u2013\u2014\u00a0",
        "\"\"''-- ",
    )
    # ellipsis is 1 -> 3 chars, translate cannot do it
    c = F.regexp_replace(c, "\u2026", "...")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return c
