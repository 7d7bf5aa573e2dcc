"""Distributed BPE (byte-pair-encoding) merge training.

The tokenizer-training stage of an LLM data pipeline (Sennrich et al.
2016; GPT-2's byte-level variant): starting from a base symbol
inventory, repeatedly (1) count every ADJACENT symbol pair across the
corpus, (2) pick the most frequent pair, (3) merge its occurrences into
a new symbol, k times. The merge table (rank -> pair) IS the tokenizer.

Spark-first shape — the corpus never leaves the cluster and the driver
holds exactly one (pair, count) row per iteration:

* pair counting is ``explode(zip_with(seq, tail))`` + one
  map-side-combined groupBy — a narrow ~1x fan-out of the token
  stream, NOT a self-join;
* the winning pair (max count, then lexicographically smallest pair —
  a total order, so ties are deterministic) comes back via
  ``orderBy().limit(1)`` (per-partition heaps, 1 row to the driver);
* the merge applies as a builtin-expression LEFT FOLD (``aggregate``)
  over each row's symbol array: greedy left-to-right, non-overlapping
  — "a a a" under merge (a,a) becomes ["aa", "a"], the standard BPE
  convention. Per-row state only; no UDF, no Python in the hot path.

Each iteration materializes the re-segmented corpus with
``localCheckpoint`` — the same lineage-truncation discipline as the
connected-components rounds (operators/graph.py): without it iteration
k replays all k-1 previous folds over the raw corpus.

The k-round loop is driver-side control flow over fully distributed
steps, like PageRank/k-means/CC in this repo. The greedy fold is not
expressible in DuckDB 1.0 SQL (its list_reduce cannot seed a list
accumulator, and mis-evaluates struct accumulators — BASELINE.md §4),
so this family is pytest-verified against a pure-Python reference
implementation and driver-checked rows-only, like the other iterative
algorithms the SQL oracle cannot replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from stockpy_spark.operators.pinning import pin, pin_lazy

SEP = "\x1e"  # joins merged symbols; never appears in whitespace tokens


def _pair_counts(seg: DataFrame) -> DataFrame:
    """(a, b, n) for every adjacent symbol pair across the corpus."""
    pairs = seg.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("syms"), 1, F.greatest(F.size("syms") - 1, F.lit(0))),
                F.slice(F.col("syms"), 2, F.greatest(F.size("syms") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )
        ).alias("p")
    )
    return pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
        F.count(F.lit(1)).alias("n")
    )


def _apply_merge(seg: DataFrame, a: str, b: str) -> DataFrame:
    """Greedy left-to-right non-overlapping replacement of (a, b) with
    the merged symbol, as a builtin-expression fold per row."""
    merged = a + SEP + b
    empty = F.array().cast("array<string>")

    def step(acc, v):
        can = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (v == F.lit(b))
        )
        return F.when(
            can,
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(v)))

    return seg.select(
        "doc",
        F.aggregate(F.col("syms"), empty, step).alias("syms"),
    )


def train_bpe_merges(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_merges: int,
    min_count: int = 2,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges over the corpus; symbols start as
    the characters of each lowercase whitespace token (tokens are
    merge boundaries, the word-level BPE convention — pairs never span
    tokens, which is why the symbol stream restarts per token).

    Returns the merge table: (rank, left, right, pair_count) with rank
    1 = first (most frequent) merge. Stops early when no pair reaches
    ``min_count`` — a merge that fires once is noise, and the early
    stop is what bounds the loop on tiny corpora.

    Scale: each round is one narrow pair fan-out + one groupBy + a
    1-row top-k + one narrow fold — all linear in corpus size; round
    count is the caller's ``n_merges`` budget. The re-segmented corpus
    is localCheckpoint-ed per round (lineage truncation, the CC
    discipline).
    """
    from stockpy_spark.functions.text import tokenize

    seg = df.select(
        F.col(id_col).alias("doc"),
        F.explode(tokenize(F.lower(F.col(text_col)))).alias("tok"),
    ).select(
        "doc",
        # split keeps a trailing "" (limit=-1 semantics) — drop it, or
        # the empty string becomes a phantom symbol that wins tie-breaks
        F.filter(
            F.split(F.col("tok"), "(?!^)"), lambda s: s != F.lit("")
        ).alias("syms"),
    )
    seg = seg.transform(pin_lazy)

    spark = df.sparkSession
    rows = []
    for rank in range(1, n_merges + 1):
        top = (
            _pair_counts(seg)
            .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < min_count:
            break
        a, b, n = top[0]["a"], top[0]["b"], top[0]["n"]
        rows.append((rank, a, b, int(n)))
        seg = _apply_merge(seg, a, b).transform(pin)
    schema = "rank INT, left STRING, right STRING, pair_count LONG"
    return spark.createDataFrame(rows, schema).select(
        "rank",
        # merged symbols carry the internal separator; strip for output
        F.regexp_replace("left", SEP, "").alias("left"),
        F.regexp_replace("right", SEP, "").alias("right"),
        "pair_count",
    )


def apply_bpe_merges(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Segment the corpus with a learned merge table: the k merges
    apply IN RANK ORDER, each as the same greedy left-to-right fold
    used in training — but unlike training there is no pair-count
    barrier between rounds, so all k folds chain into ONE narrow
    per-row pipeline (a single stage; no shuffles, no checkpoints).

    ``merges`` holds (left, right) in rank order with symbols in their
    DISPLAY form (as train_bpe_merges returns them); internal SEP
    bookkeeping is reconstructed here, because a rank-j symbol is a
    concatenation of base characters that must match the fold state
    exactly.

    Returns (doc, sym) — one row per output symbol occurrence, the
    encoded stream a token-frequency vocabulary or a length histogram
    aggregates from.
    """
    from stockpy_spark.functions.text import tokenize

    # rebuild internal symbol forms: replay display->internal mapping
    internal: dict[str, str] = {}

    def to_internal(sym: str) -> str:
        if sym in internal:
            return internal[sym]
        if len(sym) != 1:
            raise ValueError(
                f"merge operand {sym!r} is neither a base character nor "
                "a previously learned merge — table out of order?"
            )
        return sym

    seg = df.select(
        F.col(id_col).alias("doc"),
        F.explode(tokenize(F.lower(F.col(text_col)))).alias("tok"),
    ).select(
        "doc",
        F.filter(
            F.split(F.col("tok"), "(?!^)"), lambda s: s != F.lit("")
        ).alias("syms"),
    )
    for left, right in merges:
        a, b = to_internal(left), to_internal(right)
        seg = _apply_merge(seg, a, b)
        display = left + right
        if display in internal:
            raise ValueError(
                f"display form {display!r} produced by two different "
                "merges — the table cannot be replayed from display "
                "strings alone"
            )
        internal[display] = a + SEP + b
    return seg.select(
        "doc",
        F.explode("syms").alias("s"),
    ).select("doc", F.regexp_replace("s", SEP, "").alias("sym"))


def apply_bpe_merges_arrow(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Arrow-batched fast path of :func:`apply_bpe_merges` — identical
    output (pytest-proven equivalence), ~an order of magnitude less CPU
    on long merge tables: because symbols are atomic, the greedy
    left-to-right fold over a token equals a chained C-level
    ``str.replace`` once every merged symbol is a single PLACEHOLDER
    character (Unicode private-use area, guaranteed absent from
    whitespace tokens that survive tokenize). This is the same
    fold==replace identity the text_bpe_vocab DuckDB oracle exploits,
    promoted to the execution path where the per-row expression cost
    dominates. Unlike PQ, whose Arrow kernel is its only Spark path,
    the fold version stays: it is the only path for non-integral ids
    and bit-identical beyond ASCII (restrictions below).

    Restrictions (each either checked or a documented seam):

    - merge operands must not themselves contain PUA characters
      (checked — ValueError).
    - ``id_col`` must be an integral type: the kernel materializes it
      as int64 (checked — ValueError; the fold version preserves any
      id type).
    - ASCII text is bit-identical to the fold version; beyond ASCII
      two seams exist and are accepted, not silently different:
      Python's str.lower() vs Spark's lower() can disagree on locale-
      special casings, and Python's str.split() splits on UNICODE
      whitespace while Spark's split('\\s+') (Java regex, no
      UNICODE_CHARACTER_CLASS) splits only on ASCII whitespace — a
      U+00A0-separated token pair is one token to the fold, two to
      this kernel.
    """
    import pandas as pd
    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    if not isinstance(
        id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise ValueError(
            f"apply_bpe_merges_arrow requires an integral id column; "
            f"{id_col} is {id_type.simpleString()} — use apply_bpe_merges"
        )

    internal: dict[str, str] = {}
    display_of: dict[str, str] = {}
    plan: list[tuple[str, str]] = []
    for j, (left, right) in enumerate(merges):
        ph = chr(0xE000 + j)
        for operand in (left, right):
            if any(0xE000 <= ord(c) <= 0xF8FF for c in operand):
                raise ValueError("merge operands must not use PUA chars")

        def to_int(sym: str) -> str:
            if sym in internal:
                return internal[sym]
            if len(sym) != 1:
                raise ValueError(
                    f"merge operand {sym!r} is neither a base character "
                    "nor a previously learned merge — table out of order?"
                )
            return sym

        pattern = to_int(left) + to_int(right)
        display = left + right
        if display in internal:
            raise ValueError(
                f"display form {display!r} produced by two different merges"
            )
        internal[display] = ph
        display_of[ph] = display
        plan.append((pattern, ph))

    schema = T.StructType(
        [
            T.StructField("doc", T.LongType()),
            T.StructField("sym", T.StringType()),
        ]
    )

    def batch(batches):
        for pdf in batches:
            docs: list[int] = []
            syms: list[str] = []
            for doc, text in zip(
                pdf[id_col].astype("int64"), pdf[text_col]
            ):
                if not text:
                    continue
                for tok in text.lower().split():
                    for pat, ph in plan:
                        tok = tok.replace(pat, ph)
                    for ch in tok:
                        docs.append(int(doc))
                        syms.append(display_of.get(ch, ch))
            yield pd.DataFrame({"doc": docs, "sym": syms})

    return df.select(id_col, text_col).mapInPandas(batch, schema)
