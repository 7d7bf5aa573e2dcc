"""Exact set-similarity self-join with prefix filtering — the EXACT
counterpart of the MinHash/LSH near-dup path (operators/dedup.py).

LSH answers "probably similar" with tunable recall; a curation pipeline
that must certify *exact* Jaccard >= t (contracts, eval-set hygiene,
legal dedup) needs the all-pairs-equivalent join without the all-pairs
cost. The standard solution is prefix filtering (Chaudhuri et al.,
"A Primitive Operator for Similarity Joins", ICDE 2006; Bayardo et al.,
"Scaling Up All Pairs Similarity Search", WWW 2007; Xiao et al.,
"Efficient Similarity Joins for Near Duplicate Detection", WWW 2008 —
PPJoin): order every record's token set by a GLOBAL total order
(ascending document frequency, so prefixes hold the rarest tokens),
keep only the first p = s - ceil(t*s) + 1 tokens, and observe that two
sets with Jaccard >= t MUST share at least one prefix token. Candidate
generation becomes an equi-join on prefix tokens; exact verification
runs only on candidates.

``set_jaccard_pairs`` is the one kernel; ``jaccard_similarity_join``
here and ``dedup.word_jaccard_pairs`` / ``dedup.ngram_jaccard_pairs``
only build the token sets and apply their own threshold test and
output shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockpy_spark.functions.text import tokenize


def word_sets(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, toks): each document's distinct lowercase word tokens."""
    return df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(tokenize(F.lower(F.col(text_col)))).alias("toks"),
    )


def set_jaccard_pairs(sets: DataFrame, threshold: float) -> DataFrame:
    """Verified candidate pairs of an exact set-Jaccard self-join.

    ``sets`` is (id, toks) with ``toks`` a DISTINCT token array. Returns
    (id_a, id_b, n_inter, n_union) with id_a < id_b for every pair that
    shares a token and may reach Jaccard ``threshold``; the caller
    applies its own final test on n_inter / n_union. Empty sets never
    pair.

    Spark-first shape (vs the papers' single-node inverted index):

    1. explode the tokens, one groupBy for document frequency;
    2. the global order (document frequency asc, token asc) is a
       ``row_number`` over each document's own tokens — a window
       partitioned by id, never an unpartitioned rank over the
       vocabulary; only the first p ranks are kept;
    3. prefix self equi-join on the token, ``id_a < id_b`` to emit each
       unordered pair once, plus the size filter -> distinct candidate
       pairs;
    4. verification joins the two full sets back by id and computes
       exact |A∩B| with ``array_intersect`` — per-pair work linear in
       the set sizes, never a nested loop.

    The order could also come from a per-document
    ``sort_array(collect_list(struct(df, token)))`` whose sorted array
    then feeds verification; on the registered queries at sf0.01 that
    form wrote more shuffle bytes (3.302 MB against 3.154 MB summed
    over the five set-Jaccard queries), so the window stays.

    Pruning rule and float safety: prefix length s - ceil(t_eff*s) + 1
    and size filter min(s_a, s_b) >= t_eff * max(s_a, s_b), with
    t_eff = max(0, t - 1e-6). Both are complete for J >= t_eff. Every
    pair a caller admits has J > t_eff: the exact test
    ``n_inter / n_union >= t`` loses at most one ulp to the double
    division, and the rounded test ``round(j, 6) >= t`` admits a raw j
    at most 5e-7 below t. The margin also absorbs any float-ceil slip
    when t*s is integral, so the prefix is never one token short. Extra
    candidates cost time only: verification keeps the result exact. At
    t = 0 a pair with no shared token is not reported.

    Candidate volume is bounded by the prefix tokens' document
    frequencies, not by df(token)^2 over every token: on organic text
    the rarest ~(1-t)*s tokens of a document are near-unique. A
    low-entropy corpus (tiny vocabulary, e.g. the synthetic test
    tables) degrades toward more candidates, which costs time, never
    correctness.
    """
    t_eff = F.lit(max(0.0, float(threshold) - 1e-6))
    tok = sets.select(
        "id", F.size("toks").alias("s"), F.explode("toks").alias("w")
    )
    dfreq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("dfq"))
    rank = F.row_number().over(Window.partitionBy("id").orderBy("dfq", "w"))
    pref = (
        tok.join(dfreq, "w")
        .withColumn("r", rank)
        .filter(F.col("r") <= F.col("s") - F.ceil(t_eff * F.col("s")) + 1)
        .select("id", "s", "w")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.least("a.s", "b.s") >= t_eff * F.greatest("a.s", "b.s")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    def side(k: str) -> DataFrame:
        return sets.select(
            F.col("id").alias(f"id_{k}"),
            F.col("toks").alias(f"t{k}"),
            F.size("toks").alias(f"s{k}"),
        )

    # n_union reads n_inter instead of repeating array_intersect
    return (
        cand.join(side("a"), "id_a")
        .join(side("b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ta", "tb")).cast("long").alias("n_inter"),
            (F.col("sa") + F.col("sb")).alias("n_sum"),
        )
        .select(
            "id_a",
            "id_b",
            "n_inter",
            (F.col("n_sum") - F.col("n_inter")).alias("n_union"),
        )
    )


def jaccard_similarity_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    dp: int = 6,
) -> DataFrame:
    """All unordered pairs (id_a < id_b) of documents whose DISTINCT
    lowercase-token sets have exact Jaccard >= ``threshold``.

    Returns (id_a, id_b, n_inter, n_union, jaccard) with jaccard
    rounded to ``dp`` (the comparison runs on the unrounded exact
    double, a single bigint/bigint division, bit-identical on any IEEE
    engine). Empty documents never pair.
    """
    jac = F.col("n_inter") / F.col("n_union")
    return (
        set_jaccard_pairs(word_sets(df, text_col, id_col), threshold)
        .filter(jac >= threshold)
        .select(
            "id_a", "id_b", "n_inter", "n_union", F.round(jac, dp).alias("jaccard")
        )
    )
