"""Document chunking: fixed-size overlapping token windows.

The step between a cleaned corpus and a training run: long documents
are split into chunks of ``chunk_tokens`` whitespace tokens with
``overlap`` tokens of context carried across boundaries (the standard
RAG-indexing / pretraining-packing preprocessing shape). Pure builtin
expressions — ``split`` once per document, chunk starts as a
``sequence`` + ``explode``, each chunk a ``slice`` over the token array
— so the whole operator is one narrow map-side pass: no shuffle, no
UDF, and the fan-out (docs -> chunks) happens inside the explode where
Spark's whole-stage codegen keeps it vectorized. At 100 TB the operator
inherits the scan's partitioning; downstream packing/shuffling is the
consumer's choice.

Chunk grid: starts at 0, step = chunk_tokens - overlap, last chunk
starts at the largest grid point < n_tokens (so trailing text is never
dropped and empty documents yield zero chunks — a doc shorter than one
chunk yields exactly one).

Reference parity: none (the reference has no text pipeline ops);
extension surface per the LLM-pipeline brief. Exact SQL oracle:
registry/text.py reproduces the grid with generate_series + list_slice
in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Explode each document into (id, chunk_id, start_tok, n_tok,
    chunk_text) rows on the overlapping-window grid described in the
    module docstring. ``chunk_id`` is 0-based and contiguous per
    document; ``start_tok`` is the 0-based token offset, preserved so a
    chunk can be traced back into its source document."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap ({overlap}) < chunk_tokens ({chunk_tokens})"
        )
    step = chunk_tokens - overlap
    # trim first: split('') on a whitespace-padded string yields empty
    # leading/trailing tokens that would shift every offset
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.when(F.trim(F.col(text_col)) == "", F.lit(0)).otherwise(F.size(toks))
    with_toks = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        n.alias("__n"),
    )
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            F.lit(0),
            F.floor((F.col("__n") - 1) / step).cast("int") * step,
        ),
        F.lit(step),
    )
    exploded = with_toks.where(F.col("__n") > 0).select(
        id_col,
        "__toks",
        "__n",
        F.posexplode(starts).alias("chunk_id", "start_tok"),
    )
    return exploded.select(
        id_col,
        "chunk_id",
        "start_tok",
        F.least(
            F.lit(chunk_tokens), F.col("__n") - F.col("start_tok")
        ).alias("n_tok"),
        F.array_join(
            # slice() is 1-based on the start position
            F.slice(F.col("__toks"), F.col("start_tok") + 1, chunk_tokens),
            " ",
        ).alias("chunk_text"),
    )
