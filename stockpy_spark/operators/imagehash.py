"""Perceptual image hashing + near-duplicate pairing over REAL codec
output — the image-side member of the dedup shelf.

Training-data pipelines dedup images the same way they dedup text:
fingerprint, block, verify. This module implements average-hash
(aHash — the classic perceptual fingerprint: downsample, threshold at
the mean, pack bits) over pixels produced by the repo's OWN decoders
(``multimodal._decode_pixels``: BMP/PNG/GIF/JPEG — no external image
lib), so a hash match certifies the whole container->bytes->pixels
path, not a stub.

Exactness contract (what makes the DuckDB oracle possible): every step
is integer arithmetic —

- downsample = NEAREST-NEIGHBOR onto a ``grid x grid`` lattice
  (``src = (g * dim) // grid``), never interpolation;
- luminance = ``(r + g + b) // 3`` (int64 accumulate, floor divide);
- threshold = ``grid^2 * lum > sum(lums)`` (cross-multiplied, no
  float mean);
- the 64 bits pack row-major into four 16-bit band keys ``b0..b3``.

Scale shape: hashing is a narrow Arrow-batched ``mapInPandas`` pass
(payload bytes never visit the driver); pairing is
``dedup.hamming_pairs`` over the four 16-bit band words — the same
candidate-then-verify kernel as SimHash, with each band one block.
Hamming distance <= 3 flips at most 3 of the 4 bands, so any
qualifying pair agrees on >= 1 band and is found by band-equality
blocking (an equi-join on small keys), lossless vs the brute-force
cross join that never materializes. At 100 TB the hash pass scales
with scan bandwidth and the candidate join shuffles only (id, band,
key) — pair candidates are confined to band buckets exactly like
MinHash-LSH.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stockpy_spark.operators.dedup import hamming_pairs
from stockpy_spark.operators.multimodal import _decode_pixels

AHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("b0", T.IntegerType()),
        T.StructField("b1", T.IntegerType()),
        T.StructField("b2", T.IntegerType()),
        T.StructField("b3", T.IntegerType()),
    ]
)


def ahash_bits(pixels: np.ndarray, grid: int = 8) -> np.ndarray:
    """The executable spec: (grid*grid,) uint8 bit vector, row-major.
    Pure integer arithmetic (module docstring) so the SQL oracle can
    replay it from the closed-form pixel pattern."""
    h, w = pixels.shape[0], pixels.shape[1]
    ys = (np.arange(grid) * h) // grid
    xs = (np.arange(grid) * w) // grid
    cells = pixels[ys][:, xs].astype(np.int64)
    lum = cells.sum(axis=2) // 3
    return (lum * (grid * grid) > lum.sum()).astype(np.uint8).ravel()


def _pack_bands(bits: np.ndarray) -> tuple[int, int, int, int]:
    weights = 1 << np.arange(16, dtype=np.int64)
    return tuple(int(bits[b * 16 : (b + 1) * 16] @ weights) for b in range(4))


def perceptual_ahash(assets: DataFrame, grid: int = 8) -> DataFrame:
    """(doc_id, b0..b3): 64-bit average-hash of each asset's DECODED
    pixels as four 16-bit band keys. ``assets`` is the standard asset
    frame (doc_id, payload, meta) from ``multimodal.attach_*_payload``
    or ``read_blob_slices``."""

    def batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            packed = [
                _pack_bands(ahash_bits(_decode_pixels(p), grid))
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "b0": [p[0] for p in packed],
                    "b1": [p[1] for p in packed],
                    "b2": [p[2] for p in packed],
                    "b3": [p[3] for p in packed],
                }
            )

    return assets.mapInPandas(batch, AHASH_SCHEMA)


def ahash_near_pairs(hashes: DataFrame, max_hamming: int = 2) -> DataFrame:
    """Near-duplicate image pairs (d1, d2, hamming), d1 < d2, hamming <=
    max_hamming, from a ``perceptual_ahash`` frame by 16-bit band
    pigeonhole blocking (``dedup.hamming_pairs``: lossless for
    max_hamming <= 3 with 4 bands, ValueError above)."""
    words = hashes.select(F.col("doc_id").alias("id"), "b0", "b1", "b2", "b3")
    return hamming_pairs(words, 16, 16, max_hamming)


def ahash_dedup_components(
    docs: DataFrame,
    hashes: DataFrame,
    max_hamming: int = 2,
    id_col: str = "doc_id",
):
    """Transitive image dedup at scale: component assignment over the
    hamming<=max_hamming relation WITHOUT enumerating member-level
    pairs. Identical hashes are hamming-0 cliques, so each identical-
    hash GROUP collapses to star edges on its min-id representative
    (exact, the pipeline_dedup_cc star-edge argument), and the
    pairwise hamming join runs only BETWEEN distinct hash values —
    one row per distinct hash, not per image. Since hamming(a, b)
    depends only on the hash values, rep-level edges plus the stars
    generate exactly the member-level closure: the output equals CC
    over ahash_near_pairs, at candidate volume quadratic in DISTINCT
    hashes instead of images (the fixture's 50k-image decade OOMed the
    all-pairs form; this one runs it). Returns (id, component,
    is_representative)."""
    from stockpy_spark.operators.graph import dedup_components

    bands = ["b0", "b1", "b2", "b3"]
    groups = hashes.groupBy(*bands).agg(F.min(id_col).alias("__rep"))
    ident_edges = (
        hashes.join(groups, bands)
        .where(F.col(id_col) != F.col("__rep"))
        .select(F.col("__rep").alias("d1"), F.col(id_col).alias("d2"))
    )
    rep_hashes = groups.select(F.col("__rep").alias(id_col), *bands)
    rep_pairs = ahash_near_pairs(rep_hashes, max_hamming).select("d1", "d2")
    edges = ident_edges.unionByName(rep_pairs)
    return dedup_components(docs.select(id_col), edges, id_col=id_col)
