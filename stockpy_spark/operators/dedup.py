"""Deduplication operators for LLM training-data pipelines.

Four tiers, all distributed, none driver-side:

1. Exact: hash-groupBy on a normalized-text fingerprint (md5 — engine
   portable, unlike murmur3 F.hash).
2. Word-set / char-n-gram Jaccard: exact pairwise similarity through
   the one prefix-filtered set-Jaccard kernel (operators/setsim.py):
   only each document's rarest tokens join, candidates are verified
   with an exact intersection. No longer quadratic in stopword
   frequency, but still quadratic in near-dup cluster size (those
   pairs ARE the output); use as the *verify* stage after LSH
   candidates at scale, not as the discovery stage.
3. MinHash + LSH banding: the 100 TB discovery path. Deterministic
   md5-based minhash (portable across engines so the DuckDB oracle can
   replicate it bit-for-bit), banded into buckets; only same-bucket pairs
   are candidates. Signatures are a zero-shuffle map; candidate count is
   bounded by band collisions instead of n^2.
4. SimHash: 32- and 64-bit fingerprints, signed map-side like MinHash,
   + hamming-distance pairs (bit_count of xor). Cheapest per-doc state
   of the lot.

Every blocked pair search in tiers 3-4 (MinHash bands, SimHash bytes,
and in other modules aHash bands and hyperplane-LSH bands) is one
candidate-then-verify kernel: the caller builds one array of block
keys per id, :func:`block_pairs` self-joins the blocks and emits each
``(id_a, id_b)`` once, and the caller verifies each pair from the two
key arrays (:func:`hamming_pairs`) or from a payload that
:func:`verify_pairs` joins back once per side. Only ids and block keys
cross the candidate join, however wide the payload (REPOSE-style
filter-then-verify).

All outputs are deterministic (min-doc-id keeper, d1<d2 pair ordering).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stockpy_spark.functions.text import char_ngrams, fingerprint_md5, tokenize
from stockpy_spark.operators.pinning import pin, pin_literal
from stockpy_spark.operators.setsim import set_jaccard_pairs, word_sets


def exact_dedup_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-fingerprint dup stats: fingerprint, surviving (min) id, count."""
    return (
        df.select(F.col(id_col), fingerprint_md5(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Drop exact (normalized) duplicates, keeping the lowest id per
    fingerprint. Window-free formulation: min-id per fingerprint is an
    aggregate, then a semi-join keeps the winners — two map-side-combined
    shuffles on fp, no full row_number sort."""
    with_fp = df.withColumn("__fp", fingerprint_md5(text_col))
    keepers = with_fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return with_fp.join(keepers, ["__fp", id_col], "left_semi").drop("__fp")


#: word_jaccard_pairs is verify-tier: its candidate join is quadratic
#: in near-dup cluster size and, on low-entropy text, in prefix-token
#: document frequency. The guard makes accidentally pointing it at a
#: corpus a loud error instead of a cluster-melter.
WORD_JACCARD_MAX_DOCS = 200_000


def word_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    max_docs: int | None = WORD_JACCARD_MAX_DOCS,
) -> DataFrame:
    """Exact pairwise Jaccard over distinct lowercase word sets,
    through the prefix-filtered kernel (setsim.set_jaccard_pairs).

    Returns (d1, d2, jaccard) with d1 < d2 and jaccard >= threshold,
    jaccard rounded to 6 decimals (the test runs on the rounded value).
    VERIFY-TIER, not a scale path: candidates are quadratic in near-dup
    cluster size. At scale run this only on LSH candidates (see
    minhash_lsh_pairs) or use the linear star-edge/assignment paths; to
    make that boundary enforceable rather than advisory, the call
    raises ValueError when the input exceeds ``max_docs`` rows (pass
    ``max_docs=None`` to opt out — e.g. when the input is already a
    bounded candidate set).
    """
    if max_docs is not None:
        n = df.count()
        if n > max_docs:
            raise ValueError(
                f"word_jaccard_pairs is verify-tier (quadratic in hot-token "
                f"document frequency): got {n} docs > max_docs={max_docs}. "
                "Use minhash_lsh_star_edges / minhash_dedup_assign at corpus "
                "scale, or pass max_docs=None for a bounded candidate set."
            )
    return _round6_pairs(word_sets(df, text_col, id_col), threshold)


def _round6_pairs(sets: DataFrame, threshold: float) -> DataFrame:
    """(d1, d2, jaccard) over set_jaccard_pairs, jaccard rounded to 6
    decimals and filtered on the ROUNDED value (the oracles' contract)."""
    jac = F.round(F.col("n_inter") / F.col("n_union"), 6)
    return (
        set_jaccard_pairs(sets, threshold)
        .select(
            F.col("id_a").alias("d1"), F.col("id_b").alias("d2"), jac.alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


def block_pairs(keys: DataFrame) -> DataFrame:
    """The candidate half of every blocked pair search: ``(id, keys)``,
    one block key per array position, -> ``(id_a, id_b, keys_a,
    keys_b)``, ``id_a < id_b``, for every two ids whose keys agree at
    some position.

    Each pair is emitted only by its FIRST agreeing block (the
    zip_with test in the join condition), so pairs come out distinct
    with no ``distinct`` shuffle. Only ids and block keys cross the
    join; a verify that needs more than the keys joins its payload
    back in :func:`verify_pairs`."""
    blocks = keys.select("id", "keys", F.posexplode("keys").alias("blk", "key"))
    a, b = blocks.alias("a"), blocks.alias("b")
    first = F.array_position(
        F.zip_with(F.col("a.keys"), F.col("b.keys"), lambda x, y: x == y), True
    )
    return a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a.id") < F.col("b.id"))
        & (first == F.col("a.blk") + 1),
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col("a.keys").alias("keys_a"),
        F.col("b.keys").alias("keys_b"),
    )


def verify_pairs(pairs: DataFrame, payload: DataFrame) -> DataFrame:
    """The verify half: joins ``payload`` ``(id, c, ...)`` once per side
    of the distinct ``(id_a, id_b)`` candidates, as columns ``c_a`` and
    ``c_b``, for the caller's verify expression. Both sides join the
    same frame, so its exchange can be reused. No broadcast hint: the
    payload is one row per id and grows with the corpus — AQE
    broadcasts it while it fits."""
    cols = [c for c in payload.columns if c != "id"]
    a, b = payload.alias("a"), payload.alias("b")
    return (
        pairs.join(a, F.col("id_a") == F.col("a.id"))
        .join(b, F.col("id_b") == F.col("b.id"))
        .select(
            "id_a",
            "id_b",
            *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for s in "ab" for c in cols],
        )
    )


def hamming_pairs(
    words: DataFrame, word_bits: int, block_bits: int, max_hamming: int
) -> DataFrame:
    """(d1, d2, hamming) with hamming <= max_hamming over fingerprints
    carried as ``(id, w, ...)`` non-negative ``word_bits``-wide words.

    Each word splits into ``block_bits``-wide blocks, and docs that
    agree on any one block are candidates (:func:`block_pairs`). The
    blocks tile every bit, so the verify needs only the two key arrays:
    hamming = sum of bit_count(xor) over blocks. The pigeonhole makes
    this lossless only while ``max_hamming < n_blocks``: that many
    flipped bits cannot touch every block. Past it pairs would be
    silently lost, so it raises ValueError instead.
    """
    cols = [c for c in words.columns if c != "id"]
    per_word = word_bits // block_bits
    n_blocks = per_word * len(cols)
    if max_hamming >= n_blocks:
        raise ValueError(
            f"{n_blocks}-block pigeonhole is lossless only for "
            f"max_hamming <= {n_blocks - 1}, got {max_hamming}"
        )
    blocks = [
        F.shiftright(F.col(c), j * block_bits).bitwiseAND(F.lit((1 << block_bits) - 1))
        for c in cols
        for j in range(per_word)
    ]
    keys = words.select("id", F.array(*blocks).alias("keys"))
    hamming = F.aggregate(
        F.zip_with("keys_a", "keys_b", lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        block_pairs(keys)
        .select(F.col("id_a").alias("d1"), F.col("id_b").alias("d2"), hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# modulus for double-hashed minhash lanes: small prime so lane
# arithmetic (h1 + i*h2) never overflows 64-bit in any engine
_MINHASH_P = 1_000_000_007


def _hash_kernel(hash_fn: str):
    """The minhash family's hash kernel, selected once and plumbed
    through signatures -> bands -> admission keys -> the streaming
    admitter (round-12 task; the r11 measured finding: the per-token
    double hash IS the narrow-stage wall of the flagship dedup family,
    and xxhash64 runs it ~3x faster than md5 at sf1).

    Returns (token_base, band_sig, text_fp):
    - token_base(prefix, tok) -> BIGINT lane base in [0, _MINHASH_P)
    - band_sig(concat_str)    -> STRING band signature
    - text_fp(col)            -> STRING exact fingerprint

    ``md5`` stays the default everywhere — the DuckDB oracles replay
    it bit-for-bit. ``xxhash64`` is the production kernel for a real
    100 TB run: identical LSH structure, same key-set schema (the
    64-bit hash casts to STRING so parquet state and joins are
    type-stable across kernels), different hash draws — so an index
    seeded with one kernel must be screened with the same kernel
    (document the choice in the ingestion service's config, like a
    salt). Collision note: band signatures compress to 64 bits under
    xxhash64 vs md5's 128 — at 2^32 distinct band keys the birthday
    collision odds are ~50% for ONE colliding PAIR across the whole
    index, which costs one spurious rejection, acceptable for dedup
    screening (not for exact fingerprints of adversarial input).
    """
    if hash_fn == "md5":
        def base(prefix: str, t: F.Column) -> F.Column:
            return (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(prefix), t)), 1, 15),
                    16,
                    10,
                ).cast("long")
                % _MINHASH_P
            )

        return base, F.md5, F.md5
    if hash_fn == "xxhash64":
        def base(prefix: str, t: F.Column) -> F.Column:
            return F.pmod(
                F.xxhash64(F.concat(F.lit(prefix), t)), F.lit(_MINHASH_P)
            )

        def bsig(c: F.Column) -> F.Column:
            return F.xxhash64(c).cast("string")

        def fp(c) -> F.Column:
            return F.xxhash64(c).cast("string")

        return base, bsig, fp
    raise ValueError(f"unknown hash_fn {hash_fn!r}: use 'md5' or 'xxhash64'")


def _minhash_wide(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    hash_fn: str = "md5",
) -> DataFrame:
    """(doc, mh0..mh{H-1}): minhash signature, one BIGINT column per
    hash lane. Double-hashing (Kirsch-Mitzenmacher): two md5-derived
    base hashes per token, lane i = (h1 + i*h2) mod P — H lanes for the
    price of 2 hash computations instead of H.

    ZERO-shuffle formulation: the token set never leaves its row. The
    distinct tokens are an array column, the two base hashes a
    `transform` over it, and every lane an `array_min` over another
    `transform` — all narrow, map-side, whole-row operations, so
    signature computation costs no exchange at any corpus size; the
    first shuffle in any minhash pipeline is the (tiny, n_docs-sized)
    band bucket join downstream. The md5→hex→bigint derivation is
    engine-portable (DuckDB reproduces every lane bit-for-bit); at
    100 TB pass ``hash_fn="xxhash64"`` (_hash_kernel) — MEASURED r11:
    the signature pass runs ~3x faster (0.61 s -> 0.20 s at sf1,
    same-session A/B) because here the per-token double hash IS the
    narrow-stage wall — unlike dsir's bucket pass, where the explode
    dominates and the same swap moves nothing. The LSH structure is
    unchanged either way; the md5 path stays default for the
    bit-exact oracle.
    """
    base, _, _ = _hash_kernel(hash_fn)

    # filter on the token array, NOT the hashed array: predicate pushdown
    # substitutes the filtered alias's defining expression into the
    # condition, so filtering on __hs would re-run the md5 transform per
    # row just to test emptiness. size(NULL array) = -1, size(no tokens)
    # = 0 — both match the oracle's "doc absent when tokenless".
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.array_distinct(tokenize(F.lower(F.col(text_col)))).alias("__toks"),
    ).filter(F.size(F.col("__toks")) > 0)
    hashed = F.transform(
        F.col("__toks"),
        lambda t: F.struct(base("1|", t).alias("h1"), base("2|", t).alias("h2")),
    )
    sigs = toks.select("doc", hashed.alias("__hs"))
    return sigs.select(
        "doc",
        *[
            F.array_min(
                F.transform(
                    F.col("__hs"),
                    lambda s: (s["h1"] + F.lit(h) * s["h2"]) % _MINHASH_P,
                )
            ).alias(f"mh{h}")
            for h in range(num_hashes)
        ],
    )


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, n: int, threshold: float
) -> DataFrame:
    """Exact pairwise Jaccard over distinct character n-gram (shingle)
    sets, robust to tokenization differences (no-space scripts,
    punctuation-glued words). Returns (d1, d2, jaccard) like
    word_jaccard_pairs, through the same prefix-filtered kernel
    (operators/setsim.py)."""
    sets = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(char_ngrams(F.col(text_col), n)).alias("toks"),
    )
    return _round6_pairs(sets, threshold)


def _band_keys(num_hashes: int, bands: int, hash_fn: str) -> list[F.Column]:
    """One band-signature column per band of a wide minhash frame: the
    kernel's hash of the band's minhashes in h order, each prefixed
    with a zero-padded h (identical string to sorting 'hhhh:mh' entries
    lexicographically — the oracle's formulation)."""
    _, bsig_fn, _ = _hash_kernel(hash_fn)
    rows = num_hashes // bands
    return [
        bsig_fn(
            F.concat_ws(
                ",",
                *[
                    F.concat(F.lit(f"{h:04d}:"), F.col(f"mh{h}").cast("string"))
                    for h in range(b * rows, (b + 1) * rows)
                ],
            )
        )
        for b in range(bands)
    ]


def _band_signatures(
    wide: DataFrame, num_hashes: int, bands: int, hash_fn: str = "md5"
) -> DataFrame:
    """(doc, band, bsig) from a wide minhash frame (_band_keys).
    Columnar explode of the aggregate — no extra shuffle."""
    band_structs = [
        F.struct(F.lit(b).cast("int").alias("band"), key.alias("bsig"))
        for b, key in enumerate(_band_keys(num_hashes, bands, hash_fn))
    ]
    return wide.select("doc", F.explode(F.array(*band_structs)).alias("kb")).select(
        "doc", F.col("kb.band").alias("band"), F.col("kb.bsig").alias("bsig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 12,
    bands: int = 6,
    hash_fn: str = "md5",
) -> DataFrame:
    """Candidate near-dup pairs via MinHash + LSH banding, with the
    minhash-estimated Jaccard attached.

    Pipeline: minhash signatures -> band signature per (doc, band) =
    md5 of the band's ordered minhashes -> :func:`block_pairs` on
    (band, band signature) -> distinct candidate pairs -> estimated
    jaccard = fraction of the full signature agreeing.

    Scale behavior: signatures are the zero-shuffle map of
    _minhash_wide; band signatures and the per-doc signature array are
    columnar derivations of it, so the first shuffle is the bounded
    bucket join. Skewed buckets (boilerplate docs) are the one hazard —
    AQE skew-join handles moderate skew; severe boilerplate should be
    exact-deduped (cheap) before LSH.
    """
    wide = _minhash_wide(df, text_col, id_col, num_hashes, hash_fn)
    keys = wide.select(
        F.col("doc").alias("id"),
        F.array(*_band_keys(num_hashes, bands, hash_fn)).alias("keys"),
    )
    return verify_pairs(block_pairs(keys), _signature_array(wide, num_hashes)).select(
        F.col("id_a").alias("d1"),
        F.col("id_b").alias("d2"),
        _lane_agreement(F.col("sig_a"), F.col("sig_b"), num_hashes).alias("est_jaccard"),
    )


def _signature_array(wide: DataFrame, num_hashes: int) -> DataFrame:
    """(id, sig): one signature ARRAY per doc of a wide minhash frame,
    so lane agreement is one zip_with per candidate pair instead of H
    minhash rows per pair side through the shuffle."""
    return wide.select(
        F.col("doc").alias("id"),
        F.array(*[F.col(f"mh{h}") for h in range(num_hashes)]).alias("sig"),
    )


def _lane_agreement(sig1: F.Column, sig2: F.Column, num_hashes: int) -> F.Column:
    """Estimated Jaccard: the fraction of agreeing minhash lanes of two
    signature arrays, rounded to 6 decimals."""
    agree = F.aggregate(
        F.zip_with(sig1, sig2, lambda a, b: F.when(a == b, 1.0).otherwise(0.0)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.round(agree / F.lit(float(num_hashes)), 6)


def minhash_dedup_assign(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 12,
    bands: int = 6,
    iterations: int = 1,
    hash_fn: str = "md5",
    bounded_docs: int | None = None,
) -> DataFrame:
    """(doc_id, keeper_id, is_dup): map every document to a cluster
    representative via LSH buckets — WITHOUT enumerating pairs.

    ``bounded_docs``: callers that KNOW ``df`` is bounded (e.g. the
    release pipeline dedups a ``limit(128)``-derived admitted set)
    pass the bound so the band-signature key frame pins as a
    driver-literal LocalRelation (pinning.pin_literal) instead of a
    checkpoint — the bucket-min/join-back plan then broadcasts
    statically with no leaf-scan stages. Default None keeps the
    corpus-scale checkpoint path.

    This is the 100 TB dedup path. Pair enumeration (minhash_lsh_pairs)
    is quadratic in duplicate-cluster size: a 1M-doc boilerplate cluster
    is 5*10^11 pairs, all generated in the single join task that owns the
    hot bucket key. Assignment is linear and skew-free: per bucket take
    min(label) (a map-side-combined aggregate — hot buckets reduce on the
    map side), then per doc take min over its buckets' minima. One
    iteration = "keeper is the smallest doc sharing a bucket with me";
    more iterations propagate labels across chained buckets toward
    connected components (each iteration is 2 bounded hash shuffles).
    """
    wide = _minhash_wide(df, text_col, id_col, num_hashes, hash_fn)
    # r16 (guide §2.4, duplicate subtrees): band_sigs feeds BOTH the
    # bucket-min aggregate and the assignment join-back, and the join
    # side carries no exchange for ReuseExchange to share (the
    # bucket-min side partial-aggregates before its shuffle; the join
    # side ships raw rows or broadcasts), so unpinned the
    # tokenize+minhash CPU ran twice per iteration — the plan showed
    # two full parquet scans. The pinned frame is the (doc, band,
    # bsig) KEY set — the thing the module docstring says a 100 TB
    # deployment indexes and materializes anyway (keys are a few
    # percent of text bytes; reliable pin mode IS that durable write).
    band_sigs = _band_signatures(wide, num_hashes, bands, hash_fn).transform(
        (lambda d: pin_literal(d, bounded_docs * bands))
        if bounded_docs is not None
        else pin
    )
    labeled = band_sigs.withColumn("label", F.col("doc"))
    labels = None
    for _ in range(iterations):
        bucket_min = labeled.groupBy("band", "bsig").agg(F.min("label").alias("bmin"))
        labels = (
            labeled.join(bucket_min, ["band", "bsig"])
            .groupBy("doc")
            .agg(F.min("bmin").alias("label"))
        )
        labeled = band_sigs.join(labels, "doc")
    return labels.select(
        F.col("doc").alias(id_col),
        F.col("label").alias("keeper_id"),
        (F.col("label") != F.col("doc")).alias("is_dup"),
    )


def _simhash(
    df: DataFrame, text_col: str, id_col: str, words: dict[str, int], bits: int = 32
) -> DataFrame:
    """(id_col, *words): SimHash over each document's distinct
    lowercase tokens, one ``bits``-wide BIGINT word per entry of
    ``words`` (output column -> 1-based start of the 8 md5 hex chars
    that give each token its 32-bit hash). Word bit b is set iff more
    than half the tokens have bit b set (the sign of the +-1 sum).

    ZERO-shuffle, like _minhash_wide: the token set never leaves its
    row; each word bit is an ``aggregate`` over the row's token-hash
    array. Tokenless docs have no row.
    """
    toks = df.select(
        F.col(id_col),
        F.array_distinct(tokenize(F.lower(F.col(text_col)))).alias("__toks"),
    ).filter(F.size(F.col("__toks")) > 0)
    hashed = toks.select(
        id_col,
        F.size(F.col("__toks")).alias("__n"),
        *[
            F.transform(
                F.col("__toks"),
                lambda t: F.conv(F.substring(F.md5(t), start, 8), 16, 10).cast("long"),
            ).alias(f"__h{start}")
            for start in words.values()
        ],
    )

    def fold(start: int) -> F.Column:
        fp = F.lit(0).cast("long")
        for b in range(bits):
            ones = F.aggregate(
                F.col(f"__h{start}"),
                F.lit(0).cast("long"),
                lambda acc, h: acc + F.shiftright(h, b).bitwiseAND(F.lit(1)),
            )
            fp = fp + F.when(2 * ones > F.col("__n"), F.lit(1 << b).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        return fp

    return hashed.select(id_col, *[fold(start).alias(w) for w, start in words.items()])


def simhash_fingerprints(
    df: DataFrame, text_col: str, id_col: str, bits: int = 32
) -> DataFrame:
    """(id, simhash): 32-bit SimHash over distinct tokens (_simhash).

    Token hash = first 8 hex chars of md5 (portable); fingerprint bit b
    is the sign of sum over tokens of (+1 if token-hash bit b else -1).
    """
    return _simhash(df, text_col, id_col, {"simhash": 1}, bits)


def simhash_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs (d1, d2, hamming) by SimHash hamming distance <=
    max_hamming, through :func:`hamming_pairs` on the 4 simhash bytes:
    lossless for max_hamming <= 3, ValueError above."""
    fps = simhash_fingerprints(df, text_col, id_col).withColumnRenamed(id_col, "id")
    return hamming_pairs(fps, 32, 8, max_hamming)


def simhash64_fingerprints(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, sim_hi, sim_lo): 64-bit SimHash carried as two non-negative
    32-bit halves (lo = bits 0-31 from md5 hex chars 1-8 of each token,
    hi = bits 32-63 from chars 9-16), both from one _simhash pass.

    Why halves instead of one long: the sign bit of a 64-bit value
    needs two's-complement arithmetic that SQL engines check/overflow
    differently, while two 32-bit halves are portable everywhere —
    equality, XOR and bit_count compose identically. Why 64-bit at
    all: a 2^32 fingerprint space saturates at large corpus scales
    (birthday collisions flood the hamming<=3 blocks past ~10^5 docs);
    2^64 keeps block buckets cold at 100 TB.
    """
    return _simhash(df, text_col, id_col, {"sim_hi": 9, "sim_lo": 1})


def simhash64_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs (d1, d2, hamming) by 64-bit SimHash hamming
    distance <= max_hamming, through :func:`hamming_pairs` on the 8
    bytes of the two halves: lossless for max_hamming <= 7 (that many
    flipped bits leave >= 1 of 8 blocks intact), ValueError above.
    """
    fps = simhash64_fingerprints(df, text_col, id_col).withColumnRenamed(id_col, "id")
    return hamming_pairs(fps, 32, 8, max_hamming)


def embedding_neardup_lsh(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    dim: int,
    n_planes: int = 12,
    bands: int = 3,
) -> DataFrame:
    """Embedding near-dup at scale: hyperplane-LSH blocking + exact
    cosine verify. Returns (id1, id2, cosine), id1 < id2, cosine >=
    threshold.

    The n_planes-bit signature is split into ``bands`` sub-signatures;
    vectors sharing ANY band sub-signature become a candidate pair
    (same banding logic as MinHash-LSH, hyperplanes instead of
    minhashes). One linear scan computes signatures; :func:`block_pairs`
    joins ids only on small (band, sub-signature) keys, and the vectors
    join back once per side for the exact cosine — O(n^2) never
    materializes unless the data really is one cluster. High-cosine
    pairs agree on most hyperplane signs, so P(all bands differ)
    decays geometrically with bands.
    """
    from stockpy_spark.functions.text import cosine_similarity
    from stockpy_spark.operators.similarity import _hyperplane_signature

    width = n_planes // bands
    sigs = df.select(
        F.col(id_col).alias("id"),
        _hyperplane_signature(F.col(vec_col), dim, n_planes).alias("sig"),
    )
    keys = sigs.select(
        "id",
        F.array(
            *[
                F.shiftright(F.col("sig"), b * width).bitwiseAND(F.lit((1 << width) - 1))
                for b in range(bands)
            ]
        ).alias("keys"),
    )
    payload = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return (
        verify_pairs(block_pairs(keys), payload)
        .select(
            F.col("id_a").alias("id1"),
            F.col("id_b").alias("id2"),
            F.round(cosine_similarity("v_a", "v_b"), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_cosine_pairs(
    df: DataFrame, vec_col: str, id_col: str, threshold: float
) -> DataFrame:
    """Embedding near-dup: pairs with cosine >= threshold (d1 < d2).

    Brute-force O(n^2/2) pair scan — exact, fine to ~10^5 vectors per
    executor-broadcast block. The scale path is embedding_neardup_lsh
    (hyperplane blocking, exact verify within blocks).
    """
    from stockpy_spark.functions.text import cosine_similarity

    a = df.select(F.col(id_col).alias("id1"), F.col(vec_col).alias("v1"))
    b = df.select(F.col(id_col).alias("id2"), F.col(vec_col).alias("v2"))
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .withColumn("cosine", F.round(cosine_similarity(F.col("v1"), F.col("v2")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    )


def minhash_lsh_star_edges(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 12,
    bands: int = 6,
) -> DataFrame:
    """(d1, d2) edges for connected-components clustering — LINEAR in
    corpus size, unlike :func:`minhash_lsh_pairs`.

    Every LSH bucket is a clique in the candidate graph, and a clique's
    connectivity is preserved by a STAR: connect each member to the
    bucket's min doc instead of enumerating all pairs. Edge count is
    O(docs x bands) where all-pairs is O(sum cluster^2) — at a synthetic
    sf1 the same corpus yields 224M pairs but only ~n_docs star edges.
    groupBy min is map-side combined, so hot boilerplate buckets reduce
    before the shuffle; the transitive closure over shared buckets
    (graph.connected_components) is identical to the all-pairs graph's.
    """
    band_sigs = _band_signatures(
        _minhash_wide(df, text_col, id_col, num_hashes), num_hashes, bands
    )
    bucket_min = band_sigs.groupBy("band", "bsig").agg(
        F.min("doc").alias("d1")
    )
    return (
        band_sigs.join(bucket_min, ["band", "bsig"])
        .where(F.col("doc") != F.col("d1"))
        .select("d1", F.col("doc").alias("d2"))
        .distinct()
    )


def incremental_dedup_admit(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 12,
    bands: int = 2,
    hash_fn: str = "md5",
) -> DataFrame:
    """Admission filter for incremental corpus ingestion: which rows of
    a NEW ``batch`` may enter an EXISTING ``corpus``. The production
    shape every continuously-ingesting training pipeline runs — the
    corpus is never re-clustered; only the batch is screened, in three
    stages, each a bounded hash join (no pair enumeration anywhere):

    1. **Exact vs corpus + within batch**: md5(text) fingerprint
       anti-join against the corpus, then keep the min-id row per
       fingerprint within the batch.
    2. **Near-dup vs corpus**: a batch doc sharing ANY LSH band bucket
       with a corpus doc is rejected (bucket semi-join against the
       corpus's distinct bucket keys — the corpus side reduces to its
       bucket-key set, which an ingestion service would keep
       materialized; at 100 TB that set is what you index, not the
       text).
    3. **Near-dup within batch**: linear LSH assignment over the
       survivors (bucket-min label per doc, minhash_dedup_assign's
       semantics) — only bucket-min keepers are admitted.

    Token-less rows (empty text) have no LSH signature; they pass the
    near-dup stages and are screened by stage 1 alone.

    Returns the admitted batch rows (all original columns).
    """
    corpus_fps, corp_keys = corpus_dedup_keys(
        corpus, text_col, id_col, num_hashes, bands, hash_fn
    )
    return incremental_dedup_admit_keys(
        batch,
        corpus_fps,
        corp_keys,
        text_col,
        id_col,
        num_hashes,
        bands,
        hash_fn,
    )


def corpus_dedup_keys(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 12,
    bands: int = 2,
    hash_fn: str = "md5",
) -> tuple[DataFrame, DataFrame]:
    """The standing corpus's ADMISSION INDEX — the only thing an
    ingestion service keeps materialized (at 100 TB you index these
    sets, not the text): the distinct md5 fingerprint set (``__fp``)
    and the distinct LSH band-bucket key set (``band``, ``bsig``).
    Both are pure functions of the corpus text AND the chosen
    ``hash_fn`` (an index built with one kernel must be screened with
    the same one — treat the choice like a salt), so incremental
    maintenance is append-of-the-admitted-rows'-keys (what the
    streaming admitter does per micro-batch)."""
    _, _, fp_fn = _hash_kernel(hash_fn)
    fps = corpus.select(fp_fn(F.col(text_col)).alias("__fp")).distinct()
    keys = _band_signatures(
        _minhash_wide(corpus, text_col, id_col, num_hashes, hash_fn),
        num_hashes,
        bands,
        hash_fn,
    ).select("band", "bsig").distinct()
    return fps, keys


def incremental_dedup_admit_keys(
    batch: DataFrame,
    corpus_fps: DataFrame,
    corpus_band_keys: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 12,
    bands: int = 2,
    hash_fn: str = "md5",
    band_sigs: DataFrame | None = None,
) -> DataFrame:
    """`incremental_dedup_admit` against a MATERIALIZED admission
    index (see corpus_dedup_keys) instead of the corpus text — the
    shape the streaming admitter and any real ingestion service run,
    where the standing corpus's key sets persist between arrivals and
    the text is never re-scanned. Stages and semantics are identical
    to incremental_dedup_admit (which now delegates here).

    ``band_sigs`` (r15 spine fusion): per-doc (doc, band, bsig)
    signatures of the FULL batch, computed once by the caller (pinned,
    so the minhash pass runs exactly once per batch instead of once
    per consumer). Must be exactly ``_band_signatures(_minhash_wide(
    batch, ...))`` with the same num_hashes/bands/hash_fn. A superset
    of the stage-1 survivors' signatures is correct by construction:
    every downstream use is restricted through s1/s2 id joins —
    near_corpus_docs may contain stage-1-rejected ids, but those are
    absent from s1, so the anti-join ignores them; bs2 semi-joins s2
    ids, so bucket-min sees survivor rows only."""
    _, _, fp_fn = _hash_kernel(hash_fn)
    fp = fp_fn(F.col(text_col))
    w_fp = Window.partitionBy("__fp")
    s1 = (
        batch.withColumn("__fp", fp)
        .join(corpus_fps, "__fp", "anti")
        .withColumn("__minid", F.min(id_col).over(w_fp))
        .where(F.col(id_col) == F.col("__minid"))
        .drop("__fp", "__minid")
    )

    corp_keys = corpus_band_keys.select("band", "bsig").distinct()
    if band_sigs is not None:
        bs_b = band_sigs
    else:
        # Batch path (no caller-computed signature frame): ``s1`` fans
        # out into the signature pass plus three downstream joins, and
        # the signature frame into two more — without a materialization
        # boundary the physical plan replays the fingerprint-screen and
        # per-token minhash subtrees once PER CONSUMER (r16 measured:
        # pinning both cut dedup_incremental ~15% at sf0.1, 3.9 -> 3.3 s
        # min). Both frames are batch-scale (micro-batch-bounded in any
        # real ingestion run), so pinning is the same bounded
        # materialization the streaming admitter already does for its
        # fused signature pass and admitted set.
        from stockpy_spark.operators.pinning import pin

        s1 = pin(s1)
        bs_b = pin(
            _band_signatures(
                _minhash_wide(s1, text_col, id_col, num_hashes, hash_fn),
                num_hashes,
                bands,
                hash_fn,
            )
        )
    near_corpus_docs = bs_b.join(corp_keys, ["band", "bsig"], "semi").select(
        F.col("doc").alias(id_col)
    ).distinct()
    s2 = s1.join(near_corpus_docs, id_col, "anti")

    bs2 = bs_b.join(
        s2.select(F.col(id_col).alias("doc")), "doc", "semi"
    )
    bucket_min = bs2.groupBy("band", "bsig").agg(F.min("doc").alias("bmin"))
    keeper = (
        bs2.join(bucket_min, ["band", "bsig"])
        .groupBy("doc")
        .agg(F.min("bmin").alias("__keeper"))
    )
    return (
        s2.join(
            keeper.select(F.col("doc").alias(id_col), "__keeper"),
            id_col,
            "left",
        )
        .where(
            F.col("__keeper").isNull() | (F.col("__keeper") == F.col(id_col))
        )
        .drop("__keeper")
    )


def shingle_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_words: int = 3,
    max_docs: int | None = WORD_JACCARD_MAX_DOCS,
) -> DataFrame:
    """ASYMMETRIC near-duplication: containment(A in B) =
    |S(A) & S(B)| / |S(A)| over distinct ``shingle_words``-word
    shingles. Jaccard misses the quote/aggregator case — a short
    document wholly copied into a long one scores low Jaccard but
    containment ~1 — which is why substring-level dedup (RefinedWeb,
    Lee et al. "Deduplicating Training Data Makes Language Models
    Better") is its own pipeline stage, not a Jaccard re-run.

    Returns (src, dst, containment) for ordered pairs src != dst with
    containment(src in dst) >= threshold, rounded to 6. Word shingles
    (not single tokens) so the overlap evidence is contiguous spans.

    VERIFY-TIER (its shingle inverted-index self-join is quadratic in
    hot-shingle document frequency) and guarded by the same
    ``max_docs`` ValueError as word_jaccard_pairs; at corpus scale feed
    it LSH candidates (minhash bucket join) with ``max_docs=None``.
    Shingles are far rarer than tokens (a 3-word shingle's document
    frequency is near 1 in organic text), so the practical wall is
    boilerplate shingles — remove_frequent_lines upstream exists for
    exactly that.
    """
    if max_docs is not None:
        n = df.count()
        if n > max_docs:
            raise ValueError(
                f"shingle_containment_pairs is verify-tier: got {n} docs > "
                f"max_docs={max_docs}. Feed LSH candidates (max_docs=None) "
                "at corpus scale."
            )
    toks = tokenize(F.lower(F.col(text_col)))
    k = shingle_words
    n_sh = F.size(toks) - F.lit(k - 1)
    # guard: sequence(1, 0) DESCENDS in Spark, so a doc shorter than k
    # tokens must yield an empty shingle array, not a broken slice
    shingle_arr = F.when(
        n_sh >= 1,
        F.transform(
            F.sequence(F.lit(1), n_sh),
            lambda i: F.array_join(F.slice(toks, i, F.lit(k)), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    shingles = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(shingle_arr)).alias("sh"),
    )
    sizes = shingles.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    a, b = shingles.alias("a"), shingles.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") != F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("src"), F.col("b.doc").alias("dst"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ssz = sizes.select(F.col("doc").alias("src"), F.col("sz").alias("src_sz"))
    return (
        inter.join(ssz, "src")
        .withColumn(
            "containment", F.round(F.col("inter") / F.col("src_sz"), 6)
        )
        .filter(F.col("containment") >= threshold)
        .select("src", "dst", "containment")
    )


def temporal_dedup_first(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    tolerance_seconds: int,
    tiebreak_col: str,
) -> DataFrame:
    """Burst dedup: keep only the FIRST event of each per-key burst,
    where an event belongs to its predecessor's burst when it arrives
    within ``tolerance_seconds`` of it — the telemetry double-fire /
    retry-storm cleaner (a user double-clicking "purchase" three times
    in two seconds is one intent). Distinct from exact_dedup (identical
    payloads) and dedup_within_watermark (streaming keyed dedup): here
    the duplicates are near-in-TIME, not equal-in-value.

    Chained semantics (each event compares to its immediate
    predecessor, so an hour-long burst of 2-second-spaced events stays
    ONE burst — the retry-storm case; a fixed-window rule would
    resurrect it every ``tolerance``). Survivor = any event farther
    than ``tolerance`` from its predecessor. One lag window per key
    (single shuffle, streaming frame); gap arithmetic on integral
    epoch seconds so an SQL engine replays the exact boundary;
    ``tiebreak_col`` pins same-instant ordering.

    Returns the surviving rows (all original columns).
    """
    sec = F.col(ts_col).cast("timestamp").cast("long")
    w = Window.partitionBy(*keys).orderBy(sec.asc(), F.col(tiebreak_col).asc())
    prev = F.lag(sec).over(w)
    return (
        df.withColumn("__prev_s", prev)
        .withColumn("__cur_s", sec)
        .filter(
            F.col("__prev_s").isNull()
            | (F.col("__cur_s") - F.col("__prev_s") > tolerance_seconds)
        )
        .drop("__prev_s", "__cur_s")
    )


def duplicated_span_coverage(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    dp: int = 6,
) -> DataFrame:
    """Substring-level duplication coverage — the measurement behind
    "dedup exact substrings, not just documents" (Lee et al. 2021,
    Deduplicating Training Data Makes Language Models Better): for each
    document, the fraction of its tokens covered by some ``n``-token
    gram that occurs MORE THAN ONCE in the corpus. Document-level dedup
    misses boilerplate, quotes, and templated spans shared across
    otherwise-distinct pages; this is the per-document meter that finds
    them (a near-1.0 score on a "unique" doc means it is stitched from
    repeated material).

    Plan: tokenize -> explode gram START positions (one row per token,
    same volume as MinHash shingling) -> corpus-wide gram count keeps
    grams with count > 1 (map-side combined) -> semi-join marks each
    duplicated occurrence as the span [s, s+n) -> per-document interval
    UNION via one (id)-partitioned window (contribution = span end
    minus the running max end of earlier spans, clipped at 0) so
    overlapping spans never double-count. Per-doc state is one sorted
    span list inside a window — no document ever needs more than its
    own spans in memory; the gram aggregate is the only corpus-wide
    shuffle, the same shape every shingle op here carries.

    Returns (id, n_tokens, covered_tokens, dup_coverage) for EVERY
    input document (no-dup and shorter-than-n docs score 0.0).
    """
    from pyspark.sql.window import Window

    from stockpy_spark.functions.text import tokenize

    base = df.select(
        F.col(id_col).alias("__id"), tokenize(text_col).alias("__t")
    ).withColumn("__nt", F.size("__t"))
    grams = base.where(F.col("__nt") >= n).select(
        "__id",
        F.explode(F.sequence(F.lit(0), F.col("__nt") - n)).alias("s"),
        F.col("__t").alias("__t"),
    ).select(
        "__id",
        "s",
        F.concat_ws(" ", F.slice("__t", F.col("s") + 1, n)).alias("gram"),
    )
    dup_grams = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") > 1)
        .select("gram")
    )
    occ = grams.join(dup_grams, "gram", "left_semi").select(
        "__id", "s", (F.col("s") + n).alias("e")
    )
    w = (
        Window.partitionBy("__id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    covered = (
        occ.withColumn("__pmax", F.max("e").over(w))
        .select(
            "__id",
            F.greatest(
                F.lit(0),
                F.col("e")
                - F.greatest(F.col("s"), F.coalesce("__pmax", F.col("s"))),
            ).alias("__add"),
        )
        .groupBy("__id")
        .agg(F.sum("__add").alias("covered_tokens"))
    )
    return base.join(covered, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.col("__nt").cast("long").alias("n_tokens"),
        F.coalesce("covered_tokens", F.lit(0)).cast("long").alias(
            "covered_tokens"
        ),
        F.round(
            F.when(F.col("__nt") == 0, F.lit(0.0)).otherwise(
                F.coalesce("covered_tokens", F.lit(0))
                / F.col("__nt").cast("double")
            ),
            dp,
        ).alias("dup_coverage"),
    )


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
) -> DataFrame:
    """The INTERVENTION behind :func:`duplicated_span_coverage` (Lee et
    al. 2021's ExactSubstr dedup, token-granular): cut every span of
    tokens covered by an ``n``-gram occurring more than once in the
    corpus out of each document and reassemble the survivors in order.
    Document-level dedup deletes whole near-twins; this deletes the
    boilerplate, quoted, and templated SPANS that remain inside
    otherwise-unique documents — the operation, not just the meter.

    Plan: the meter's gram machinery verbatim (tokenize -> gram-start
    explode -> corpus count > 1, map-side combined -> semi-join marks
    occurrences [s, s+n)) -> merge overlapping/adjacent spans per doc
    with the classic two-window pass (running max end marks
    merge-group starts; a running sum numbers the groups; group
    min/max are the merged intervals) -> ONE builtin ``aggregate``
    expression walks each doc's sorted merged intervals and
    concatenates the uncovered slices (gap before each interval, tail
    after the last) — no per-token explode, no Python in the loop. A
    doc is one row end-to-end after the gram aggregate; per-doc state
    is its own merged-interval list, document-sized.

    Returns (id, n_tokens, kept_tokens, removed_tokens, text_kept) for
    EVERY input document; docs with nothing duplicated pass through
    with their (whitespace-normalized) token stream intact.
    """
    from pyspark.sql.window import Window

    from stockpy_spark.functions.text import tokenize

    base = df.select(
        F.col(id_col).alias("__id"), tokenize(text_col).alias("__t")
    ).withColumn("__nt", F.size("__t"))
    grams = base.where(F.col("__nt") >= n).select(
        "__id",
        F.explode(F.sequence(F.lit(0), F.col("__nt") - n)).alias("s"),
        F.col("__t").alias("__t"),
    ).select(
        "__id",
        "s",
        F.concat_ws(" ", F.slice("__t", F.col("s") + 1, n)).alias("gram"),
    )
    dup_grams = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") > 1)
        .select("gram")
    )
    occ = grams.join(dup_grams, "gram", "left_semi").select(
        "__id", "s", (F.col("s") + n).alias("e")
    )
    w_prev = (
        Window.partitionBy("__id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("__id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = (
        occ.withColumn("__pmax", F.max("e").over(w_prev))
        .withColumn(
            "__new",
            F.when(
                F.col("__pmax").isNull() | (F.col("s") > F.col("__pmax")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("__grp", F.sum("__new").over(w_run))
        .groupBy("__id", "__grp")
        .agg(F.min("s").alias("ms"), F.max("e").alias("me"))
        .groupBy("__id")
        .agg(
            F.sort_array(F.collect_list(F.struct("ms", "me"))).alias("__spans")
        )
    )
    acc0 = F.struct(
        F.lit(0).alias("prev"), F.array().cast("array<string>").alias("keep")
    )
    kept = base.join(merged, "__id", "left").select(
        "__id",
        "__nt",
        F.aggregate(
            F.coalesce("__spans", F.array().cast("array<struct<ms:int,me:int>>")),
            acc0,
            lambda acc, sp: F.struct(
                sp["me"].alias("prev"),
                F.concat(
                    acc["keep"],
                    F.slice(
                        "__t", acc["prev"] + 1, sp["ms"] - acc["prev"]
                    ),
                ).alias("keep"),
            ),
            lambda acc: F.concat(
                acc["keep"],
                F.slice("__t", acc["prev"] + 1, F.col("__nt") - acc["prev"]),
            ),
        ).alias("__keep"),
    )
    return kept.select(
        F.col("__id").alias(id_col),
        F.col("__nt").cast("long").alias("n_tokens"),
        F.size("__keep").cast("long").alias("kept_tokens"),
        (F.col("__nt") - F.size("__keep")).cast("long").alias("removed_tokens"),
        F.concat_ws(" ", "__keep").alias("text_kept"),
    )
