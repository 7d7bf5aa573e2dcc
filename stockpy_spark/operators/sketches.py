"""Mergeable-sketch aggregates: the 100 TB pattern for DISTINCT rollups.

`reaggregate` (timeseries.py) proves sum/count/min/max roll up from fine
partials to coarse grids without rescanning raw data — but COUNT
DISTINCT is not decomposable: daily exact distinct-user counts cannot be
summed into a monthly one. The lakehouse answer is a mergeable sketch:
keep one tiny HLL (Datasketches HllSketch, the engine behind Spark's
``hll_sketch_agg``) per fine bucket, and union sketches upward — KB of
state per bucket, one narrow shuffle per rollup level, bounded relative
error (~1.6% at lgK=12). Spark ships the full algebra as built-ins
(``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``), so
this stays JVM-side with zero UDFs.

Correctness gating: sketch binaries are engine-specific, so the raw
sketches have no cross-engine oracle. Like the ANN/LSH families
(registry/similarity.py gate queries), the QUALITY CONTRACT is hash-checked
instead: the rollup emits the coarse estimate alongside the exact
distinct count and a gate column that is 1 iff the relative error
clears the floor; the DuckDB oracle states the expected gate rows by
computing the exact side with real SQL.

Reference parity: none (the reference has no sketches); extension
surface per the LLM-pipeline brief (corpus-scale distinct counting:
unique users/domains/fingerprints per shard, rolled up without rescan).

Round 7 widens the shelf to the other two Datasketches families Spark 4
ships as built-ins: KLL quantile sketches (``kll_sketch_agg_double`` /
``kll_merge_agg_double`` / ``kll_sketch_get_quantile_double`` —
mergeable percentiles, :func:`kll_rollup_quality`) and theta sketches
(``theta_sketch_agg`` + ``theta_union``/``theta_intersection``/
``theta_difference`` — distinct counting WITH set algebra,
:func:`theta_overlap_quality`). Same gate scheme for all three.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Datasketches HLL accuracy knob: 2^12 registers, ~1.6% stderr.
DEFAULT_LGK = 12


def hll_bucket_sketches(
    df: DataFrame,
    time_col: str,
    key_col: str,
    bucket_seconds: int,
    group_cols: list[str] | None = None,
    lgk: int = DEFAULT_LGK,
) -> DataFrame:
    """One HLL sketch of ``key_col``'s distinct values per
    (``group_cols``, time bucket). This is the state a streaming or
    daily-batch job persists: KB per bucket regardless of cardinality,
    and — unlike an exact distinct — mergeable upward by
    :func:`hll_merge_rollup` without touching raw data again.
    One shuffle, map-side partial sketch merge."""
    group_cols = group_cols or []
    bucket = F.timestamp_seconds(
        (F.col(time_col).cast("timestamp").cast("long") / bucket_seconds)
        .cast("long") * bucket_seconds
    ).alias("bucket_start")
    return df.groupBy(*group_cols, bucket).agg(
        F.hll_sketch_agg(F.col(key_col), F.lit(lgk)).alias("hll"),
        F.count(key_col).alias("n_rows"),
    )


def hll_merge_rollup(
    sketches: DataFrame,
    coarse_seconds: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Roll fine-bucket sketches up to a coarser grid by unioning the
    sketch state (``hll_union_agg``) — the coarse level reads only the
    fine SKETCHES, never the raw events, which is what makes a
    month-over-100 TB distinct query cost MBs instead of a rescan.
    Emits the coarse estimate; input row counts sum alongside."""
    group_cols = group_cols or []
    coarse = F.timestamp_seconds(
        (F.col("bucket_start").cast("long") / coarse_seconds).cast("long")
        * coarse_seconds
    ).alias("bucket_start")
    return (
        sketches.groupBy(*group_cols, coarse)
        .agg(
            F.hll_union_agg("hll").alias("hll"),
            F.sum("n_rows").alias("n_rows"),
            F.count(F.lit(1)).alias("n_fine_buckets"),
        )
        .withColumn("approx_distinct", F.hll_sketch_estimate("hll"))
    )


def hll_rollup_quality(
    df: DataFrame,
    time_col: str,
    key_col: str,
    fine_seconds: int,
    coarse_seconds: int,
    max_rel_err: float = 0.05,
    lgk: int = DEFAULT_LGK,
) -> DataFrame:
    """The hash-checkable quality contract for the two-level HLL rollup:
    per coarse bucket, the sketch-merge estimate must sit within
    ``max_rel_err`` of the exact distinct count (computed here as the
    verify-tier full pass — at test SF it is cheap; at 100 TB only the
    sketch path runs). Returns (bucket_start, exact_distinct,
    n_fine_buckets, gate_rel_err_ok) — deterministic because Spark's
    HLL is seed-fixed, so the driver hash gate pins the whole
    sketch algebra."""
    if coarse_seconds % fine_seconds != 0:
        raise ValueError(
            f"coarse grid {coarse_seconds}s is not a multiple of the fine "
            f"grid {fine_seconds}s — fine buckets would straddle coarse ones"
        )
    fine = hll_bucket_sketches(df, time_col, key_col, fine_seconds, lgk=lgk)
    merged = hll_merge_rollup(fine, coarse_seconds)
    coarse = F.timestamp_seconds(
        (F.col(time_col).cast("timestamp").cast("long") / coarse_seconds)
        .cast("long") * coarse_seconds
    ).alias("bucket_start")
    exact = df.groupBy(coarse).agg(
        F.countDistinct(key_col).alias("exact_distinct")
    )
    return (
        merged.join(exact, "bucket_start")
        .select(
            "bucket_start",
            "exact_distinct",
            "n_fine_buckets",
            (
                F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
                <= F.col("exact_distinct") * F.lit(max_rel_err)
            ).cast("int").alias("gate_rel_err_ok"),
        )
    )


def kll_rollup_quality(
    df: DataFrame,
    time_col: str,
    value_col: str,
    fine_seconds: int,
    coarse_seconds: int,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
    max_rank_err: float = 0.05,
) -> DataFrame:
    """Two-level QUANTILE rollup via mergeable KLL sketches — the
    percentile twin of the HLL distinct rollup: one
    ``kll_sketch_agg_double`` per fine bucket (KB of state), merged
    upward with ``kll_merge_agg_double`` so the coarse percentiles read
    fine SKETCHES, never raw data. Exact percentiles are holistic
    (sort-based, non-decomposable) — the sketch algebra is what makes
    "weekly p50/p99 latency over 100 TB" a MB-sized rollup.

    Quality contract (the hash-checkable part, same scheme as
    :func:`hll_rollup_quality`): per coarse bucket and per requested
    quantile p, the verify-tier pass computes the TRUE rank of the
    sketch's estimate — the exact fraction of values <= estimate — and
    gates |true_rank - p| <= ``max_rank_err`` (KLL's default-k rank
    error is ~1.3%, the gate default is generous at 5%). Emitted
    columns are exact-side values + gate flags only, so the driver hash
    is stable even where the estimate itself could wobble. Returns
    (bucket_epoch, n_rows, n_fine_buckets, ok_q<pct>...).
    """
    if coarse_seconds % fine_seconds != 0:
        raise ValueError(
            f"coarse grid {coarse_seconds}s is not a multiple of the fine "
            f"grid {fine_seconds}s"
        )
    sec = F.col(time_col).cast("timestamp").cast("long")
    base = df.select(
        (sec / fine_seconds).cast("long").alias("__fine"),
        F.col(value_col).cast("double").alias("__v"),
    )
    fine = base.groupBy("__fine").agg(
        F.kll_sketch_agg_double("__v").alias("sk"),
        F.count("__v").alias("__n"),
    )
    coarse_expr = (
        (F.col("__fine") * fine_seconds / coarse_seconds).cast("long")
        * coarse_seconds
    ).alias("bucket_epoch")
    merged = fine.groupBy(coarse_expr).agg(
        F.expr("kll_merge_agg_double(sk)").alias("m"),
        F.sum("__n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_fine_buckets"),
    )
    ests = merged.select(
        "bucket_epoch",
        "n_rows",
        "n_fine_buckets",
        *[
            F.kll_sketch_get_quantile_double("m", F.lit(float(p))).alias(
                f"__est{i}"
            )
            for i, p in enumerate(probs)
        ],
    )
    # verify tier: one conditional aggregate computes every estimate's
    # exact rank (only run at test SF / audit time; production trusts
    # the sketch bound)
    with_bucket = base.select(
        ((F.col("__fine") * fine_seconds / coarse_seconds).cast("long")
         * coarse_seconds).alias("bucket_epoch"),
        "__v",
    )
    joined = with_bucket.join(F.broadcast(ests), "bucket_epoch")
    return (
        joined.groupBy("bucket_epoch")
        .agg(
            F.first("n_rows").alias("n_rows"),
            F.first("n_fine_buckets").alias("n_fine_buckets"),
            *[
                (
                    F.abs(
                        F.avg(
                            (F.col("__v") <= F.col(f"__est{i}")).cast("double")
                        )
                        - F.lit(float(p))
                    )
                    <= F.lit(float(max_rank_err))
                ).cast("int").alias(f"ok_q{int(round(p * 100))}")
                for i, p in enumerate(probs)
            ],
        )
    )


def theta_overlap_quality(
    df: DataFrame,
    segment_col: str,
    key_col: str,
    seg_a: str,
    seg_b: str,
    max_rel_err: float = 0.05,
) -> DataFrame:
    """Audience-overlap algebra via theta sketches — the sketch family
    whose point over HLL is SET OPERATIONS: one ``theta_sketch_agg``
    per segment, then ``theta_union`` / ``theta_intersection`` /
    ``theta_difference`` between segment sketches answer "users who
    viewed AND purchased / viewed but never purchased" without ever
    joining raw data against raw data. At 100 TB each segment's sketch
    is KBs and the set algebra is driver-trivial; the exact
    formulation is a distinct-key semi/anti join per question.

    Quality contract: the verify-tier exact counts (distinct keys in
    a, in b, in both, in either, in a-only) gate the four estimates at
    ``max_rel_err`` relative error (intersections of similar-sized
    segments sit well inside theta's error envelope). NULL keys are
    excluded on both tiers (the sketch skips them; the exact side must
    count the same population). Returns one row per measure:
    (measure STRING, exact BIGINT, gate_ok INT) — exact values + flags
    only, hash-stable."""
    keyed = df.select(
        F.col(segment_col).alias("__seg"), F.col(key_col).alias("__k")
    ).where(
        F.col(segment_col).isin([seg_a, seg_b])
        & F.col(key_col).isNotNull()
    )
    sk = keyed.groupBy("__seg").agg(
        F.theta_sketch_agg("__k").alias("sk")
    )
    a_sk = sk.where(F.col("__seg") == seg_a).select(F.col("sk").alias("a"))
    b_sk = sk.where(F.col("__seg") == seg_b).select(F.col("sk").alias("b"))
    both = a_sk.crossJoin(b_sk).select(
        F.theta_sketch_estimate("a").alias("__ea"),
        F.theta_sketch_estimate("b").alias("__eb"),
        F.theta_sketch_estimate(F.expr("theta_union(a, b)")).alias("__eu"),
        F.theta_sketch_estimate(
            F.expr("theta_intersection(a, b)")
        ).alias("__ei"),
        F.theta_sketch_estimate(
            F.expr("theta_difference(a, b)")
        ).alias("__ed"),
    )
    ka = keyed.where(F.col("__seg") == seg_a).select("__k").distinct()
    kb = keyed.where(F.col("__seg") == seg_b).select("__k").distinct()
    exact = (
        ka.agg(F.count(F.lit(1)).alias("x_a"))
        .crossJoin(kb.agg(F.count(F.lit(1)).alias("x_b")))
        .crossJoin(
            ka.join(kb, "__k", "inner").agg(F.count(F.lit(1)).alias("x_i"))
        )
        .crossJoin(
            ka.join(kb, "__k", "left_anti").agg(F.count(F.lit(1)).alias("x_d"))
        )
    ).withColumn("x_u", F.col("x_a") + F.col("x_b") - F.col("x_i"))
    out = both.crossJoin(F.broadcast(exact))
    tol = F.lit(float(max_rel_err))

    def gate(est, ex):
        return (
            F.abs(F.col(est) - F.col(ex)) <= F.greatest(F.col(ex) * tol, F.lit(1.0))
        ).cast("int")

    measures = [
        (seg_a, "__ea", "x_a"),
        (seg_b, "__eb", "x_b"),
        ("union", "__eu", "x_u"),
        ("intersection", "__ei", "x_i"),
        ("difference", "__ed", "x_d"),
    ]
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("measure"),
                F.col(ex).cast("long").alias("exact"),
                gate(est, ex).alias("gate_ok"),
            )
            for name, est, ex in measures
        ]
    )
    return out.select(F.explode(rows).alias("r")).select("r.*")


def heavy_hitters_quality(
    df: DataFrame, col: str, k: int = 16
) -> DataFrame:
    """Misra-Gries heavy hitters — the FREQUENCY member of the
    mergeable-sketch shelf (HLL = distinct, KLL = quantiles, theta =
    set ops, this = top items): each partition keeps at most ``k``
    counters (insert; when full, decrement all by the minimum and drop
    zeros — Misra & Gries 1982), partial summaries merge by plain
    summation WITHOUT re-trimming, so the merged estimate only ever
    UNDERCOUNTS and by at most N/(k+1) regardless of partitioning.
    That is the 100 TB shape: per-task state is k counters, the
    shuffle is <= k rows per task, and the guarantee — every item with
    true count > N/k survives with estimate within N/k — holds under
    ANY partition layout, which is what makes the gate deterministic.

    Quality contract (gate-style, like the HLL/KLL/theta rows): the
    verify-tier EXACT counts find the true hitters (count * k > N,
    integer arithmetic — no float threshold), then each is flagged
    ``found`` (present in the sketch's candidate set) and ``est_ok``
    ((exact - est) * k <= N, i.e. undercount within N/k; MG never
    overcounts). Returns (item, exact, found, est_ok) for hitters
    only — the candidate TAIL is partitioning-dependent by nature and
    is not part of the deterministic surface.
    """
    import pandas as pd

    vals = df.select(F.col(col).cast("string").alias("__v")).where(
        F.col("__v").isNotNull()
    )

    def mg_partial(batches):
        d: dict[str, int] = {}
        for pdf in batches:
            for item, w in pdf["__v"].value_counts().items():
                d[item] = d.get(item, 0) + int(w)
                if len(d) > k:
                    m = min(d.values())
                    d = {i: c - m for i, c in d.items() if c > m}
        yield pd.DataFrame(
            {"item": list(d.keys()), "w": list(d.values())}
        )

    cand = (
        vals.mapInPandas(mg_partial, "item string, w long")
        .groupBy("item")
        .agg(F.sum("w").alias("est"))
    )
    census = vals.agg(F.count(F.lit(1)).alias("__n"))
    exact = vals.groupBy(F.col("__v").alias("item")).agg(
        F.count(F.lit(1)).alias("exact")
    )
    hitters = exact.crossJoin(F.broadcast(census)).where(
        F.col("exact") * F.lit(k) > F.col("__n")
    )
    return (
        hitters.join(cand, "item", "left")
        .select(
            "item",
            "exact",
            F.col("est").isNotNull().cast("int").alias("found"),
            (
                F.col("est").isNotNull()
                & ((F.col("exact") - F.col("est")) * F.lit(k) <= F.col("__n"))
            ).cast("int").alias("est_ok"),
        )
    )


def cm_sketch_estimates(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 256,
    salt: str = "cm",
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) — the
    POINT-FREQUENCY member of the mergeable-sketch shelf (HLL =
    distinct, KLL = quantiles, theta = set ops, Misra-Gries = top
    items, this = "how often did X occur"): a ``depth x width`` grid of
    counters, item -> one counter per row via independent hashes,
    estimate = min over the rows. Counters never decrement, so the
    estimate only ever OVERCOUNTS (collisions add), and
    ``est - exact <= 2N/width`` with probability ``1 - 2^-depth`` per
    the classic bound.

    100 TB shape: the sketch build is ONE map-side-combined aggregate
    whose output is depth*width rows (KB — constant in corpus size),
    mergeable across partitions/days by cell-wise addition. Unlike
    Misra-Gries, the final grid is a pure function of the multiset —
    partitioning-invariant — and the md5 bucket derivation is
    engine-portable, so the whole sketch AND every point estimate sit
    under a full SQL hash oracle, not just a quality gate.

    Returns (item, exact_count, cm_estimate) for every distinct item —
    the exact count is the verify tier (computed alongside; at 100 TB
    you would keep only the sketch and skip this column)."""
    grid = cm_partial_grid(df, col, depth, width, salt)
    return cm_point_estimates(grid, df, col, depth, width, salt)


def _cm_jb(v: Column, depth: int, width: int, salt: str) -> Column:
    """Exploded-ready array of (j, bucket_j) structs for a key."""
    def bucket(j: int):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("\x1f", F.lit(f"{salt}{j}"), v)), 1, 13
                ),
                16,
                10,
            ).cast("long")
            % F.lit(width)
        )

    return F.array(
        *[
            F.struct(F.lit(j).alias("j"), bucket(j).alias("b"))
            for j in range(depth)
        ]
    )


def cm_partial_grid(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 256,
    salt: str = "cm",
) -> DataFrame:
    """(j, b, c): the Count-Min grid of ``df``'s keys as sparse cells.
    Grids MERGE by cell-wise addition (groupBy (j, b) sum(c)) — the
    property the streaming accumulator relies on: a grid built per
    micro-batch and summed equals the grid built over the union."""
    vals = df.select(F.col(col).cast("string").alias("__v")).where(
        F.col("__v").isNotNull()
    )
    rows = vals.select(
        F.explode(_cm_jb(F.col("__v"), depth, width, salt)).alias("__jb")
    ).select("__jb.j", "__jb.b")
    return rows.groupBy("j", "b").agg(F.count(F.lit(1)).alias("c"))


def cm_point_estimates(
    grid: DataFrame,
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 256,
    salt: str = "cm",
) -> DataFrame:
    """The verify tier: every distinct key of ``df`` with its exact
    count and the grid's min-over-rows estimate (at 100 TB you keep
    only the sketch and skip the exact column)."""
    vals = df.select(F.col(col).cast("string").alias("__v")).where(
        F.col("__v").isNotNull()
    )
    exact = vals.groupBy("__v").agg(F.count(F.lit(1)).alias("exact_count"))
    key_rows = exact.select(
        "__v",
        "exact_count",
        F.explode(_cm_jb(F.col("__v"), depth, width, salt)).alias("__jb"),
    ).select("__v", "exact_count", "__jb.j", "__jb.b")
    return (
        key_rows.join(F.broadcast(grid), ["j", "b"])
        .groupBy("__v", "exact_count")
        .agg(F.min("c").alias("cm_estimate"))
        .select(
            F.col("__v").alias("item"),
            F.col("exact_count").cast("long").alias("exact_count"),
            F.col("cm_estimate").cast("long").alias("cm_estimate"),
        )
    )


def bloom_build(
    df: DataFrame,
    col: str,
    m_bits: int = 1024,
    k_hashes: int = 3,
    salt: str = "bloom",
) -> DataFrame:
    """Bloom filter — the MEMBERSHIP member of the mergeable-sketch
    shelf: each key sets ``k_hashes`` md5-derived bit positions in an
    ``m_bits`` bitmap; filters merge by cell-wise OR. Returned as a
    (word, bits) frame of BIGINT words holding 63 bits each (bit 63
    deliberately unused: DuckDB errors on ``1 << 63``, and the oracle
    must replay the exact arithmetic). The bitmap is a pure function of
    the key SET — partitioning-invariant — built by one map-side-
    combined bit_or aggregate whose output is m_bits/63 rows, constant
    in corpus size. No false negatives ever; false-positive rate is
    the standard (1 - e^(-kn/m))^k."""
    vals = df.select(F.col(col).cast("string").alias("__v")).where(
        F.col("__v").isNotNull()
    )
    pos = _bloom_positions(F.col("__v"), m_bits, k_hashes, salt)
    return (
        vals.select(F.explode(pos).alias("__p"))
        .select(
            (F.floor(F.col("__p") / 63)).cast("long").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__p % 63 AS INT))").alias("__bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("__bit").alias("bits"))
    )


def _bloom_positions(v: Column, m_bits: int, k_hashes: int, salt: str) -> Column:
    return F.array(
        *[
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("\x1f", F.lit(f"{salt}{j}"), v)), 1, 13
                ),
                16,
                10,
            ).cast("long")
            % F.lit(m_bits)
            for j in range(k_hashes)
        ]
    )


def bloom_screen(
    batch: DataFrame,
    col: str,
    bloom: DataFrame,
    m_bits: int = 1024,
    k_hashes: int = 3,
    salt: str = "bloom",
) -> DataFrame:
    """Adds ``bloom_maybe`` (int 0/1) to ``batch``: 1 iff ALL of the
    key's bit positions are set in the (broadcast) bloom frame — the
    tiny-state membership screen that answers "definitely new" without
    touching the corpus. A key the filter rejects is GUARANTEED absent
    (route it straight to ingest); a 'maybe' routes to the exact
    anti-join. The screen is a pure narrow map: the KB-sized word
    table collapses to ONE map literal (a 1-row broadcast, the
    scalar-subquery idiom) and every probe is a ``forall`` over the k
    positions — no explode, no re-group, so duplicate input rows
    survive (adds-a-column contract) and non-groupable column types
    (maps) pass through untouched.

    ``m_bits`` is capped at 2**26 (64 Mbit = ~8 MB of packed words in
    ONE row/one collect task — r11 advisor): the single-row map is the
    right shape for the documented KB-scale filter, but a caller
    sizing the filter for a billion-key corpus would silently funnel
    the whole bit array through one task and one broadcast row. Past
    the cap, shard the filter (one bloom_screen per shard, OR the
    maybes) or use the exact key-set semi-join the admitter already
    materializes."""
    if m_bits > 1 << 26:
        raise ValueError(
            f"bloom_screen m_bits={m_bits} exceeds the 2**26 single-row "
            "map ceiling; shard the filter or use an exact key-set "
            "semi-join at that scale"
        )
    packed = bloom.agg(
        F.map_from_entries(
            F.collect_list(F.struct("word", "bits"))
        ).alias("__bm")
    )
    pos = _bloom_positions(F.col(col).cast("string"), m_bits, k_hashes, salt)
    # NB: no CSE inside HOF lambdas — keep per-element work to one
    # map lookup and one cheap shift (the O(nt^3) lesson)
    def _bit(p):  # shiftleft() builtin only takes a literal count
        return F.call_function(
            "shiftleft", F.lit(1).cast("long"), (p % 63).cast("int")
        )

    maybe = F.forall(
        pos,
        lambda p: F.coalesce(
            F.element_at(
                F.col("__bm"), F.floor(p / 63).cast("long")
            ).bitwiseAND(_bit(p))
            == _bit(p),
            F.lit(False),
        ),
    )
    return batch.crossJoin(F.broadcast(packed)).select(
        *batch.columns, maybe.cast("int").alias("bloom_maybe")
    )
