"""Bucket-count invariance of the bucketed prefix-sum family under one
value outlier.

Each operator splits its order axis into quantile buckets and closes the
prefix across them, so its output must not depend on ``n_buckets``. The
adversarial input is uniform draws plus ONE row at 1e12 (1e18 on the
time axis), which collapses equal-width edges into a single bucket. The
draws are deterministic ``xxhash64`` values, because ``F.rand``
re-evaluates per action and would break the cross-plan equality.
BASELINE.md "Round-12 equal-frequency bucketing + value-outlier probe"
and "Round-13: outlier probe extended to the full 7-member family"
record the timing half of the same experiment at 2M rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stockpy_spark.operators import stats as stats_mod

N = 2_000
OUTLIER = 1.0e12
T_OUTLIER = 1.0e18


def draw(col, salt: str):
    return (
        F.pmod(F.xxhash64(col.cast("string"), F.lit(salt)), F.lit(1_000_000))
        / 1_000_000.0
    )


def with_outlier(v, outlier: float = OUTLIER):
    return F.when(F.col("id") == 0, F.lit(outlier)).otherwise(v)


def rows_sorted(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def hash_digest(df, *cols, **extra):
    """Row count plus an order-insensitive hash-sum over ``cols``, so a
    single-row divergence between bucket plans shows without collecting
    every row."""
    return tuple(
        df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(
                F.pmod(F.xxhash64(*cols), F.lit(1_000_000_007))
            ).alias("hashsum"),
            *[agg.alias(name) for name, agg in extra.items()],
        ).collect()[0]
    )


def ks(spark, n_buckets):
    from stockpy_spark.operators.drift import ks_2samp

    ref = spark.range(N).select(with_outlier(draw(F.col("id"), "ks")).alias("v"))
    cur = spark.range(N).select(
        (draw(F.col("id"), "ks2") * 0.9 + 0.1).alias("v")
    )
    return rows_sorted(ks_2samp(ref, cur, "v", n_buckets=n_buckets))


def spearman(spark, n_buckets):
    from stockpy_spark.operators.stats import spearman_corr_pairs

    x = with_outlier(draw(F.col("id"), "sx") + F.col("id") * 1e-9)
    df = spark.range(N).select(
        x.alias("x"), (x * 0.5 + draw(F.col("id"), "sy")).alias("y")
    )
    return rows_sorted(spearman_corr_pairs(df, ["x", "y"], n_buckets=n_buckets))


def gini(spark, n_buckets):
    from stockpy_spark.operators.stats import gini_by_group

    df = spark.range(N).select(
        (F.col("id") % 4).alias("grp"),
        with_outlier(draw(F.col("id"), "g") * 1000.0).alias("x"),
    )
    return rows_sorted(gini_by_group(df, "grp", "x", n_buckets=n_buckets))


def pareto(spark, n_buckets):
    from stockpy_spark.operators.skyline import pareto_frontier_2d

    df = spark.range(N).select(
        with_outlier(draw(F.col("id"), "px") + F.col("id") * 1e-9).alias("x"),
        draw(F.col("id"), "py").alias("y"),
    )
    return rows_sorted(pareto_frontier_2d(df, "x", "y", n_buckets))


def concurrency(spark, n_buckets):
    from stockpy_spark.operators.timeseries import interval_concurrency

    s = with_outlier(draw(F.col("id"), "cs") * 1e6, T_OUTLIER)
    df = spark.range(N).select(
        (F.col("id") % 5).cast("string").alias("k"),
        s.alias("s"),
        (s + 1000.0).alias("e"),
    )
    out = interval_concurrency(df, "s", "e", ["k"], n_buckets)
    return hash_digest(
        out, F.col("k"), F.col("at_ts").cast("string"), F.col("concurrent"),
        max_c=F.max("concurrent"),
    )


def pack(spark, n_buckets):
    """The order axis is the (doc, chunk) id space: ONE doc id sits at
    1e12."""
    from stockpy_spark.operators.sampling import pack_chunks_ordered

    doc = (F.col("id") / F.lit(3)).cast("long").cast("double")
    doc = F.when(F.col("id") < 3, F.lit(OUTLIER)).otherwise(doc)
    df = spark.range(N).select(
        doc.alias("doc"),
        (F.col("id") % 3).alias("chunk"),
        (F.pmod(F.xxhash64(F.col("id")), F.lit(90)) + 10).alias("tok"),
    )
    out = pack_chunks_ordered(df, "doc", "chunk", "tok", 4096, n_buckets)
    return hash_digest(
        out,
        F.col("doc").cast("string"), F.col("chunk"),
        F.col("seq_start"), F.col("bin"),
        max_start=F.max("seq_start"), max_bin=F.max("bin"),
    )


def matched(spark, n_buckets):
    """Every value inside one tolerance bucket (plus the outlier row),
    the degenerate case the equal-frequency sub-buckets exist for."""
    from stockpy_spark.operators.sampling import matched_controls

    pool = spark.range(N).select(
        F.col("id"), with_outlier(draw(F.col("id"), "mc") * 0.5).alias("v")
    )
    ev = spark.range(N // 4).select(
        (F.col("id") + N).alias("id"),
        (draw(F.col("id"), "me") * 0.5).alias("v"),
    )
    out = matched_controls(ev, pool, "id", "v", 1000.0, n_buckets)
    return hash_digest(
        out, F.col("eval_id"), F.col("control_id"), F.col("gap").cast("string"),
        matched=F.count("control_id"),
    )


# operator -> its own default bucket count
CASES = {
    ks: 64,
    spearman: 256,
    gini: 64,
    pareto: 64,
    concurrency: 64,
    pack: 256,
    matched: 32,
}


@pytest.mark.parametrize("op", list(CASES), ids=lambda op: op.__name__)
def test_output_invariant_to_bucket_count_under_outlier(spark, op, monkeypatch):
    # at this size Spearman's literal rank tier would skip the buckets
    monkeypatch.setattr(stats_mod, "RANK_LITERAL_MAX", 0)
    assert op(spark, CASES[op]) == op(spark, 4)
