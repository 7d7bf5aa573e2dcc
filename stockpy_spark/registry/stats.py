"""Statistics queries: hypothesis tests, correlation and association,
drift screens, data-quality profiles and constraints, sketches (HLL,
KLL, theta, count-min, heavy hitters), privacy, sampling and splits,
feature encodings and behavioral analytics (funnels, cohorts, baskets,
attribution).

Every per-row float the oracle compares is built from the same integer
counts or moment sums in both engines. Sketch queries whose state
differs across engines are gated on their quality contract; the
HLL-backed approx_distinct_users is rows-only.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stockpy_spark.operators.drift import ks_2samp, population_stability_index
from stockpy_spark.operators.features import quantile_bucketize
from stockpy_spark.operators.filters import robust_clip_outliers
from stockpy_spark.operators.quality import (
    accepted_values,
    min_rows,
    null_fraction,
    orphan_count,
    run_checks,
    unique_key,
    value_range,
)
from stockpy_spark.operators.sampling import (
    group_train_test_split,
    hash_sample,
    negative_pair_sample,
    stratified_sample_exact,
    temperature_resample,
    train_test_split,
)
from stockpy_spark.operators.sketches import hll_rollup_quality
from stockpy_spark.operators.skyline import pareto_frontier_2d
from stockpy_spark.operators.stats import (
    categorical_association,
    categorical_entropy,
    correlation_matrix,
    mahalanobis_outliers_2d,
    welch_ttest,
)
from stockpy_spark.registry._common import (
    _BUCKET_SQL,
    SQL_CM_SKETCH,
    _t,
    query,
)
from stockpy_spark.sources.testdata import read_events


# --- approximate aggregates (rows-only: HLL differs across engines) ---
@query("approx_distinct_users", oracle=None)
def q_approx_distinct_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.percentile_approx("value", 0.5).alias("median_value_approx"),
    )


SQL_GATE_HLL = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(1 AS BIGINT) AS hll_ok,
       CAST(1 AS BIGINT) AS median_ok
FROM events GROUP BY event_type
"""


@query("gate_approx_distinct_err", oracle=SQL_GATE_HLL)
def q_gate_approx_distinct_err(spark, sf_dir):
    """Per-group sketch-error gate: approx_count_distinct (HLL++) must
    land within 5% of the exact distinct count and percentile_approx
    within 1% of the exact median. exact_users is pinned against the
    SQL-computed exact side, so the gate also re-verifies the exact
    aggregation path."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.percentile_approx("value", 0.5).alias("approx_median"),
        F.expr("percentile(value, 0.5)").alias("exact_median"),
    )
    return agg.select(
        "event_type",
        F.col("exact_users").cast("long").alias("exact_users"),
        F.when(
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= F.lit(0.05),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("hll_ok"),
        F.when(
            F.abs(F.col("approx_median") - F.col("exact_median"))
            # greatest(...) guards exact_median==0: non-ANSI division by
            # zero yields NULL which would flip the gate red on data
            # drift rather than a real quality regression.
            / F.greatest(F.abs(F.col("exact_median")), F.lit(1e-12))
            <= F.lit(0.01),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("median_ok"),
    )


SQL_SAMPLE_HASH = f"""
SELECT doc_id, lang FROM documents
WHERE {_BUCKET_SQL.format(salt='sample')} < 1000
"""


@query("sample_hash_docs", oracle=SQL_SAMPLE_HASH)
def q_sample_hash_docs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.1).select("doc_id", "lang")


SQL_SPLIT = f"""
SELECT doc_id,
       CASE WHEN {_BUCKET_SQL.format(salt='split')} < 2000
            THEN 'test' ELSE 'train' END AS split
FROM documents
"""


@query("split_train_test", oracle=SQL_SPLIT)
def q_split_train_test(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return train_test_split(docs, "doc_id", 0.2).select("doc_id", "split")


SQL_SPLIT_GROUP = """
WITH g AS (
    SELECT doc_id, md5(coalesce(text, '')) AS grp FROM documents
), rep AS (
    SELECT grp, min(doc_id) AS rep FROM g GROUP BY 1
), s AS (
    SELECT grp,
           CASE WHEN CAST(concat('0x', substr(md5('gsplit|' ||
                     CAST(rep AS VARCHAR)), 1, 15)) AS BIGINT)
                     % 10000 < 2000
                THEN 'test' ELSE 'train' END AS split
    FROM rep
)
SELECT g.doc_id, s.split FROM g JOIN s ON g.grp = s.grp
"""


@query("split_group_guard", oracle=SQL_SPLIT_GROUP)
def q_split_group_guard(spark, sf_dir):
    """Leakage-guarded train/test split (operators/sampling.py
    group_train_test_split): documents grouped by exact-text identity
    (md5 of text — the corpus plants byte-identical duplicates), split
    assigned from each group's MIN doc_id so duplicate clusters can
    never straddle the boundary. The oracle replays grouping,
    representative election, and the bucket rule, so a single member
    leaking to the other split hash-mismatches."""
    docs = _t(spark, sf_dir, "documents")
    grouped = docs.select(
        "doc_id", F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("grp")
    )
    return group_train_test_split(grouped, "doc_id", "grp", 0.2).select(
        "doc_id", "split"
    )


SQL_DP_COUNTS = """
WITH g AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_true
    FROM events WHERE event_type IS NOT NULL GROUP BY 1
), u AS (
    SELECT event_type, n_true,
           (CAST(concat('0x', substr(md5('dp|' || event_type), 1, 15))
                 AS BIGINT) % 1000000 + 0.5) / 1000000.0 AS uval
    FROM g
)
SELECT event_type, n_true,
       round(-(1.0) * (CASE WHEN uval >= 0.5 THEN 1.0 ELSE -1.0 END)
             * ln(1 - 2 * abs(uval - 0.5)), 6) AS noise,
       round(n_true + round(-(1.0)
             * (CASE WHEN uval >= 0.5 THEN 1.0 ELSE -1.0 END)
             * ln(1 - 2 * abs(uval - 0.5)), 6), 6) AS n_noisy
FROM u
"""


@query("dp_event_counts", oracle=SQL_DP_COUNTS)
def q_dp_event_counts(spark, sf_dir):
    """Epsilon-DP histogram release over event types (operators/
    privacy.py dp_noisy_counts, epsilon=1): exact per-type counts plus
    hash-seeded Laplace(1) noise through the inverse CDF — the
    calibrated-noise release shape under an exact oracle (the seeded
    uniform is what makes the release replayable AND cross-engine
    hashable; the module docstring states the production trade-off)."""
    from stockpy_spark.operators.privacy import dp_noisy_counts

    ev = _t(spark, sf_dir, "events").where(F.col("event_type").isNotNull())
    return dp_noisy_counts(ev, ["event_type"], epsilon=1.0)


SQL_TARGET_ENCODE = r"""
WITH b AS (
    SELECT o_orderkey, coalesce(CAST(o_orderpriority AS VARCHAR), '<NULL>') AS cat,
           o_totalprice AS t,
           CAST(concat('0x', substr(md5('tenc' || chr(31)
                || CAST(o_orderkey AS VARCHAR)), 1, 13)) AS BIGINT) % 5 AS fold
    FROM orders
), cells AS (
    SELECT cat, fold,
           sum(CASE WHEN t IS NOT NULL THEN t ELSE 0 END) AS s,
           sum(CASE WHEN t IS NOT NULL THEN 1 ELSE 0 END) AS n
    FROM b GROUP BY cat, fold
), ct AS (
    SELECT cat, sum(s) AS cs, sum(n) AS cn FROM cells GROUP BY cat
), g AS (
    SELECT sum(cs) / sum(cn) AS gmean FROM ct
)
SELECT b.o_orderkey, b.cat AS o_orderpriority,
       CAST(b.fold AS INTEGER) AS fold,
       round((ct.cs - c.s + 10.0 * g.gmean) / (ct.cn - c.n + 10.0), 6)
           AS o_orderpriority_enc
FROM b
JOIN cells c ON b.cat = c.cat AND b.fold = c.fold
JOIN ct ON b.cat = ct.cat, g
"""


@query("feat_target_encode", oracle=SQL_TARGET_ENCODE)
def q_feat_target_encode(spark, sf_dir):
    """Leak-proof K-fold target encoding (operators/sampling.py
    target_encode_oof — the CatBoost-style supervised feature prep):
    every order's priority category is replaced by the smoothed target
    mean of o_totalprice computed WITHOUT the row's own md5-assigned
    fold, so the encoding a model trains on never contains the row's
    own label. One (fold x category) cell aggregate broadcast back as
    a narrow map; all 15k rows' encodings hash-checked (5 folds x 5
    priorities = 25 distinct leak-free means at sf0.01)."""
    from stockpy_spark.operators.sampling import target_encode_oof

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = target_encode_oof(
        orders.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        "o_orderpriority",
        "o_totalprice",
        "o_orderkey",
    )
    return out.select(
        "o_orderkey",
        F.coalesce(
            F.col("o_orderpriority").cast("string"), F.lit("<NULL>")
        ).alias("o_orderpriority"),
        "fold",
        "o_orderpriority_enc",
    )


SQL_K_ANON = """
WITH b AS (
    SELECT c_custkey, c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket
    FROM customer
), s AS (
    SELECT c_nationkey, c_mktsegment, bal_bucket, count(*) AS a
    FROM b GROUP BY c_nationkey, c_mktsegment, bal_bucket
)
SELECT b.c_custkey,
       CAST(b.c_nationkey AS BIGINT) AS nation_released,
       b.c_mktsegment AS segment_released,
       b.bal_bucket AS balance_bucket,
       CAST(s.a AS BIGINT) AS anonymity_set,
       CAST(CASE WHEN s.a < 5 THEN 1 ELSE 0 END AS INTEGER) AS violates_k
FROM b JOIN s ON b.c_nationkey IS NOT DISTINCT FROM s.c_nationkey
             AND b.c_mktsegment IS NOT DISTINCT FROM s.c_mktsegment
             AND b.bal_bucket IS NOT DISTINCT FROM s.bal_bucket
"""


@query("privacy_k_anonymity", oracle=SQL_K_ANON)
def q_privacy_k_anonymity(spark, sf_dir):
    """k-anonymity release audit (operators/privacy.py
    k_anonymity_audit — the privacy shelf's third member after the DP
    release and PII redaction): customers audited on the quasi-
    identifier (nation, market segment, 1000-wide balance bucket) at
    k=5 — every row annotated with its anonymity-set size and the
    re-identifiability flag, the generalization ledger a release gate
    actually checks. Null-safe set join (NULL quasi values form a real
    anonymity set); one combination-count aggregate broadcast back."""
    from stockpy_spark.operators.privacy import k_anonymity_audit

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    out = k_anonymity_audit(
        cust,
        ["c_nationkey", "c_mktsegment", "c_acctbal"],
        k=5,
        generalize={
            "c_acctbal": F.floor(F.col("c_acctbal") / 1000).cast("long")
        },
    )
    return out.select(
        "c_custkey",
        F.col("c_nationkey_released").cast("long").alias("nation_released"),
        F.col("c_mktsegment_released").alias("segment_released"),
        F.col("c_acctbal_released").alias("balance_bucket"),
        "anonymity_set",
        "violates_k",
    )


SQL_SPEARMAN = r"""
WITH b AS (
    SELECT CAST(l_quantity AS DOUBLE) AS q, CAST(l_extendedprice AS DOUBLE) AS p,
           CAST(l_discount AS DOUBLE) AS d
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
      AND l_discount IS NOT NULL
), rq AS (
    SELECT v AS q, coalesce(lt, 0) + (c + 1) / 2.0 AS r FROM (
        SELECT q AS v, count(*) AS c,
               sum(count(*)) OVER (ORDER BY q
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
        FROM b GROUP BY q)
), rp AS (
    SELECT v AS p, coalesce(lt, 0) + (c + 1) / 2.0 AS r FROM (
        SELECT p AS v, count(*) AS c,
               sum(count(*)) OVER (ORDER BY p
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
        FROM b GROUP BY p)
), rd AS (
    SELECT v AS d, coalesce(lt, 0) + (c + 1) / 2.0 AS r FROM (
        SELECT d AS v, count(*) AS c,
               sum(count(*)) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
        FROM b GROUP BY d)
), j AS (
    SELECT rq.r AS x, rp.r AS y, rd.r AS z
    FROM b JOIN rq ON b.q = rq.q JOIN rp ON b.p = rp.p JOIN rd ON b.d = rd.d
), m AS (
    SELECT count(*) AS n,
           sum(x) AS sx, sum(x * x) AS ssx,
           sum(y) AS sy, sum(y * y) AS ssy,
           sum(z) AS sz, sum(z * z) AS ssz,
           sum(x * y) AS sxy, sum(x * z) AS sxz, sum(y * z) AS syz
    FROM j
)
SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
       round((sxy - sx * sy / n)
             / sqrt((ssx - sx * sx / n) * (ssy - sy * sy / n)), 6) AS spearman
FROM m
UNION ALL
SELECT 'l_quantity', 'l_discount',
       round((sxz - sx * sz / n)
             / sqrt((ssx - sx * sx / n) * (ssz - sz * sz / n)), 6)
FROM m
UNION ALL
SELECT 'l_extendedprice', 'l_discount',
       round((syz - sy * sz / n)
             / sqrt((ssy - sy * sy / n) * (ssz - sz * sz / n)), 6)
FROM m
"""


@query("stats_spearman", oracle=SQL_SPEARMAN)
def q_stats_spearman(spark, sf_dir):
    """Exact Spearman rank correlations over lineitem's (quantity,
    extendedprice, discount) — the monotonic-dependence screen Pearson
    misses (operators/stats.py spearman_corr_pairs): textbook average
    ranks derived RELATIONALLY (per-distinct-value counts + a
    cumulative sum over the sorted distinct table + an equi-join back
    — never a corpus-wide single-partition row window); rank moment
    sums are exactly-represented doubles, so the correlations are
    bit-identical cross-engine with no rounding tricks."""
    from stockpy_spark.operators.stats import spearman_corr_pairs

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return spearman_corr_pairs(
        li, ["l_quantity", "l_extendedprice", "l_discount"]
    )


_KDE_NORM = repr(1.0 / (5.0 * __import__("math").sqrt(2.0 * __import__("math").pi)))


SQL_KDE = f"""
WITH b AS (
    SELECT CAST(value AS DOUBLE) AS x FROM events WHERE value IS NOT NULL
), r AS (
    SELECT CAST(floor(min(x)) AS DOUBLE) AS lo,
           CAST(ceil(max(x)) AS DOUBLE) AS hi, count(*) AS n
    FROM b
), g AS (
    SELECT j.j, r.lo + (r.hi - r.lo) * j.j / 31.0 AS gv, r.n
    FROM r JOIN generate_series(0, 31) j(j) ON TRUE
), d AS (
    SELECT g.j, g.gv, g.n,
           sum(exp(-power((g.gv - b.x) / 5.0, 2) / 2.0)) AS s
    FROM g JOIN b ON TRUE GROUP BY g.j, g.gv, g.n
)
SELECT CAST(j AS INTEGER) AS grid_idx, round(gv, 6) AS grid_value,
       round({_KDE_NORM} * s / n, 6) AS density
FROM d
"""


@query("stats_kde_grid", oracle=SQL_KDE)
def q_stats_kde_grid(spark, sf_dir):
    """Gaussian KDE of the event-value distribution on a 32-point grid
    (operators/stats.py kde_grid — the smooth curve drift dashboards
    want where histogram bin edges distort): integer-derived grid
    bounds, ONE corpus pass computing all 32 points as conditional
    sums in a single map-side-combined aggregate (state = 32 doubles,
    no explode). Sums of exp() differ across engines only in
    accumulation order; 6dp rounding absorbs it and every (grid,
    density) cell is hash-checked."""
    from stockpy_spark.operators.stats import kde_grid
    from stockpy_spark.sources.testdata import read_events

    return kde_grid(read_events(spark, sf_dir), "value")


SQL_CUPED = """
WITH b AS (
    SELECT user_id AS u, CAST(floor(epoch(ts)) AS BIGINT) AS es, value AS v
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
), r AS (
    SELECT (min(es) + max(es)) // 2 AS mid FROM b
), pu AS (
    SELECT u,
           sum(CASE WHEN es <= r.mid THEN v ELSE 0 END) AS x,
           sum(CASE WHEN es > r.mid THEN v ELSE 0 END) AS y
    FROM b, r GROUP BY u
), m AS (
    SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
           sum(x * x) AS sxx, sum(x * y) AS sxy
    FROM pu
), c AS (
    SELECT round(sx / n, 6) AS xbar,
           round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS theta
    FROM m
)
SELECT pu.u AS user_id,
       round(pu.x, 6) AS pre_value,
       round(pu.y, 6) AS post_value,
       c.theta,
       round(pu.y - c.theta * (pu.x - c.xbar), 6) AS post_adjusted
FROM pu, c
"""


@query("stats_cuped", oracle=SQL_CUPED)
def q_stats_cuped(spark, sf_dir):
    """CUPED variance-reduced experiment metrics (operators/stats.py
    cuped_adjusted_metrics — Deng et al. 2013): per-user pre/post
    value sums split at the integer epoch midpoint, theta =
    cov(X,Y)/var(X) and mean(X) rounded BEFORE the per-user adjustment
    so both engines apply identical constants, Y_adj = Y - theta*(X -
    xbar). One user-keyed conditional aggregate + a 1-row moment
    census broadcast — every user's adjusted metric hash-checked."""
    from stockpy_spark.operators.stats import cuped_adjusted_metrics
    from stockpy_spark.sources.testdata import read_events

    return cuped_adjusted_metrics(read_events(spark, sf_dir))


SQL_ATTR_LAST_TOUCH = """
WITH b AS (
    SELECT user_id AS u, event_id AS eid, event_type AS etype,
           CAST(floor(epoch(ts)) AS BIGINT) AS es
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), conv AS (
    SELECT u, eid AS conv_id, es AS conv_s FROM b WHERE etype = 'purchase'
), touch AS (
    SELECT u, eid AS touch_id, etype AS touch_type, es AS touch_s
    FROM b WHERE etype IN ('view', 'click')
), best AS (
    SELECT c.conv_id, t.touch_type, t.touch_s,
           row_number() OVER (PARTITION BY c.conv_id
                              ORDER BY t.touch_s DESC, t.touch_id DESC) AS rn
    FROM conv c JOIN touch t ON c.u = t.u
    WHERE t.touch_s < c.conv_s AND t.touch_s >= c.conv_s - 86400
)
SELECT c.conv_id AS conversion_id, c.u AS user_id,
       c.conv_s AS conversion_epoch,
       b.touch_type, b.touch_s AS touch_epoch,
       c.conv_s - b.touch_s AS touch_lag_sec
FROM conv c LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
  ON c.conv_id = b.conv_id
"""


@query("attr_last_touch", oracle=SQL_ATTR_LAST_TOUCH)
def q_attr_last_touch(spark, sf_dir):
    """Last-touch attribution (operators/behavior.py
    last_touch_attribution): every purchase credited to the user's
    most recent view/click strictly before it within a 24h lookback,
    ties by larger event id; unattributed purchases kept with NULLs.
    One user-keyed equi-join + one per-conversion argmax window —
    every purchase's credited channel, touch time, and lag hash-
    checked."""
    from stockpy_spark.operators.behavior import last_touch_attribution
    # the batch reader owns the nanos/NTZ ts fallback, like every
    # other events query
    from stockpy_spark.sources.testdata import read_events

    ev = read_events(spark, sf_dir)
    return last_touch_attribution(
        ev, ["view", "click"], "purchase", lookback_sec=86_400
    )


@query("sketch_cm_counts", oracle=SQL_CM_SKETCH)
def q_sketch_cm_counts(spark, sf_dir):
    """Count-Min sketch point-frequency estimates over events.user_id
    (operators/sketches.py cm_sketch_estimates, depth 4 x width 64 —
    width deliberately small so collisions actually occur and the min-
    over-rows machinery is load-bearing). The grid is a pure function
    of the multiset (partitioning-invariant) and the md5 bucket
    derivation is portable, so every cell and every point estimate is
    hash-checked exactly — the only sketch on the shelf under a FULL
    oracle rather than a quality gate. est >= exact always (counters
    never decrement); the pytest pins the overestimate property and
    cross-partition invariance."""
    from stockpy_spark.operators.sketches import cm_sketch_estimates

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cm_sketch_estimates(ev, "user_id", depth=4, width=64)


SQL_SHARD_SHUFFLE = r"""
WITH d AS (
    SELECT doc_id,
           md5('shard' || chr(31) || CAST(doc_id AS VARCHAR)) AS draw
    FROM documents
)
SELECT doc_id,
       CAST(CAST(concat('0x', substr(draw, 1, 13)) AS BIGINT) % 8
            AS INTEGER) AS shard,
       CAST(row_number() OVER (
           PARTITION BY CAST(concat('0x', substr(draw, 1, 13)) AS BIGINT) % 8
           ORDER BY draw, doc_id
       ) AS BIGINT) AS position
FROM d
"""


@query("sample_shard_shuffle", oracle=SQL_SHARD_SHUFFLE)
def q_sample_shard_shuffle(spark, sf_dir):
    """Deterministic shard shuffle (operators/sampling.py
    shuffle_shard_plan): every document assigned (shard, position) as
    a pure function of md5('shard', doc_id) — the training-loader
    order randomization. The Spark side runs the bucketed-rank plan
    (per-(shard, draw-bucket) counts + exclusive offsets + local
    rank); the oracle is the naive single-window formulation, so the
    hash compare PROVES the bucketed plan's equivalence on every
    row."""
    from stockpy_spark.operators.sampling import shuffle_shard_plan

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return shuffle_shard_plan(docs, "doc_id", n_shards=8, n_buckets=16)


SQL_SCORE_CALIBRATION = """
SELECT doc_id, source, n_chars,
       CAST(row_number() OVER (PARTITION BY source
                               ORDER BY n_chars, doc_id) AS BIGINT)
           AS group_rank,
       round(percent_rank() OVER (PARTITION BY source ORDER BY n_chars), 6)
           AS calibrated
FROM documents
"""


@query("sample_score_calibration", oracle=SQL_SCORE_CALIBRATION)
def q_sample_score_calibration(spark, sf_dir):
    """Per-source score calibration (operators/sampling.py
    calibrate_scores_by_group): the n_chars "score" re-expressed as a
    within-source percentile so one threshold means the same thing in
    every source; exact percent_rank with shared ties plus a
    deterministic id-tiebroken rank."""
    from stockpy_spark.operators.sampling import calibrate_scores_by_group

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return calibrate_scores_by_group(docs, "source", "n_chars", "doc_id")


SQL_PSI_SERIES = """
WITH base AS (
    SELECT CAST(floor(epoch(ts) / 604800) AS BIGINT) AS period, value AS v
    FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
), refp AS (
    SELECT min(period) AS rp FROM base
), rng AS (
    SELECT min(v) AS mn, max(v) AS mx FROM base, refp WHERE period = rp
), counts AS (
    SELECT period,
           least(9, greatest(0,
               CASE WHEN mx = mn
                    THEN CASE WHEN v <= mn THEN 0 ELSE 9 END
                    ELSE CAST(floor((v - mn) / ((mx - mn) / 10.0)) AS INTEGER)
               END)) AS bin,
           count(*) AS n
    FROM base, rng GROUP BY 1, 2
), grid AS (
    SELECT p.period, b.bin, COALESCE(c.n, 0) AS n_cur
    FROM (SELECT DISTINCT period FROM counts) p
    CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bin) b
    LEFT JOIN counts c ON c.period = p.period AND c.bin = b.bin
), refb AS (
    SELECT bin, n_cur AS n_ref FROM grid, refp WHERE period = rp
), j AS (
    SELECT g.period, g.bin, g.n_cur, r.n_ref,
           sum(g.n_cur) OVER (PARTITION BY g.period) AS tc,
           sum(r.n_ref) OVER (PARTITION BY g.period) AS tr
    FROM grid g JOIN refb r USING (bin)
), terms AS (
    SELECT period, n_cur,
           (greatest(n_ref / CAST(tr AS DOUBLE), 0.000001)
            - greatest(n_cur / CAST(tc AS DOUBLE), 0.000001))
           * ln(greatest(n_ref / CAST(tr AS DOUBLE), 0.000001)
                / greatest(n_cur / CAST(tc AS DOUBLE), 0.000001)) AS term
    FROM j
)
SELECT period, CAST(sum(n_cur) AS BIGINT) AS n_values,
       round(sum(term), 6) AS psi,
       round(sum(term), 6) > 0.2 AS is_alert
FROM terms GROUP BY period
"""


@query("drift_psi_series", oracle=SQL_PSI_SERIES)
def q_drift_psi_series(spark, sf_dir):
    """PSI drift monitoring over time (operators/drift.py psi_series):
    the events value column bucketed into epoch weeks, the EARLIEST
    week as reference, every week's PSI against it — the reference
    week reads 0.0 (the built-in sanity row), and the 0.2 alert flag
    rides along. Five populated weeks at both SFs."""
    from stockpy_spark.operators.drift import psi_series

    ev = _t(spark, sf_dir, "events")
    return psi_series(ev, "value", "ts")


SQL_STRATIFIED = """
WITH ranked AS (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5('strata' || chr(31) || CAST(doc_id AS VARCHAR)),
                        doc_id
           ) AS rn
    FROM documents
)
SELECT doc_id, lang FROM ranked WHERE rn <= 20
"""


@query("sample_stratified", oracle=SQL_STRATIFIED)
def q_sample_stratified(spark, sf_dir):
    """Exactly 20 docs per language, deterministically (md5-permuted
    within stratum, salt-switchable, rerun/engine/partition-stable) —
    the class-balancing primitive df.sampleBy cannot provide
    (operators/sampling.py:stratified_sample_exact)."""
    docs = _t(spark, sf_dir, "documents")
    return stratified_sample_exact(docs, "lang", "doc_id", k=20).select(
        "doc_id", "lang"
    )


# --- mergeable HLL distinct rollup (gate-style oracle) ------------------
SQL_GATE_HLL_ROLLUP = """
WITH wk AS (
    SELECT CAST(floor(epoch(ts)) AS BIGINT) // 604800 * 604800 AS bucket_epoch,
           CAST(floor(epoch(ts)) AS BIGINT) // 86400 * 86400   AS day_start,
           user_id
    FROM events WHERE ts IS NOT NULL
)
SELECT bucket_epoch,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
       CAST(COUNT(DISTINCT day_start) AS BIGINT) AS n_fine_buckets,
       1 AS gate_rel_err_ok
FROM wk GROUP BY bucket_epoch
"""


@query("gate_hll_rollup", oracle=SQL_GATE_HLL_ROLLUP)
def q_gate_hll_rollup(spark, sf_dir):
    """Two-level distinct-user rollup: daily HLL sketches unioned to
    weekly WITHOUT rescanning raw events (operators/sketches.py), gated
    against the exact weekly distinct at 5% relative error. Spark's HLL
    is seed-fixed, so the gate rows are deterministic. Bucket starts
    surface as epoch BIGINTs (tz-proof — DuckDB to_timestamp() is
    tz-aware and fails the driver's pandas-dtype schema check)."""
    # null-ts rows would bucket to NULL and diverge between the inner
    # join (Spark) and GROUP BY (SQL) — scope the query to timestamped
    # rows so a regenerated fixture with nulls can't flip the gate
    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    out = hll_rollup_quality(
        ev, "ts", "user_id",
        fine_seconds=86_400, coarse_seconds=604_800, max_rel_err=0.05,
    )
    return out.select(
        F.col("bucket_start").cast("long").alias("bucket_epoch"),
        "exact_distinct",
        "n_fine_buckets",
        "gate_rel_err_ok",
    )


# --- one-pass column profiling -------------------------------------------
SQL_PROFILE_EVENTS = """
SELECT 'event_id' AS column, COUNT(*) AS n_rows, COUNT(event_id) AS n_nonnull,
       COUNT(*) - COUNT(event_id) AS n_nulls,
       COUNT(DISTINCT event_id) AS n_distinct FROM events
UNION ALL
SELECT 'user_id', COUNT(*), COUNT(user_id),
       COUNT(*) - COUNT(user_id), COUNT(DISTINCT user_id) FROM events
UNION ALL
SELECT 'event_type', COUNT(*), COUNT(event_type),
       COUNT(*) - COUNT(event_type), COUNT(DISTINCT event_type) FROM events
UNION ALL
SELECT 'value', COUNT(*), COUNT(value),
       COUNT(*) - COUNT(value), COUNT(DISTINCT value) FROM events
"""


@query("profile_events", oracle=SQL_PROFILE_EVENTS)
def q_profile_events(spark, sf_dir):
    """Data-quality profile of the events table in ONE aggregation pass
    (operators/aggregate.py profile_columns): per column, row/non-null/
    null/exact-distinct counts, unpivoted to long form."""
    from stockpy_spark.operators.aggregate import profile_columns

    ev = _t(spark, sf_dir, "events")
    return profile_columns(ev, ["event_id", "user_id", "event_type", "value"])


# --- weighted sampling ---------------------------------------------------
SQL_SAMPLE_WEIGHTED = """
WITH keyed AS (
    SELECT doc_id, lang, n_chars,
           round(pow(CAST(concat('0x', substr(md5('wsample' || chr(31)
                         || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
                     / 4503599627370496.0,
                     1.0 / CAST(n_chars AS DOUBLE)), 12) AS __wkey
    FROM documents
    WHERE CAST(n_chars AS DOUBLE) > 0
)
SELECT doc_id, lang, n_chars, __wkey
FROM keyed ORDER BY __wkey DESC, doc_id LIMIT 50
"""


@query("sample_weighted", oracle=SQL_SAMPLE_WEIGHTED)
def q_sample_weighted(spark, sf_dir):
    """Length-weighted corpus sample (long documents proportionally
    more likely): Efraimidis-Spirakis keys from md5-uniforms, top-50
    (operators/sampling.py weighted_sample_topk). Deterministic, so the
    exact key set sits under the hash gate."""
    from stockpy_spark.operators.sampling import weighted_sample_topk

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample_topk(
        docs.select("doc_id", "lang", "n_chars"), "doc_id", "n_chars", k=50
    )
    return out.select("doc_id", "lang", "n_chars", "__wkey")


# --- robust numeric cleaning --------------------------------------------
SQL_ROBUST_CLIP = """
WITH stats AS (
    SELECT event_type,
           round(quantile_cont(value, 0.05), 4) AS lo,
           round(quantile_cont(value, 0.95), 4) AS hi,
           round(quantile_cont(value, 0.5), 4) AS med
    FROM events GROUP BY event_type
), mad AS (
    SELECT e.event_type,
           round(quantile_cont(abs(e.value - s.med), 0.5), 4) AS mad
    FROM events e JOIN stats s USING (event_type)
    GROUP BY e.event_type
)
SELECT e.event_id, e.event_type,
       round(least(greatest(e.value, s.lo), s.hi), 4) AS clipped,
       abs(e.value - s.med) > CAST(5.0 AS DOUBLE) * m.mad AS is_outlier
FROM events e
JOIN stats s USING (event_type)
JOIN mad m USING (event_type)
"""


@query("quality_robust_clip", oracle=SQL_ROBUST_CLIP)
def q_quality_robust_clip(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = robust_clip_outliers(
        ev, "value", ["event_type"], lo_q=0.05, hi_q=0.95, mad_k=5.0, dp=4
    )
    return out.select("event_id", "event_type", "clipped", "is_outlier")


# --- behavioral analytics: funnel + cohort retention --------------------

# Mirrors funnel_stages pass by pass: step i's timestamp is the min ts
# of that type strictly after step i-1's completion; users who never
# did step 1 are outside the funnel (inner t1 frame).
SQL_FUNNEL = """
WITH t1 AS (
    SELECT user_id AS u, min(ts) AS t1 FROM events
    WHERE event_type = 'view' GROUP BY 1
), t2 AS (
    SELECT e.user_id AS u, min(e.ts) AS t2
    FROM events e JOIN t1 ON e.user_id = t1.u
    WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1
), t3 AS (
    SELECT e.user_id AS u, min(e.ts) AS t3
    FROM events e JOIN t2 ON e.user_id = t2.u
    WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1
)
SELECT t1.u AS user_id,
       CASE WHEN t3.t3 IS NOT NULL THEN 3
            WHEN t2.t2 IS NOT NULL THEN 2
            ELSE 1 END AS stage,
       t1.t1 AS t1, t2.t2 AS t2, t3.t3 AS t3
FROM t1
LEFT JOIN t2 ON t1.u = t2.u
LEFT JOIN t3 ON t1.u = t3.u
"""


@query("funnel_conversion", oracle=SQL_FUNNEL)
def q_funnel_conversion(spark, sf_dir):
    from stockpy_spark.operators.behavior import funnel_stages

    ev = _t(spark, sf_dir, "events")
    return funnel_stages(ev, ["view", "click", "purchase"])


SQL_COHORT = """
WITH cohorts AS (
    -- CAST: DuckDB date_trunc('week') yields DATE; Spark yields TIMESTAMP
    SELECT user_id AS u, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort
    FROM events GROUP BY 1
), active AS (
    SELECT DISTINCT user_id AS u,
           CAST(date_trunc('week', ts) AS TIMESTAMP) AS period
    FROM events
)
SELECT cohort, period, count(DISTINCT u) AS n_users
FROM active JOIN cohorts USING (u)
GROUP BY 1, 2
"""


@query("cohort_retention_weekly", oracle=SQL_COHORT)
def q_cohort_retention(spark, sf_dir):
    from stockpy_spark.operators.behavior import cohort_retention

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev, grain="week")


# --- market-basket association rules ------------------------------------
SQL_BASKET = """
WITH items AS (
    SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
), nb AS (
    SELECT count(DISTINCT b) AS nb FROM items
), cnt AS (
    SELECT i, count(*) AS c FROM items GROUP BY 1
), capped AS (
    SELECT b, i FROM (
        SELECT b, i,
               row_number() OVER (PARTITION BY b ORDER BY i) AS rn
        FROM items
    ) WHERE rn <= 5
), co AS (
    SELECT a.i AS antecedent, b.i AS consequent, count(*) AS co_count
    FROM capped a JOIN capped b ON a.b = b.b AND a.i <> b.i
    GROUP BY 1, 2
    HAVING count(*) >= 3
)
SELECT antecedent, consequent, co_count,
       round(co_count / nb.nb, 6) AS support,
       round(co_count / ca.c, 6) AS confidence,
       round((co_count / ca.c) / (cb.c / nb.nb), 6) AS lift
FROM co
JOIN cnt ca ON co.antecedent = ca.i
JOIN cnt cb ON co.consequent = cb.i, nb
"""


@query("basket_rules", oracle=SQL_BASKET)
def q_basket_rules(spark, sf_dir):
    """Pair association rules with the 5-per-basket Apriori cap in the
    array formulation (operators/behavior.py association_rules,
    rank_by='id'): one shuffle folds rows into basket arrays, pairs
    enumerate in-array among each basket's 5 lowest item ids as
    UNDIRECTED structs (both directions re-emitted after the HAVING),
    singleton marginals stay exact. Bounds the pair fan-out that made
    the uncapped miner the r06 verdict's 6.6x 100x-scale spot. The
    oracle reproduces the same deterministic cut, so the cap itself is
    under the hash gate."""
    from stockpy_spark.operators.behavior import association_rules

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return association_rules(
        li, "l_orderkey", "l_partkey", min_co=3,
        max_basket_items=5, rank_by="id",
    )


# --- Markov transition matrix -------------------------------------------
SQL_TRANSITIONS = """
WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev
    FROM events
), pairs AS (
    SELECT prev AS prev_type, event_type AS next_type, count(*) AS n
    FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
), tot AS (
    SELECT prev_type, sum(n) AS t FROM pairs GROUP BY 1
)
SELECT p.prev_type, p.next_type, p.n, round(p.n / t.t, 6) AS prob
FROM pairs p JOIN tot t USING (prev_type)
"""


@query("event_transitions", oracle=SQL_TRANSITIONS)
def q_event_transitions(spark, sf_dir):
    from stockpy_spark.operators.behavior import transition_matrix

    ev = _t(spark, sf_dir, "events")
    return transition_matrix(ev, tiebreak_col="event_id")


SQL_HIST = """
WITH bounds AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
SELECT event_type,
       CAST(least(floor((value - lo) / (hi - lo) * 20), 19) AS BIGINT)
           AS bucket,
       count(*) AS n
FROM events, bounds
GROUP BY 1, 2
"""


@query("hist_event_values", oracle=SQL_HIST)
def q_hist_event_values(spark, sf_dir):
    """Equi-width histogram of event values per type over the measured
    global [min, max] — the profiling companion to quality_robust_clip.
    Bounds come from one tiny aggregate broadcast back; the bucket
    index is explicit floor arithmetic (identical doubles in both
    engines; DuckDB has no width_bucket) with the max value folded into
    the top bucket."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    bucket = F.least(
        F.floor((F.col("value") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 20),
        F.lit(19),
    ).cast("long")
    return (
        ev.crossJoin(F.broadcast(bounds))
        .select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- domain-temperature resampling ---------------------------------------
SQL_TEMPERATURE = """
WITH census AS (SELECT lang, count(*) AS cg FROM documents GROUP BY lang),
rates AS (
    SELECT lang,
           round(pow(cg / CAST((SELECT min(cg) FROM census) AS DOUBLE),
                     -0.5), 9) AS rate
    FROM census
)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN rates r USING (lang)
WHERE (CAST(concat('0x',
           substr(md5('temper|' || CAST(doc_id AS VARCHAR)), 1, 15))
       AS BIGINT) % 10000) / 10000.0 < r.rate
"""


@query("sample_temperature", oracle=SQL_TEMPERATURE)
def q_sample_temperature(spark, sf_dir):
    """Temperature-flattened language mix
    (operators/sampling.py:temperature_resample, alpha=0.5): the 'en'
    head is downsampled toward sqrt-proportional counts; keep/drop is
    the md5 pure function of doc_id, so the realized corpus is
    engine- and rerun-identical."""
    docs = _t(spark, sf_dir, "documents")
    return temperature_resample(docs, "lang", "doc_id", alpha=0.5).select(
        "doc_id", "lang", "source"
    )


# --- one-pass data-quality constraint suite ------------------------------
SQL_DQ_SUITE = """
SELECT 'rows>=1' AS "constraint", CAST(count(*) AS DOUBLE) AS metric,
       count(*) >= 1 AS passed FROM orders
UNION ALL
SELECT 'unique(o_orderkey)',
       CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS DOUBLE),
       count(o_orderkey) - count(DISTINCT o_orderkey) = 0 FROM orders
UNION ALL
SELECT 'null_fraction(o_custkey)<=0.0',
       avg(CAST(o_custkey IS NULL AS DOUBLE)),
       avg(CAST(o_custkey IS NULL AS DOUBLE)) <= 0.0 FROM orders
UNION ALL
SELECT 'range(o_totalprice)in[0.0,1000000.0]',
       sum(CAST(NOT (o_totalprice BETWEEN 0.0 AND 1000000.0) AS DOUBLE)),
       sum(CAST(NOT (o_totalprice BETWEEN 0.0 AND 1000000.0) AS DOUBLE)) = 0
FROM orders
UNION ALL
SELECT 'accepted(o_orderstatus)',
       sum(CAST(o_orderstatus NOT IN ('O', 'F', 'P') AS DOUBLE)),
       sum(CAST(o_orderstatus NOT IN ('O', 'F', 'P') AS DOUBLE)) = 0
FROM orders
UNION ALL
SELECT 'ref(orders.o_custkey->customer)',
       CAST((SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS DOUBLE),
       (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)) = 0
"""


@query("dq_constraint_suite", oracle=SQL_DQ_SUITE)
def q_dq_constraint_suite(spark, sf_dir):
    """Declarative DQ gate (operators/quality.py): five constraints
    over orders fused into ONE aggregate scan (null fraction, key
    uniqueness, accepted status values, price range, minimum rows),
    plus a referential orphan check against customer as an anti-join —
    the long (constraint, metric, passed) frame a pipeline guard
    consumes."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    checks = [
        min_rows(1),
        unique_key("o_orderkey"),
        null_fraction("o_custkey", 0.0),
        value_range("o_totalprice", 0.0, 1000000.0),
        accepted_values("o_orderstatus", ["O", "F", "P"]),
    ]
    base = run_checks(orders, checks)
    ref = orphan_count(
        orders, cust, "o_custkey", "c_custkey",
        "ref(orders.o_custkey->customer)",
    )
    return base.unionByName(ref)


# --- Pareto frontier (skyline) -------------------------------------------
SQL_PARETO = """
WITH pts AS (
    SELECT o_totalprice, min(o_orderdate) AS o_orderdate
    FROM orders GROUP BY o_totalprice
), s AS (
    SELECT o_totalprice, o_orderdate,
           min(o_orderdate) OVER (
               ORDER BY o_totalprice DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
    FROM pts
)
SELECT o_totalprice, o_orderdate FROM s
WHERE pm IS NULL OR o_orderdate < pm
"""


@query("pareto_frontier", oracle=SQL_PARETO)
def q_pareto_frontier(spark, sf_dir):
    """2-D skyline (operators/skyline.py:pareto_frontier_2d): order
    points maximizing o_totalprice while minimizing o_orderdate —
    "the biggest order seen by each date, frontier only". Distributed
    prefix-min (bucketed local scans + a B-row broadcast offset), no
    global sort; the oracle is the textbook one-partition window
    formulation, so a hash match proves the decomposition exact."""
    orders = _t(spark, sf_dir, "orders")
    return pareto_frontier_2d(orders, "o_totalprice", "o_orderdate")


# --- quantile-boundary feature binning -----------------------------------
SQL_QBINS = """
WITH b AS (
    SELECT list_transform(quantile_cont(value, [0.25, 0.5, 0.75]),
                          x -> round(x, 6)) AS bs
    FROM events
)
SELECT event_type,
       -- NULL values must bin to NULL like the Spark side; a bare
       -- list_filter length would score them as bin 0
       CASE WHEN value IS NULL THEN NULL
            ELSE CAST(len(list_filter(b.bs, x -> value >= x)) AS INT)
       END AS bin,
       count(*) AS n
FROM events, b GROUP BY 1, 2
"""


@query("feat_quantile_bins", oracle=SQL_QBINS)
def q_feat_quantile_bins(spark, sf_dir):
    """Quartile binning by the column's own EXACT percentile boundaries
    (operators/features.py:quantile_bucketize — one tiny aggregate,
    broadcast back, narrow expression bin), summarized per event type."""
    ev = _t(spark, sf_dir, "events")
    binned = quantile_bucketize(ev, "value")
    return binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )


# --- Benford first-digit forensic profile --------------------------------
SQL_BENFORD = """
WITH d AS (
    SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c
    FROM lineitem WHERE l_extendedprice > 0
), base AS (
    SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit,
           count(*) AS n
    FROM d WHERE c > 0 GROUP BY 1
), t AS (SELECT sum(n) AS total FROM base)
SELECT digit, n,
       round(total * log10(1.0 + 1.0 / digit), 6) AS exp_n,
       round(sum(pow(n - total * log10(1.0 + 1.0 / digit), 2)
                 / (total * log10(1.0 + 1.0 / digit))) OVER (), 6) AS chi2
FROM base, t
"""


@query("dq_benford_prices", oracle=SQL_BENFORD)
def q_dq_benford_prices(spark, sf_dir):
    """Benford first-digit screen over lineitem prices
    (operators/quality.py:benford_first_digit) — digit extracted via
    the engine-exact integer-cents string route, expected counts and
    the chi-square statistic from one aggregate + a 9-row window."""
    from stockpy_spark.operators.quality import benford_first_digit

    li = _t(spark, sf_dir, "lineitem")
    return benford_first_digit(li, "l_extendedprice")


# --- PSI drift screen ----------------------------------------------------
SQL_PSI = """
WITH census AS (
    SELECT min(value) AS mn, max(value) AS mx
    FROM events WHERE event_type = 'click' AND value IS NOT NULL
), binned AS (
    SELECT least(9, greatest(0,
               CASE WHEN mx = mn THEN (CASE WHEN value <= mn THEN 0 ELSE 9 END)
                    ELSE CAST(floor((value - mn) / ((mx - mn) / 10.0)) AS INT)
               END)) AS bin,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_ref
    FROM events, census
    WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
), grid AS (
    SELECT bin, CAST(sum(is_ref) AS BIGINT) AS n_ref,
           CAST(sum(1 - is_ref) AS BIGINT) AS n_cur
    FROM binned GROUP BY bin
), frac AS (
    SELECT bin, n_ref, n_cur,
           greatest(n_ref / sum(n_ref) OVER (), 1e-6) AS p,
           greatest(n_cur / sum(n_cur) OVER (), 1e-6) AS q
    FROM grid
)
SELECT bin, n_ref, n_cur,
       round(p, 6) AS p_ref, round(q, 6) AS p_cur,
       round((p - q) * ln(p / q), 6) AS psi_term,
       round(sum((p - q) * ln(p / q)) OVER (), 6) AS psi
FROM frac
"""


@query("drift_psi_value", oracle=SQL_PSI)
def q_drift_psi_value(spark, sf_dir):
    """PSI of purchase-event values against click-event values
    (operators/drift.py:population_stability_index): 10 equal-width
    bins from the reference (click) min/max, current-batch mass outside
    the range clamped into the edge bins, zero bins floored at 1e-6."""
    ev = _t(spark, sf_dir, "events")
    ref = ev.filter(F.col("event_type") == "click")
    cur = ev.filter(F.col("event_type") == "purchase")
    return population_stability_index(ref, cur, "value", n_bins=10)


# --- two-sample KS -------------------------------------------------------
SQL_KS = """
WITH pooled AS (
    SELECT value AS v,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_ref
    FROM events
    WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
), per_v AS (
    SELECT v, sum(is_ref) AS c_ref, sum(1 - is_ref) AS c_cur
    FROM pooled GROUP BY v
), tot AS (
    SELECT CAST(sum(c_ref) AS BIGINT) AS n_ref,
           CAST(sum(c_cur) AS BIGINT) AS n_cur FROM per_v
), e AS (
    SELECT v,
           sum(c_ref) OVER (ORDER BY v) AS cum_ref,
           sum(c_cur) OVER (ORDER BY v) AS cum_cur
    FROM per_v
), d AS (
    SELECT v, abs(cum_ref / n_ref - cum_cur / n_cur) AS d
    FROM e, tot
)
SELECT tot.n_ref, tot.n_cur,
       round(min(dm.dmax), 6) AS d_stat,
       min(d.v) AS at_value
FROM d, tot, (SELECT max(d) AS dmax FROM d) dm
WHERE d.d = dm.dmax
GROUP BY tot.n_ref, tot.n_cur
"""


@query("drift_ks_value", oracle=SQL_KS)
def q_drift_ks_value(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov D between click and
    purchase value distributions (operators/drift.py:ks_2samp) — the
    global ECDF running counts ride the bucketed prefix-sum (skyline
    pattern), not a one-task global sort; the oracle computes the same
    sup-distance with a plain ordered window."""
    ev = _t(spark, sf_dir, "events")
    ref = ev.filter(F.col("event_type") == "click")
    cur = ev.filter(F.col("event_type") == "purchase")
    return ks_2samp(ref, cur, "value")


# --- pairwise Pearson correlation matrix ---------------------------------
_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_sql() -> str:
    sums = ["count(*) AS n"]
    for c in _CORR_COLS:
        sums.append(f"sum({c}) AS s_{c}")
        sums.append(f"sum({c} * {c}) AS ss_{c}")
    pairs = []
    from itertools import combinations

    for cx, cy in combinations(_CORR_COLS, 2):
        sums.append(f"sum({cx} * {cy}) AS sp_{cx}_{cy}")
        pairs.append(
            f"SELECT '{cx}' AS col_x, '{cy}' AS col_y, n,\n"
            f"  round((n * sp_{cx}_{cy} - s_{cx} * s_{cy})\n"
            f"    / sqrt((n * ss_{cx} - s_{cx} * s_{cx})\n"
            f"           * (n * ss_{cy} - s_{cy} * s_{cy})), 6) AS r\n"
            f"FROM s"
        )
    where = " AND ".join(f"{c} IS NOT NULL" for c in _CORR_COLS)
    return (
        "WITH s AS (\n  SELECT " + ",\n         ".join(sums)
        + f"\n  FROM lineitem WHERE {where}\n)\n"
        + "\nUNION ALL\n".join(pairs)
    )


SQL_CORR = _corr_sql()


@query("stats_corr_matrix", oracle=SQL_CORR)
def q_stats_corr_matrix(spark, sf_dir):
    """Long-form Pearson matrix over the four lineitem numeric columns
    (operators/stats.py:correlation_matrix): all 6 pairs from ONE
    map-side-combined aggregate scan — never one job per pair."""
    li = _t(spark, sf_dir, "lineitem")
    return correlation_matrix(li, _CORR_COLS)


# --- categorical association panel ---------------------------------------
SQL_CAT_ASSOC = """
WITH observed AS (
    SELECT o_orderstatus AS x, o_orderpriority AS y, count(*) AS n_xy
    FROM orders
    WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
    GROUP BY 1, 2
), cells AS (
    -- full r x c grid: zero cells carry their expected count into chi2
    SELECT g.x, g.y, CAST(coalesce(o.n_xy, 0) AS BIGINT) AS n_xy
    FROM (SELECT DISTINCT a.x, b.y
          FROM (SELECT DISTINCT x FROM observed) a,
               (SELECT DISTINCT y FROM observed) b) g
    LEFT JOIN observed o ON g.x = o.x AND g.y = o.y
), m AS (
    SELECT x, y, n_xy,
           CAST(sum(n_xy) OVER () AS DOUBLE) AS n,
           CAST(sum(n_xy) OVER (PARTITION BY x) AS DOUBLE) AS row_tot,
           CAST(sum(n_xy) OVER (PARTITION BY y) AS DOUBLE) AS col_tot,
           count(DISTINCT x) OVER () AS r_card,
           count(DISTINCT y) OVER () AS c_card
    FROM cells
), t AS (
    SELECT x, y, n_xy, n, r_card, c_card,
           row_tot * col_tot / n AS exp_n,
           pow(n_xy - row_tot * col_tot / n, 2)
               / (row_tot * col_tot / n) AS chi2_term,
           CASE WHEN n_xy = 0 THEN 0.0
                ELSE (n_xy / n) * ln(n * n_xy / (row_tot * col_tot))
           END AS mi_term
    FROM m
)
SELECT x, y, n_xy,
       round(exp_n, 6) AS exp_n,
       round(chi2_term, 6) AS chi2_term,
       round(mi_term, 6) AS mi_term,
       round(sum(chi2_term) OVER (), 6) AS chi2,
       round(sqrt(sum(chi2_term) OVER ()
                  / (n * (least(r_card, c_card) - 1))), 6) AS cramers_v,
       round(sum(mi_term) OVER (), 6) AS mutual_info
FROM t
"""


@query("stats_cat_association", oracle=SQL_CAT_ASSOC)
def q_stats_cat_association(spark, sf_dir):
    """Chi-square / Cramér's V / mutual-information panel for
    o_orderstatus x o_orderpriority
    (operators/stats.py:categorical_association): one contingency
    groupBy, everything else windows over the 15-cell frame."""
    od = _t(spark, sf_dir, "orders")
    return categorical_association(od, "o_orderstatus", "o_orderpriority")


# --- Welch two-sample t-test ---------------------------------------------
SQL_WELCH = """
WITH r AS (
    SELECT CAST(count(*) AS BIGINT) AS n, sum(value) AS s,
           sum(value * value) AS ss
    FROM events WHERE event_type = 'click' AND value IS NOT NULL
), c AS (
    SELECT CAST(count(*) AS BIGINT) AS n, sum(value) AS s,
           sum(value * value) AS ss
    FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
), d AS (
    SELECT r.n AS n_ref, c.n AS n_cur,
           r.s / CAST(r.n AS DOUBLE) AS m1, c.s / CAST(c.n AS DOUBLE) AS m2,
           ((r.ss - r.s * r.s / CAST(r.n AS DOUBLE)) / (CAST(r.n AS DOUBLE) - 1))
               / CAST(r.n AS DOUBLE) AS se1,
           ((c.ss - c.s * c.s / CAST(c.n AS DOUBLE)) / (CAST(c.n AS DOUBLE) - 1))
               / CAST(c.n AS DOUBLE) AS se2
    FROM r, c
)
SELECT n_ref, n_cur,
       round(m1, 6) AS mean_ref, round(m2, 6) AS mean_cur,
       round((m1 - m2) / sqrt(se1 + se2), 6) AS t_stat,
       round(pow(se1 + se2, 2)
             / (pow(se1, 2) / (n_ref - 1) + pow(se2, 2) / (n_cur - 1)),
             6) AS df
FROM d
"""


@query("stats_welch_ttest", oracle=SQL_WELCH)
def q_stats_welch_ttest(spark, sf_dir):
    """Welch's t-test on click vs purchase event values
    (operators/stats.py:welch_ttest): one moments aggregate per side,
    1-row broadcast cross, Welch-Satterthwaite df — the
    "did the mean move" companion of the PSI/KS drift screens."""
    ev = _t(spark, sf_dir, "events")
    ref = ev.filter(F.col("event_type") == "click")
    cur = ev.filter(F.col("event_type") == "purchase")
    return welch_ttest(ref, cur, "value")


# --- bivariate Mahalanobis outliers --------------------------------------
SQL_MAHAL = """
WITH m AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           sum(l_quantity) AS sx, sum(l_extendedprice) AS sy,
           sum(l_quantity * l_quantity) AS sxx,
           sum(l_extendedprice * l_extendedprice) AS syy,
           sum(l_quantity * l_extendedprice) AS sxy
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
), z AS (
    SELECT l_orderkey, l_linenumber,
           l_quantity AS x, l_extendedprice AS y,
           (l_quantity - sx / n) / sqrt((sxx - sx * sx / n) / (n - 1)) AS zx,
           (l_extendedprice - sy / n)
               / sqrt((syy - sy * sy / n) / (n - 1)) AS zy,
           ((sxy - sx * sy / n) / (n - 1))
               / sqrt(((sxx - sx * sx / n) / (n - 1))
                      * ((syy - sy * sy / n) / (n - 1))) AS r
    FROM lineitem, m
    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
)
SELECT l_orderkey, l_linenumber, x, y,
       round((zx * zx - 2 * r * zx * zy + zy * zy) / (1 - r * r), 6) AS md2
FROM z
WHERE round((zx * zx - 2 * r * zx * zy + zy * zy) / (1 - r * r), 6) >= 5.7
"""


@query("dq_mahalanobis_outliers", oracle=SQL_MAHAL)
def q_dq_mahalanobis_outliers(spark, sf_dir):
    """Correlation-aware outlier screen over (l_quantity,
    l_extendedprice) (operators/stats.py:mahalanobis_outliers_2d,
    closed-form 2-D inverse, one moments census broadcast back). The
    synthetic columns are near-uniform (no heavy tails: max md2 ~ 5.9
    where a Gaussian 0.1% cut sits at 13.8), so the query cuts at the
    empirical 99.9% band — the OPERATOR takes the caller's chi-square
    threshold unchanged on real data."""
    li = _t(spark, sf_dir, "lineitem")
    return mahalanobis_outliers_2d(
        li,
        keys=["l_orderkey", "l_linenumber"],
        col_x="l_quantity",
        col_y="l_extendedprice",
        threshold=5.7,
    )


# --- Shannon entropy profile ---------------------------------------------
_ENTROPY_COLS = ["o_orderstatus", "o_orderpriority", "o_orderdate"]


SQL_ENTROPY = """
WITH u AS (
    SELECT 'o_orderstatus' AS col_name, CAST(o_orderstatus AS VARCHAR) AS val
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(o_orderdate AS VARCHAR) FROM orders
), counts AS (
    SELECT col_name, val, count(*) AS c
    FROM u WHERE val IS NOT NULL GROUP BY 1, 2
), terms AS (
    SELECT col_name, c,
           -(c / sum(c) OVER (PARTITION BY col_name))
               * ln(c / sum(c) OVER (PARTITION BY col_name)) AS term
    FROM counts
)
SELECT col_name,
       CAST(sum(c) AS BIGINT) AS n_values,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(sum(term), 6) AS entropy,
       round(CASE WHEN count(*) > 1
                  THEN sum(term) / ln(CAST(count(*) AS DOUBLE)) END,
             6) AS norm_entropy
FROM terms
GROUP BY col_name
"""


@query("profile_entropy", oracle=SQL_ENTROPY)
def q_profile_entropy(spark, sf_dir):
    """Entropy profile of three orders columns
    (operators/stats.py:categorical_entropy): one scan melts every row
    into (col, value) pairs, one groupBy — low-cardinality status,
    mid-cardinality priority, and the ~2.4k-value date column in a
    single pass."""
    od = _t(spark, sf_dir, "orders")
    return categorical_entropy(od, _ENTROPY_COLS)


# --- contrastive negative pairs ------------------------------------------
SQL_NEGPAIRS = """
WITH base AS (
    SELECT doc_id AS anchor_id,
           md5('negpair' || chr(31) || CAST(doc_id AS VARCHAR)) AS h,
           CAST(concat('0x', substring(
                md5('negpair' || chr(31) || CAST(doc_id AS VARCHAR)), 1, 15))
                AS BIGINT) % 16 AS shard
    FROM documents
), leads AS (
    SELECT anchor_id,
           lead(anchor_id, 1) OVER w AS n1,
           lead(anchor_id, 2) OVER w AS n2
    FROM base
    WINDOW w AS (PARTITION BY shard ORDER BY h, anchor_id)
)
SELECT anchor_id, negative_id, neg_rank FROM (
    SELECT anchor_id, n1 AS negative_id, 1 AS neg_rank FROM leads
    UNION ALL
    SELECT anchor_id, n2, 2 FROM leads
)
WHERE negative_id IS NOT NULL
"""


@query("sample_negative_pairs", oracle=SQL_NEGPAIRS)
def q_sample_negative_pairs(spark, sf_dir):
    """Two deterministic negatives per document
    (operators/sampling.py:negative_pair_sample): md5-sharded,
    md5-ordered neighbors — the distributed "shuffled batch" negative
    draw, a pure function of (salt, doc_id) the oracle replays.
    16 shards (not the 256 default) so shard-tail truncation stays
    negligible at the oracle's 500-doc scale; at corpus scale the
    shard count trades parallelism against the k * n_shards loss."""
    docs = _t(spark, sf_dir, "documents")
    return negative_pair_sample(docs, "doc_id", k=2, n_shards=16)


# --- key-skew profile ----------------------------------------------------
SQL_KEY_SKEW = """
WITH counts AS (
    SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n_rows
    FROM events GROUP BY user_id
), census AS (
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(n_rows) AS BIGINT) AS total,
           max(n_rows) AS max_rows
    FROM counts
), top AS (
    SELECT key, n_rows FROM counts
    ORDER BY n_rows DESC, key NULLS FIRST LIMIT 5
)
SELECT row_number() OVER (ORDER BY n_rows DESC, key NULLS FIRST) AS rank,
       key, n_rows,
       round(n_rows / total, 6) AS share,
       n_keys,
       round(total / CAST(n_keys AS DOUBLE), 6) AS mean_rows,
       round(max_rows / (total / CAST(n_keys AS DOUBLE)), 6) AS skew_ratio
FROM top, census
"""


@query("dq_key_skew", oracle=SQL_KEY_SKEW)
def q_dq_key_skew(spark, sf_dir):
    """Hot-key report for events.user_id
    (operators/quality.py:key_skew_profile): one groupBy + 1-row
    census + TakeOrdered top-5 — the pre-shuffle skew check every big
    join in this repo's BASELINE.md skew story starts from."""
    from stockpy_spark.operators.quality import key_skew_profile

    ev = _t(spark, sf_dir, "events")
    return key_skew_profile(ev, "user_id", top_k=5)


# --- per-group Gini ------------------------------------------------------
SQL_GINI = """
WITH ranked AS (
    SELECT o_orderpriority AS grp, o_totalprice AS x,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice, o_orderkey) AS i
    FROM orders WHERE o_totalprice IS NOT NULL
)
SELECT grp, CAST(count(*) AS BIGINT) AS n,
       round(sum(x), 2) AS total,
       round(2.0 * sum(i * x) / (CAST(count(*) AS DOUBLE) * sum(x))
             - (CAST(count(*) AS DOUBLE) + 1.0) / CAST(count(*) AS DOUBLE),
             6) AS gini
FROM ranked
GROUP BY grp
"""


@query("stats_gini_revenue", oracle=SQL_GINI)
def q_stats_gini_revenue(spark, sf_dir):
    """Order-value concentration per priority class
    (operators/stats.py:gini_by_group): exact rank-formula Gini, one
    (group, value) sort carrying both the rank and the weighted sum."""
    from stockpy_spark.operators.stats import gini_by_group

    od = _t(spark, sf_dir, "orders")
    return gini_by_group(od, "o_orderpriority", "o_totalprice", "o_orderkey")


# --- matched-control sampling --------------------------------------------
SQL_MATCHED = """
WITH e AS (
    SELECT doc_id, CAST(n_chars AS DOUBLE) AS v
    FROM documents WHERE doc_id % 10 = 0
), p AS (
    SELECT doc_id, CAST(n_chars AS DOUBLE) AS v
    FROM documents WHERE doc_id % 10 <> 0
), m AS (
    SELECT e.doc_id AS eval_id, e.v AS eval_val,
           p.doc_id AS control_id, p.v AS control_val,
           e.v - p.v AS gap,
           row_number() OVER (PARTITION BY e.doc_id
                              ORDER BY p.v DESC, p.doc_id DESC) AS rn
    FROM e LEFT JOIN p ON p.v <= e.v AND p.v >= e.v - 25.0
)
SELECT eval_id, eval_val, control_id, control_val, gap
FROM m WHERE rn = 1
"""


@query("sample_matched_controls", oracle=SQL_MATCHED)
def q_sample_matched_controls(spark, sf_dir):
    """Nearest-below length-matched control for every held-out doc
    (operators/sampling.py:matched_controls): eval split doc_id%10==0,
    pool the rest, caliper 25 chars — the bucketed as-of match with 2x
    pool replication, no single-task sort. Unmatched eval docs stay in
    with NULL controls."""
    from stockpy_spark.operators.sampling import matched_controls

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    pool = docs.filter(F.col("doc_id") % 10 != 0)
    return matched_controls(ev, pool, "doc_id", "n_chars", tolerance=25.0)


# --- training-mixture planner --------------------------------------------
_MIX_WEIGHTS = {
    "src0": 0.3,
    "src1": 0.2,
    "src2": 0.2,
    "src3": 0.1,
    "src4": 0.1,
    "src5": 0.05,
    "srcX": 0.05,  # deliberately absent from the data: zero-inventory row
}


def _mix_sql() -> str:
    vals = ", ".join(
        f"('{k}', CAST({v} AS DOUBLE))" for k, v in sorted(_MIX_WEIGHTS.items())
    )
    return f"""
WITH w(domain, target_share) AS (VALUES {vals}),
inv AS (
    SELECT source AS domain, CAST(sum(n_chars) AS DOUBLE) AS available_tokens
    FROM documents GROUP BY source
), grid AS (
    SELECT coalesce(inv.domain, w.domain) AS domain,
           coalesce(available_tokens, 0.0) AS available_tokens,
           coalesce(target_share, 0.0) AS target_share
    FROM inv FULL JOIN w ON inv.domain = w.domain
)
SELECT domain,
       round(available_tokens, 6) AS available_tokens,
       round(target_share, 6) AS target_share,
       round(target_share * 20000.0, 6) AS quota_tokens,
       round(CASE WHEN available_tokens > 0
                  THEN least(1.0, target_share * 20000.0 / available_tokens)
                  ELSE 0.0 END, 6) AS rate,
       round(CASE WHEN available_tokens > 0
                  THEN least(1.0, target_share * 20000.0 / available_tokens)
                  ELSE 0.0 END * available_tokens, 6) AS expected_tokens,
       target_share * 20000.0 > available_tokens AS capped
FROM grid
"""


SQL_MIXTURE = _mix_sql()


@query("plan_domain_mixture", oracle=SQL_MIXTURE)
def q_plan_domain_mixture(spark, sf_dir):
    """Mixture plan toward a 20k-char budget over six weighted sources
    (operators/sampling.py:mixture_plan): census join against the
    broadcast weight table; unweighted sources rate 0, the
    deliberately-missing srcX reports capped with zero inventory."""
    from stockpy_spark.operators.sampling import mixture_plan

    docs = _t(spark, sf_dir, "documents")
    return mixture_plan(
        docs, "source", _MIX_WEIGHTS, budget_tokens=20000.0,
        size_col="n_chars",
    )


SQL_GATE_MG = """
WITH v AS (
    SELECT CAST(CAST(floor(sqrt(doc_id)) AS BIGINT) AS VARCHAR) AS item
    FROM documents WHERE doc_id IS NOT NULL
), n AS (SELECT count(*) AS total FROM v),
e AS (SELECT item, CAST(count(*) AS BIGINT) AS exact FROM v GROUP BY 1)
SELECT e.item, e.exact, 1 AS found, 1 AS est_ok
FROM e, n WHERE e.exact * 16 > n.total
"""


@query("gate_heavy_hitters", oracle=SQL_GATE_MG)
def q_gate_heavy_hitters(spark, sf_dir):
    """Misra-Gries frequency sketch gate (operators/sketches.py
    heavy_hitters_quality, k=16): the skewed item column
    floor(sqrt(doc_id)) makes item v appear ~2v+1 times (linear skew),
    so the true hitter set is exactly the items whose count * 16
    exceeds the corpus size. Gate: every true hitter found in the
    <= 16-counters-per-partition candidate set with undercount within
    N/16 — the partitioning-independent MG guarantee, hashed against
    the oracle's exact counts + literal flags."""
    from pyspark.sql import functions as F

    from stockpy_spark.operators.sketches import heavy_hitters_quality

    docs = _t(spark, sf_dir, "documents").select(
        F.floor(F.sqrt(F.col("doc_id"))).cast("long").alias("item")
    )
    return heavy_hitters_quality(docs, "item", k=16)


# --- mergeable-sketch families 2 and 3 (KLL quantiles, theta set ops) ----
SQL_GATE_KLL = """
WITH b AS (
    SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS fine
    FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
)
SELECT fine * 86400 // 604800 * 604800 AS bucket_epoch,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT fine) AS BIGINT) AS n_fine_buckets,
       1 AS ok_q25, 1 AS ok_q50, 1 AS ok_q75
FROM b GROUP BY 1
"""


@query("gate_kll_rollup", oracle=SQL_GATE_KLL)
def q_gate_kll_rollup(spark, sf_dir):
    """Two-level QUANTILE rollup via mergeable KLL sketches: daily
    value sketches merged to weekly with kll_merge_agg_double — weekly
    p25/p50/p75 WITHOUT rescanning raw events (exact percentiles are
    holistic; the sketch is what makes them roll up). Gate: the exact
    rank of each weekly estimate within 5 points of the target
    (operators/sketches.py kll_rollup_quality)."""
    from pyspark.sql import functions as F

    from stockpy_spark.operators.sketches import kll_rollup_quality

    from stockpy_spark.sources.testdata import read_events

    ev = read_events(spark, sf_dir).where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    return kll_rollup_quality(
        ev, "ts", "value", fine_seconds=86_400, coarse_seconds=604_800
    )


SQL_GATE_THETA = """
WITH ks AS (
    SELECT event_type AS seg, user_id AS k FROM events
    WHERE event_type IN ('view', 'purchase') AND user_id IS NOT NULL
), a AS (SELECT DISTINCT k FROM ks WHERE seg = 'view'),
   b AS (SELECT DISTINCT k FROM ks WHERE seg = 'purchase')
SELECT 'view' AS measure, CAST((SELECT count(*) FROM a) AS BIGINT) AS exact,
       1 AS gate_ok
UNION ALL
SELECT 'purchase', CAST((SELECT count(*) FROM b) AS BIGINT), 1
UNION ALL
SELECT 'union',
       CAST((SELECT count(*) FROM (SELECT k FROM a UNION SELECT k FROM b)) AS BIGINT), 1
UNION ALL
SELECT 'intersection',
       CAST((SELECT count(*) FROM a WHERE k IN (SELECT k FROM b)) AS BIGINT), 1
UNION ALL
SELECT 'difference',
       CAST((SELECT count(*) FROM a WHERE k NOT IN (SELECT k FROM b)) AS BIGINT), 1
"""


@query("gate_theta_overlap", oracle=SQL_GATE_THETA)
def q_gate_theta_overlap(spark, sf_dir):
    """Audience-overlap algebra via theta sketches — distinct counting
    WITH set operations: viewers, purchasers, their union,
    intersection ("viewed AND purchased"), and difference ("viewed,
    never purchased"), each a KB-sized sketch op instead of a
    distinct-key join; gated at 5% relative error vs the exact counts
    (operators/sketches.py theta_overlap_quality)."""
    from stockpy_spark.operators.sketches import theta_overlap_quality
    from stockpy_spark.sources.testdata import read_events

    ev = read_events(spark, sf_dir)
    return theta_overlap_quality(ev, "event_type", "user_id", "view", "purchase")


# --- two-feature OLS from exact moments ----------------------------------

# The doubles must match bit-for-bit, so the Cramer expansion below is
# written term-for-term in the SAME operation order as the Python det3
# template: m00*(m11*m22 - m12*m21) - m01*(m10*m22 - m12*m20)
#         + m02*(m10*m21 - m11*m20).
SQL_OLS2 = """
WITH p AS (
    SELECT event_type,
           CAST(CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS INTEGER) AS x1,
           CAST(CAST(floor(epoch(ts)) AS BIGINT) % 86400 // 3600 AS INTEGER) AS x2,
           CAST(round(value, 4) AS DECIMAL(18,4)) AS y
    FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
), ms AS (
    SELECT event_type, count(*) AS n,
           sum(x1) AS sx1, sum(x2) AS sx2, sum(y) AS sy,
           sum(x1 * x1) AS sx11, sum(x2 * x2) AS sx22,
           sum(x1 * x2) AS sx12,
           sum(x1 * y) AS sx1y, sum(x2 * y) AS sx2y
    FROM p GROUP BY event_type
), d AS (
    SELECT event_type, n,
           CAST(n AS DOUBLE) AS dn,
           CAST(sx1 AS DOUBLE) AS s1, CAST(sx2 AS DOUBLE) AS s2,
           CAST(sy AS DOUBLE) AS sy,
           CAST(sx11 AS DOUBLE) AS s11, CAST(sx22 AS DOUBLE) AS s22,
           CAST(sx12 AS DOUBLE) AS s12,
           CAST(sx1y AS DOUBLE) AS s1y, CAST(sx2y AS DOUBLE) AS s2y
    FROM ms
), dets AS (
    SELECT event_type, n,
           dn * (s11 * s22 - s12 * s12)
             - s1 * (s1 * s22 - s12 * s2)
             + s2 * (s1 * s12 - s11 * s2) AS det,
           sy * (s11 * s22 - s12 * s12)
             - s1 * (s1y * s22 - s12 * s2y)
             + s2 * (s1y * s12 - s11 * s2y) AS det0,
           dn * (s1y * s22 - s12 * s2y)
             - sy * (s1 * s22 - s12 * s2)
             + s2 * (s1 * s2y - s1y * s2) AS det1,
           dn * (s11 * s2y - s1y * s12)
             - s1 * (s1 * s2y - s1y * s2)
             + sy * (s1 * s12 - s11 * s2) AS det2
    FROM d
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       CASE WHEN round(det, 6) = 0 THEN NULL
            ELSE round(det0 / det, 6) END AS b0,
       CASE WHEN round(det, 6) = 0 THEN NULL
            ELSE round(det1 / det, 6) END AS b1,
       CASE WHEN round(det, 6) = 0 THEN NULL
            ELSE round(det2 / det, 6) END AS b2
FROM dets
"""


@query("stats_ols2", oracle=SQL_OLS2)
def q_stats_ols2(spark, sf_dir):
    """Per-event-type two-feature OLS value ~ b0 + b1*day + b2*hour
    from ONE moment-aggregation pass (operators/stats.py ols2_by_group
    — Cramer over the 3x3 normal equations; integer features + decimal
    target make every moment sum exact on both engines, so the whole
    fit sits under the value-hash oracle, not a tolerance gate)."""
    from pyspark.sql import functions as F

    from stockpy_spark.operators.stats import ols2_by_group
    from stockpy_spark.sources.testdata import read_events

    ev = read_events(spark, sf_dir).where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    sec = F.col("ts").cast("timestamp").cast("long")
    prepared = ev.select(
        "event_type",
        F.floor(sec / 86400).cast("int").alias("x1"),
        F.floor((sec % 86400) / 3600).cast("int").alias("x2"),
        F.round(F.col("value"), 4).cast("decimal(18,4)").alias("y"),
    )
    out = ols2_by_group(prepared, "event_type", "y", "x1", "x2")
    return out.withColumnRenamed("grp", "event_type")


# --- snapshot diff (table-version regression check) ----------------------

# only COUNTS surface, so the 10%-bump value itself (whose half-up vs
# half-even rounding could differ cross-engine on exact boundaries)
# never reaches the hash — changed-ness is identical either way.
SQL_SNAPSHOT_DIFF = """
WITH o AS (
    SELECT o_orderkey AS k, o_totalprice AS p, o_orderstatus AS s
    FROM orders WHERE o_orderkey % 97 <> 0
), n AS (
    SELECT o_orderkey AS k,
           CASE WHEN o_orderkey % 7 = 0 THEN round(o_totalprice * 1.1, 2)
                ELSE o_totalprice END AS p,
           o_orderstatus AS s
    FROM orders WHERE o_orderkey % 89 <> 0
), j AS (
    SELECT o.k IS NOT NULL AS io, n.k IS NOT NULL AS inw,
           CASE WHEN o.k IS NOT NULL AND n.k IS NOT NULL
                     AND o.p IS DISTINCT FROM n.p THEN 1 ELSE 0 END AS cp,
           CASE WHEN o.k IS NOT NULL AND n.k IS NOT NULL
                     AND o.s IS DISTINCT FROM n.s THEN 1 ELSE 0 END AS cs
    FROM o FULL JOIN n ON o.k = n.k
)
SELECT CAST(SUM(CASE WHEN io THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
       CAST(SUM(CASE WHEN inw THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(SUM(CASE WHEN NOT io THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
       CAST(SUM(CASE WHEN NOT inw THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(SUM(CASE WHEN io AND inw AND cp + cs > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_changed,
       CAST(SUM(CASE WHEN io AND inw AND cp + cs = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_unchanged,
       CAST(SUM(cp) AS BIGINT) AS changed_o_totalprice,
       CAST(SUM(cs) AS BIGINT) AS changed_o_orderstatus
FROM j
"""


@query("dq_snapshot_diff", oracle=SQL_SNAPSHOT_DIFF)
def q_dq_snapshot_diff(spark, sf_dir):
    """Diff two deterministic 'snapshots' of orders (old drops keys
    %97==0; new drops %89==0 and bumps o_totalprice by 10% on %7==0):
    one full-outer key join + ONE classifying aggregate ->
    added/removed/changed/unchanged + per-column change counts
    (operators/quality.py snapshot_diff, NULL-safe comparisons). The
    regression check a daily rebuild runs before publishing."""
    from pyspark.sql import functions as F

    orders = _t(spark, sf_dir, "orders")
    old = orders.where(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    new = orders.where(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 7 == 0,
            F.round(F.col("o_totalprice") * 1.1, 2),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    from stockpy_spark.operators.quality import snapshot_diff

    return snapshot_diff(
        old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )


# --- grouped HLL rollup (dimension axis of the sketch shelf) --------------
SQL_GATE_HLL_TYPE = """
WITH wk AS (
    SELECT event_type,
           CAST(floor(epoch(ts)) AS BIGINT) // 604800 * 604800 AS bucket_epoch,
           CAST(floor(epoch(ts)) AS BIGINT) // 86400 * 86400   AS day_start,
           user_id
    FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
)
SELECT event_type, bucket_epoch,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
       CAST(COUNT(DISTINCT day_start) AS BIGINT) AS n_fine_buckets,
       1 AS gate_rel_err_ok
FROM wk GROUP BY event_type, bucket_epoch
"""


@query("gate_hll_by_type", oracle=SQL_GATE_HLL_TYPE)
def q_gate_hll_by_type(spark, sf_dir):
    """Per-(event_type, week) distinct-user rollup from daily HLL
    sketches — the GROUPED axis of hll_bucket_sketches/hll_merge_rollup
    (the r6 gate exercised only the global grid): sketches keyed by a
    dimension merge within their dimension, the per-segment
    distinct-users-per-week question every product dashboard asks.
    Same 5% gate vs the exact verify tier, epoch-BIGINT surface.
    event_type is declared non-null: the sketch-vs-exact INNER JOIN
    would drop a NULL dimension group that the oracle's GROUP BY keeps
    (null join keys never match in Spark) — same regeneration-proofing
    as ts_ewma's ts contract."""
    from pyspark.sql import functions as F

    from stockpy_spark.operators.sketches import (
        hll_bucket_sketches,
        hll_merge_rollup,
    )
    from stockpy_spark.sources.testdata import read_events

    ev = read_events(spark, sf_dir).where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    fine = hll_bucket_sketches(
        ev, "ts", "user_id", 86_400, group_cols=["event_type"]
    )
    merged = hll_merge_rollup(fine, 604_800, group_cols=["event_type"])
    coarse = F.timestamp_seconds(
        (F.col("ts").cast("timestamp").cast("long") / 604_800).cast("long")
        * 604_800
    )
    exact = ev.groupBy("event_type", coarse.alias("bucket_start")).agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        merged.join(exact, ["event_type", "bucket_start"])
        .select(
            "event_type",
            F.col("bucket_start").cast("long").alias("bucket_epoch"),
            "exact_distinct",
            "n_fine_buckets",
            (
                F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
                <= F.col("exact_distinct") * F.lit(0.05)
            ).cast("int").alias("gate_rel_err_ok"),
        )
    )
