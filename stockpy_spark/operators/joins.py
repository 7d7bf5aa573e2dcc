"""Join-family operators (SURVEY.md §2.3 J1/J2 + semi/anti + as-of).

Scale notes baked into each operator:

- Dimension enrichment broadcasts the small side explicitly (J1's 10-row
  dimension must never shuffle a 100 TB fact table; Catalyst would usually
  pick broadcast on its own under autoBroadcastJoinThreshold, the hint
  makes it deterministic).
- The dimension-PRESERVING enrichment (``dim LEFT JOIN fact``) picks
  its plan from Catalyst's size estimate of the fact: a fact under
  autoBroadcastJoinThreshold is the broadcast build side of one hash
  join (2 jobs for a write: the broadcast and the write); a larger or
  unsized fact takes a two-pass plan that never shuffles it (up to 5
  jobs).
- The "attach group totals to every row" pattern ships in two shapes: the
  reference's agg+back-join (J2, transform_stocks_job.py:181) and the
  idiomatic window aggregate, which does ONE shuffle on the group key
  instead of shuffle(agg) + shuffle(join). The window variant is the one
  a 100 TB pipeline should use; both are exposed and oracle-tested equal.
- As-of join (not in the reference; natural stock-vs-news alignment query)
  is the union+window formulation: a single shuffle/sort on (key, time)
  instead of a per-row range probe — O(n log n) distributed, no
  nested-loop join, no driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType
from pyspark.sql.window import Window


def enrich_left_join(
    fact: DataFrame, dim: DataFrame, on: str | list[str], how: str = "left"
) -> DataFrame:
    """J1 — enrich rows with a (small) dimension via broadcast equi-join
    (reference: 10-row ticker/sector dim LEFT JOIN quotes,
    extract_stocks_job.py:144)."""
    return fact.join(F.broadcast(dim), on=on, how=how)


def dim_preserving_enrich(
    dim: DataFrame, fact: DataFrame, on: str | list[str]
) -> DataFrame:
    """``dim LEFT JOIN fact`` — keep every dimension row even when the
    fact has no match (reference: df_map.join(df_data, "Ticker",
    "left"), extract_stocks_job.py:144) — WITHOUT shuffling the fact.

    A left-outer join that preserves the dim can only broadcast the
    fact (the preserved side must stream). Written directly on an
    unsized or large fact, Catalyst plans a sort-merge join that
    shuffles the whole fact on the join key. The plan is therefore
    chosen from Catalyst's size estimate of the fact (no job):

    - ``0 <= size <= spark.sql.autoBroadcastJoinThreshold``: the fact
      is small enough to be the build side, so this is
      ``dim.join(broadcast(fact), on, "left")`` — one broadcast hash
      join, no shuffle; a write over it runs 2 jobs (the fact's
      broadcast, the write).
    - otherwise (a large fact, threshold -1, or a frame with no size
      statistics such as rows built on the driver): two narrow passes
      over the fact, up to 5 jobs for a write:

      1. ``fact INNER JOIN broadcast(dim)`` — map-side hash join;
      2. matched keys = map-side-combined distinct over the join key
         (result is at most |dim| rows);
      3. dim rows whose key is absent -> appended with NULL fact
         columns (broadcast anti-join against the tiny matched-key set).

    Either way the result rows, column order (keys, dim columns, fact
    columns) and key types are those of ``dim.join(fact, on, "left")``.
    """
    keys = [on] if isinstance(on, str) else list(on)
    # Catalyst's estimate from the optimized plan's statistics: no job
    size = fact._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    conf = dim.sparkSession._jsparkSession.sessionState().conf()
    if 0 <= size <= conf.autoBroadcastJoinThreshold():
        return dim.join(F.broadcast(fact), on=keys, how="left")
    # the inner join returns keys of the wider of the two types; a
    # matched key equals a dim key, so it casts back to the dim's type
    matched = fact.join(F.broadcast(dim), on=keys, how="inner").select(
        *[F.col(k).cast(dim.schema[k].dataType).alias(k) for k in keys],
        *[F.col(c) for c in dim.columns if c not in keys],
        *[F.col(c) for c in fact.columns if c not in keys],
    )
    # semi-filter against the dim keys BEFORE the distinct so the
    # aggregate's state (and its broadcast result) is bounded by |dim|,
    # not by the fact's key cardinality
    matched_keys = (
        fact.select(*keys)
        .join(F.broadcast(dim.select(*keys)), on=keys, how="left_semi")
        .distinct()
    )
    misses = dim.join(F.broadcast(matched_keys), on=keys, how="left_anti")
    for c in fact.columns:
        if c not in keys:
            misses = misses.withColumn(c, F.lit(None).cast(fact.schema[c].dataType))
    return matched.unionByName(misses.select(*matched.columns))


def attach_group_stats(
    df: DataFrame, keys: list[str], aggs: dict[str, F.Column], broadcast: bool = True
) -> DataFrame:
    """J2 — per-group aggregate joined back to every row (reference:
    transform_stocks_job.py:177-181). ``aggs`` maps output column name ->
    aggregate Column.

    ``broadcast=True`` (the default) fits the reference's use — a
    bounded group domain (sectors, event types) whose aggregate is a
    handful of rows. Pass ``broadcast=False`` for high-cardinality keys
    (per-user, per-url): the aggregate then grows with the data and a
    forced broadcast would OOM — or use attach_group_stats_window,
    which needs one shuffle total.
    """
    agg_df = df.groupBy(*keys).agg(*[c.alias(n) for n, c in aggs.items()])
    if broadcast:
        agg_df = F.broadcast(agg_df)
    return df.join(agg_df, on=keys, how="left")


def attach_group_stats_window(
    df: DataFrame, keys: list[str], aggs: dict[str, F.Column]
) -> DataFrame:
    """J2 idiomatic variant — same result as :func:`attach_group_stats`
    with a single shuffle: ``agg OVER (PARTITION BY keys)``."""
    w = Window.partitionBy(*keys)
    return df.withColumns({n: c.over(w) for n, c in aggs.items()})


def semi_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """EXISTS — rows of ``left`` with a match in ``right``."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | list[str]) -> DataFrame:
    """NOT EXISTS — rows of ``left`` without a match in ``right``."""
    return left.join(right, on=on, how="left_anti")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    salt_buckets: int = 8,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Skew-resistant equi-join: the left (large, skewed) side is salted
    into ``salt_buckets`` sub-keys; the right side is replicated once per
    bucket. A hot key that would hammer one reducer spreads across
    ``salt_buckets`` of them. Result is identical to ``left.join(right,
    on, how)`` for the SUPPORTED modes: inner, cross, left/left_outer,
    left_semi, left_anti. Right/full outer would emit every unmatched
    right row once per salt bucket (the right side is replicated), so
    those modes are rejected.

    AQE's skew-join splitting handles moderate skew automatically; use
    explicit salting when one key dominates an entire stage (the
    classic null-key / default-value hot spot).

    Measured (BASELINE.md §4 "Skew crossover"; the script is
    tools/skew_bench.py in commit e029af0: local[32], 90% of rows on
    ONE key, 1k-row dim with auto-broadcast disabled to force the
    shuffle):
    at 20M fact rows plain join takes 6.8 s with AQE skew-split on
    (7.5 s off — the split barely bites on this shape) vs 3.0 s salted
    with 8 buckets and 2.4 s with 32 — a 2.8x win. At 5M rows the gap
    is inside noise (2.6 s vs 2.0 s): below roughly what one core
    chews through in a second, the hot reducer isn't the bottleneck
    and salting is just overhead. Salt when hot-key row count per
    reducer reaches tens of millions (cluster: when one task's input
    exceeds a few hundred MB), not by default.

    The salt must be DETERMINISTIC per row content — a salt derived from
    ``monotonically_increasing_id``/``rand`` changes when a task is
    recomputed after a shuffle-fetch failure, the classic
    nondeterministic-repartition-key hazard that duplicates or drops
    rows mid-retry. Pass ``salt_cols`` (a few stable, high-cardinality
    payload columns) to bound hashing cost on wide fact rows; by
    default every hashable left column is hashed (map-typed columns are
    skipped — ``F.hash`` raises AnalysisException on maps).

    CAVEAT: because the salt is content-derived, BYTE-IDENTICAL
    duplicate rows all hash to the same bucket, so a hot spot made of
    exact clones (e.g. a null-key default row repeated millions of
    times) is NOT spread by the default salt. If your hot rows are
    identical, pass ``salt_cols`` naming columns that DO distinguish
    them, or deduplicate-and-count before the join.

    """
    normalized = how.lower().replace("_", "")
    if normalized in {"right", "rightouter", "full", "fullouter", "outer"}:
        raise ValueError(
            f"salted_join does not support how={how!r}: the replicated "
            "right side would duplicate unmatched right rows once per "
            "salt bucket. Use a plain join (AQE skew handling) for "
            "right/full outer."
        )
    if salt_cols is None:
        salt_cols = [
            f.name
            for f in left.schema.fields
            if not isinstance(f.dataType, MapType)
        ]
    salt_inputs = [F.col(c) for c in salt_cols]
    salt = F.pmod(F.hash(*salt_inputs), F.lit(salt_buckets)).alias("__salt")
    l = left.withColumn("__salt", salt)
    r = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    return l.join(r, [on, "__salt"], how).drop("__salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_time: str,
    right_time: str,
    value_cols: list[str],
    strict: bool = False,
) -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    ``right_time <= left_time`` (``<`` if ``strict``) per join key.

    Distributed formulation: union both sides tagged, one window sorted by
    (key, time, side) and ``last(struct, ignoreNulls)`` carries the latest
    right payload forward — the struct guarantees all value columns come
    from the SAME right row. One shuffle + in-partition sort; no range
    probe, no skew-prone theta join. Right side should be pre-deduplicated
    per (key, time) for deterministic results.
    """
    lcols = left.columns
    # side=0 sorts before side=1 at equal time for <= semantics;
    # strict flips the tag so left rows at time t precede right rows at t.
    right_tag, left_tag = (1, 0) if strict else (0, 1)
    payload = F.struct(*[F.col(c) for c in value_cols]).alias("__asof_payload")

    r = right.select(
        *[F.col(c) for c in on],
        F.col(right_time).alias("__asof_t"),
        F.lit(right_tag).alias("__side"),
        payload,
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in on],
    )
    l = left.select(
        *[F.col(c) for c in on],
        F.col(left_time).alias("__asof_t"),
        F.lit(left_tag).alias("__side"),
        F.lit(None).cast(r.schema["__asof_payload"].dataType).alias("__asof_payload"),
        *[F.col(c) for c in lcols if c not in on],
    )
    combined = r.unionByName(l)
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("__asof_t"), F.col("__side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = combined.withColumn(
        "__carried", F.last("__asof_payload", ignorenulls=True).over(w)
    )
    out = carried.filter(F.col("__side") == F.lit(left_tag))
    return out.select(
        *[F.col(c) for c in on],
        F.col("__asof_t").alias(left_time),
        *[F.col(c) for c in lcols if c not in on and c != left_time],
        *[F.col(f"__carried.{c}").alias(c) for c in value_cols],
    )


def blocked_fuzzy_join(
    dirty: DataFrame,
    catalog: DataFrame,
    dirty_name: str,
    catalog_name: str,
    max_dist: int = 2,
    prefix_len: int = 4,
) -> DataFrame:
    """Entity-resolution join: match free-text names against a catalog
    within a Levenshtein edit-distance budget, WITHOUT the all-pairs
    cross join a naive ``levenshtein(a, b) <= k`` predicate plans.

    Blocking: two candidate-generation equi-keys that any true match
    within ``max_dist`` edits must share at least structurally —
    (1) the name's first ``prefix_len`` characters (valid when, as in
    catalog data, edits concentrate past the head of the string;
    documented recall assumption, not a theorem — lower ``prefix_len``
    to trade cost for recall on head-noisy data), and
    (2) a length band: |len(a) - len(b)| <= max_dist is implied by edit
    distance, so the equi-join key rounds length down to a
    (max_dist+1)-wide band and probes both adjacent bands too (explode
    of 3 band keys per dirty row). The pair (prefix, band) is an
    EQUI-join key
    -> shuffle hash join, never BroadcastNestedLoopJoin; the expensive
    ``levenshtein`` runs only on in-block candidates.

    100 TB: cost is sum of block sizes squared only WITHIN identical
    4-char prefixes — Zipf-hot prefixes are the skew risk; AQE
    skew-join splits them (same story as j6_salted_join; salt the
    prefix with a length digit if a single prefix dominates).
    """
    band = max_dist + 1
    d = dirty.select(
        F.col("*"),
        F.substring(F.col(dirty_name), 1, prefix_len).alias("__blk"),
        F.explode(
            F.array(
                (F.length(dirty_name) / band).cast("long"),
                (F.length(dirty_name) / band).cast("long") + F.lit(1),
                (F.length(dirty_name) / band).cast("long") - F.lit(1),
            )
        ).alias("__band"),
    )
    c = catalog.select(
        F.col("*"),
        F.substring(F.col(catalog_name), 1, prefix_len).alias("__cblk"),
        (F.length(catalog_name) / band).cast("long").alias("__cband"),
    )
    joined = d.join(
        c,
        (F.col("__blk") == F.col("__cblk")) & (F.col("__band") == F.col("__cband")),
    )
    return (
        joined.filter(
            F.levenshtein(F.col(dirty_name), F.col(catalog_name)) <= max_dist
        )
        .drop("__blk", "__band", "__cblk", "__cband")
    )


def fellegi_sunter_scores(
    df: DataFrame,
    block_col: str,
    agree_cols: list[str],
    id_col: str,
    m: float = 0.9,
    min_score: float = 0.0,
    dp: int = 6,
) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (1969 — the theory
    under every production ER system): candidate pairs from equality
    blocking are scored by summed field log-likelihood ratios,
    ``ln(m/u)`` when a field agrees and ``ln((1-m)/(1-u))`` when it
    disagrees. ``m`` (P(agree | true match)) is the standard fixed
    prior; ``u`` (P(agree | random non-match)) is ESTIMATED from the
    data as each field's collision probability ``sum_v (c_v / N)^2`` —
    exact relational arithmetic, no labels and no EM needed, and the
    part the data can actually tell you. Pairs scoring >=
    ``min_score`` are the candidate matches.

    Scale shape: ONE pass estimates every field's u — the
    profile_entropy melt idiom: explode each row to (field, value)
    pairs, one map-side-combined groupBy, one p-row collect of
    per-field (N, sum c^2) moments (``sum_v (c_v/N)^2 =
    (sum c^2)/N^2``, both moments exact integers below 2^53) —
    instead of p+1 full scans (a count plus a per-field groupBy
    loop). The pair join is the er_fuzzy_match blocking family
    (bounded by block sizes, AQE-skew-safe). Returns (id_1, id_2,
    agree_<f>... , score).

    A CONSTANT field (u = 1) makes the disagreement weight
    ln((1-m)/(1-u)) divide by zero — such a field carries no
    discriminating information, so it is rejected with a ValueError;
    sub-ulp float drift toward 1 or 0 is clamped to (eps, 1-eps)."""
    melted = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("__fld"),
                        F.col(f).cast("string").alias("__val"),
                    )
                    for f in agree_cols
                ]
            )
        ).alias("__e")
    ).select("__e.__fld", "__e.__val")
    census = (
        melted.groupBy("__fld", "__val")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("__fld")
        .agg(
            F.sum("__c").alias("__n"),
            F.sum(F.col("__c") * F.col("__c")).alias("__ss"),
        )
        .collect()  # p rows: one bounded driver transfer
    )
    if not census:
        raise ValueError("fellegi_sunter_scores: input has no rows")
    eps = 1e-12
    u_vals = {}
    for r in census:
        u = float(r["__ss"]) / float(r["__n"]) ** 2
        if u >= 1.0 - eps:
            raise ValueError(
                f"fellegi_sunter_scores: field {r['__fld']!r} is "
                "constant (collision probability u = 1); it cannot "
                "discriminate matches — drop it from agree_cols"
            )
        u_vals[r["__fld"]] = min(max(u, eps), 1.0 - eps)

    a = df.alias("a")
    b = df.alias("b")
    pairs = a.join(
        b,
        (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    import math

    score = F.lit(0.0)
    flags = []
    for f in agree_cols:
        agree = F.col(f"a.{f}").eqNullSafe(F.col(f"b.{f}"))
        w_a = math.log(m / u_vals[f])
        w_d = math.log((1.0 - m) / (1.0 - u_vals[f]))
        score = score + F.when(agree, F.lit(w_a)).otherwise(F.lit(w_d))
        flags.append(agree.cast("int").alias(f"agree_{f}"))
    return (
        pairs.select(
            F.col(f"a.{id_col}").alias("id_1"),
            F.col(f"b.{id_col}").alias("id_2"),
            *flags,
            F.round(score, dp).alias("score"),
        )
        .where(F.col("score") >= min_score)
    )
