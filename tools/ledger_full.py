"""Full-corpus shuffle-ledger snapshot (r16 verdict item #5, carried
from r15 item #7): the bench ledger covers only the 51 headline
queries, so the other ~200 had no byte-drift tripwire — and with the
driver's 50-slot correctness window rotating, an out-of-window query
could silently change plan shape for a round. This snapshot runs EVERY
registered query at sf0.01, reads its shuffle bytes through the same
StatusReader window bench.py uses, and writes LEDGER_FULL.json; diff
two snapshots across rounds (or against git) exactly like
tools/ledger_diff.py does for the bench ledger — any byte change on a
query whose code did not change is the drift signal.

A window that lost stages which ran to status-store eviction would
under-count, so such queries are listed under ``evicted_stages`` and
the run exits 1 (``bench.evicted_ran_stages``; evicted SKIPPED stages
carry no bytes and do not count).

Caveats (same as the bench ledger): iterative CC-family queries carry
a documented ± wobble in a warm multi-query session (compressed size
of per-round frames depends on within-partition row order); their
arbiter is tools/ab_bench.py in isolation. Streaming queries drive
real micro-batch runs whose sink/checkpoint dirs are fresh per call,
so their bytes are stable too.

Usage: python tools/ledger_full.py [sf_dir]     (default sf0.01)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import evicted_ran_stages  # noqa: E402
from perfbench.status import StatusReader  # noqa: E402
from stockpy_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("ledger_full")
    spark.sparkContext.setLogLevel("ERROR")
    from stockpy_spark.registry import QUERIES

    reader = StatusReader(spark)
    QUERIES["a2_count_star"](spark, sf_dir).collect()

    out: dict[str, float] = {}
    errs: dict[str, str] = {}
    evicted: dict[str, int] = {}
    t_start = time.time()
    for name, fn in QUERIES.items():
        mark = reader.mark()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # record, keep sweeping
            errs[name] = str(e)[:200]
        else:
            window = reader.window(mark)
            out[name] = round(window.totals()["shuffle_write_mb"], 3)
            if lost := evicted_ran_stages(window):
                evicted[name] = lost
        print(f"  {name}: {out.get(name, 'ERR')}", file=sys.stderr)

    path = os.path.join(REPO, "LEDGER_FULL.json")
    with open(path, "w") as fh:
        json.dump(
            {
                "sf_dir": sf_dir,
                "n_queries": len(out),
                "wall_total_s": round(time.time() - t_start, 1),
                "shuffle_write_mb": dict(sorted(out.items())),
                "errors": errs,
                "evicted_stages": evicted,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
        fh.write("\n")
    print(f"wrote {path}: {len(out)} queries, {len(errs)} errors")
    if evicted:
        sys.exit(f"stages evicted from the status store: {evicted}")


if __name__ == "__main__":
    main()
