"""Full-corpus shuffle-ledger snapshot (r16 verdict item #5, carried
from r15 item #7): the bench ledger covers only the 51 headline
queries, so the other ~200 had no byte-drift tripwire — and with the
driver's 50-slot correctness window rotating, an out-of-window query
could silently change plan shape for a round. This snapshot runs EVERY
registered query at sf0.01 with the same drained-listener shuffle
bracket bench.py uses and writes LEDGER_FULL.json; diff two snapshots
across rounds (or against git) exactly like tools/ledger_diff.py does
for the bench ledger — any byte change on a query whose code did not
change is the drift signal.

Caveats (same as the bench ledger): iterative CC-family queries carry
a documented ± wobble in a warm multi-query session (compressed size
of per-round frames depends on within-partition row order); their
arbiter is tools/shuffle_probe.py in isolation. Streaming queries
drive real micro-batch runs whose sink/checkpoint dirs are fresh per
call, so their bytes are stable too.

Usage: python tools/ledger_full.py [sf_dir]     (default sf0.01)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from stockpy_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(
        "ledger_full", extra_conf={"spark.ui.retainedStages": "100000"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    from stockpy_spark.registry import QUERIES

    sc = spark.sparkContext
    retained = int(sc.getConf().get("spark.ui.retainedStages", "1000"))
    n_stages = 0

    def shuffle_total() -> int:
        # the status store evicts its oldest stages past
        # spark.ui.retainedStages, which would silently deflate every
        # later per-query delta: stop the sweep before that can happen
        nonlocal n_stages
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        empty = sc._jvm.java.util.ArrayList()
        stages = store.stageList(
            empty,
            *[getattr(store, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
        )
        n_stages = stages.size()
        if n_stages >= retained:
            raise SystemExit(
                f"{n_stages} stages reached spark.ui.retainedStages="
                f"{retained}; evicted stages would deflate the ledger"
            )
        return sum(
            stages.apply(i).shuffleWriteBytes() for i in range(n_stages)
        )

    QUERIES["a2_count_star"](spark, sf_dir).collect()

    out: dict[str, float] = {}
    errs: dict[str, str] = {}
    t_start = time.time()
    for name, fn in QUERIES.items():
        w0 = shuffle_total()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # record, keep sweeping
            errs[name] = str(e)[:200]
        else:
            out[name] = round((shuffle_total() - w0) / 1e6, 3)
        print(f"  {name}: {out.get(name, 'ERR')}", file=sys.stderr)

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "LEDGER_FULL.json",
    )
    with open(path, "w") as fh:
        json.dump(
            {
                "sf_dir": sf_dir,
                "n_queries": len(out),
                "n_stages": n_stages,
                "retained_stages": retained,
                "wall_total_s": round(time.time() - t_start, 1),
                "shuffle_write_mb": dict(sorted(out.items())),
                "errors": errs,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
        fh.write("\n")
    print(f"wrote {path}: {len(out)} queries, {len(errs)} errors")


if __name__ == "__main__":
    main()
