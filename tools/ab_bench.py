"""Timing and shuffle-byte probe for named queries: one warmed Spark
session, R rounds per query (noop sink, fresh plan each round), prints
each round's wall and shuffle-write MB plus the wall min/median.

For A/B comparisons run this once per code variant (e.g. working tree
vs ``git stash``) back-to-back on a quiet host and compare the MIN
(steady-state plan cost) and MEDIAN (typical); a cross-variant delta
smaller than the in-variant round spread is noise. The per-round MB is
the same StatusReader window bench.py records in its ledger, so run in
isolation it settles whether a ledger byte change is plan drift or the
documented CC-family wobble.

Usage: python tools/ab_bench.py [-r ROUNDS] q1 [q2 ...]
       SPARK_GRAFT_SF_DIR overrides the data dir (default sf0.1).
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from perfbench.status import StatusReader  # noqa: E402
from stockpy_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    rounds = 4
    if args and args[0] == "-r":
        rounds = int(args[1])
        args = args[2:]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ab_bench")
    spark.sparkContext.setLogLevel("ERROR")
    from stockpy_spark.registry import QUERIES

    reader = StatusReader(spark)
    QUERIES["a2_count_star"](spark, sf_dir).collect()
    from stockpy_spark.sources.testdata import read_events

    read_events(spark, sf_dir).count()

    for name in names:
        walls, mbs = [], []
        for i in range(rounds):
            spark.sparkContext.setJobDescription(f"ab:{name}:{i}")
            mark = reader.mark()
            t0 = time.time()
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            walls.append(time.time() - t0)
            mbs.append(reader.window(mark).totals()["shuffle_write_mb"])
        spark.sparkContext.setJobDescription(None)
        print(
            f"{name}: min={min(walls):.2f} med={statistics.median(walls):.2f}"
            "  rounds=["
            + ", ".join(f"{w:.2f}s/{mb:.3f}MB" for w, mb in zip(walls, mbs))
            + "]"
        )


if __name__ == "__main__":
    main()
