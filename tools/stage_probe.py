"""Generic per-stage attribution for any registered query: run the
query (noop sink) once warm + once measured, then dump every stage the
measured run executed — wall (completion-submission), executor task
time, task count, input/shuffle bytes — from the StatusReader window
of the measured run (perfbench/status.py). This is the empirical half
of guide §1: it tells you whether a query's wall is one fat single-task
stage (serialized CPU), many tiny stages (scheduler/job overhead), or a
genuine shuffle.

Usage: python tools/stage_probe.py <query> [query ...]
       SPARK_GRAFT_SF_DIR overrides the data dir (default sf0.1).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from perfbench.status import StatusReader  # noqa: E402
from stockpy_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("stage_probe")
    spark.sparkContext.setLogLevel("ERROR")
    from stockpy_spark.registry import QUERIES

    reader = StatusReader(spark)
    # warm scans + JVM
    QUERIES["a2_count_star"](spark, sf_dir).collect()

    for name in names:
        # warm run (plan compilation, broadcast warmup)
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        mark = reader.mark()
        t0 = time.time()
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        window = reader.window(mark)
        rows = []
        for sd in window.stages:
            stage_wall = 0.0
            if sd["submissionTime"] and sd["completionTime"]:
                stage_wall = (sd["completionTime"] - sd["submissionTime"]) / 1e3
            rows.append(
                (
                    sd["stageId"],
                    stage_wall,
                    sd["executorRunTime"] / 1e3,
                    sd["numCompleteTasks"],
                    sd["inputBytes"] / 1e6,
                    sd["shuffleReadBytes"] / 1e6,
                    sd["shuffleWriteBytes"] / 1e6,
                    (sd["description"] or sd["name"])[:90],
                )
            )
        rows.sort(key=lambda r: -r[1])
        print(f"\n=== {name}: wall {wall:.3f}s, {len(rows)} stages"
              f" ({window.evicted_stages} evicted) ===")
        print(f"{'stage':>6} {'wall_s':>7} {'task_s':>7} {'tasks':>5} "
              f"{'in_MB':>7} {'shR_MB':>7} {'shW_MB':>7}  name")
        for r in rows:
            print(
                f"{r[0]:>6} {r[1]:>7.2f} {r[2]:>7.2f} {r[3]:>5} "
                f"{r[4]:>7.2f} {r[5]:>7.2f} {r[6]:>7.2f}  {r[7]}"
            )
        tot_wall = sum(r[1] for r in rows)
        print(f"sum(stage wall)={tot_wall:.2f}s vs query wall {wall:.3f}s "
              f"(gap = driver/plan/scheduling)")


if __name__ == "__main__":
    main()
