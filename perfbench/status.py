"""Read Spark's own counters for a window of work from the status store.

The status store (the data behind the Spark UI, present with the UI
disabled) is fed asynchronously by the listener bus, so every read first
drains the bus; otherwise a job's last stage metrics can land in the next
window. Records cross py4j as one JSON document per list, serialized by
the Jackson mapper Spark ships with.

A window is the half-open range of job, stage and SQL-execution ids the
scheduler allocated between two marks. The store keeps only the latest
``spark.ui.retainedJobs`` jobs and ``spark.ui.retainedStages`` stages, so
a window whose ids are no longer all in the store reports how many were
evicted instead of silently summing fewer stages.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

MB = 1e6


@dataclass(frozen=True)
class Mark:
    job: int
    stage: int
    execution: int


@dataclass
class Window:
    jobs: list[dict] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)  # every attempt
    executions: list[dict] = field(default_factory=list)
    evicted_jobs: int = 0
    evicted_stages: int = 0

    def totals(self) -> dict[str, float]:
        ran = [s for s in self.stages if s["status"] not in ("SKIPPED", "PENDING")]
        tasks = sum(
            s["numCompleteTasks"] + s["numFailedTasks"] + s["numKilledTasks"]
            for s in ran
        )
        # an adaptive plan lists a scan's metrics once per re-plan, all
        # under the same accumulator
        files = {}
        for ex in self.executions:
            values = ex.get("metricValues") or {}
            for m in ex.get("metrics") or []:
                v = values.get(str(m["accumulatorId"]))
                if m["name"] == "number of files read" and v:
                    files[m["accumulatorId"]] = int(v.replace(",", ""))
        return {
            "jobs": len(self.jobs),
            "stages": len(ran),
            "tasks": tasks,
            "executor_run_s": sum(s["executorRunTime"] for s in ran) / 1e3,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in ran) / 1e3,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in ran) / MB,
            "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in ran) / MB,
            "spill_mb": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ran
            ) / MB,
            "input_mb": sum(s["inputBytes"] for s in ran) / MB,
            "input_rows": sum(s["inputRecords"] for s in ran),
            "files_read": sum(files.values()),
            "evicted_jobs": self.evicted_jobs,
            "evicted_stages": self.evicted_stages,
        }


class StatusReader:
    """Marks and reads windows of one SparkSession's status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._gw = sc._gateway
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._stage_list_defaults = [
            getattr(self._store, f"stageList$default${i}")() for i in (2, 3, 4, 5)
        ]

    def _json(self, obj) -> list | dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> Mark:
        """The next ids the scheduler will hand out. Executions have no
        such counter; the highest id in the store stands in for it."""
        self.drain()
        dag = self._sc.dagScheduler()
        execs = self._sql.executionsList()
        last = execs.apply(execs.size() - 1).executionId() if execs.size() else -1
        return Mark(int(dag.nextJobId()), int(dag.nextStageId()), last + 1)

    def window(self, start: Mark, end: Mark | None = None) -> Window:
        """Every job, stage attempt and SQL execution allocated in
        ``[start, end)``; ``end`` defaults to now."""
        end = end or self.mark()
        jobs = [
            j for j in self._json(self._store.jobsList(None))
            if start.job <= j["jobId"] < end.job
        ]
        stages = [
            s for s in self._json(self._store.stageList(None, *self._stage_list_defaults))
            if start.stage <= s["stageId"] < end.stage
        ]
        execs = [
            e for e in self._json(self._sql.executionsList())
            if start.execution <= e["executionId"] < end.execution
        ]
        return Window(
            jobs=jobs,
            stages=stages,
            executions=execs,
            evicted_jobs=(end.job - start.job) - len(jobs),
            evicted_stages=(end.stage - start.stage) - len({s["stageId"] for s in stages}),
        )

    def task_skew(self, window: Window) -> tuple[float, float]:
        """(longest task in seconds, worst stage's max / median task
        run time) over the window's stages that ran more than one task."""
        q = self._gw.new_array(self._gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        longest, skew = 0.0, 1.0
        for s in window.stages:
            if s["status"] != "COMPLETE":
                continue
            summary = self._store.taskSummary(s["stageId"], s["attemptId"], q)
            if summary.isEmpty():
                continue
            med, top = self._json(summary.get())["executorRunTime"]
            longest = max(longest, top / 1e3)
            if s["numTasks"] > 1 and med > 0:
                skew = max(skew, top / med)
        return longest, skew
