"""Benchmark driver: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload release --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates the workload's inputs
from the seed under ``.perfbench/`` in the checkout, starts a session on
``local[<usable cores>]``, runs one untimed warm-up pass whose outputs
are checked, then as many timed passes back to back as fit in
``--seconds`` (at least one). With ``--trace 1`` the time is split between
untraced and traced passes, one more untraced pass follows, and the
spans of the traced passes are written to
``.perfbench/trace-<workload>-seed<seed>.json``.

The end-to-end metrics are set-up time and what a pass does: bytes
shuffled and bytes the JVM allocates. Set-up time (``setup_s``) is the
CPU time that the driver, its JVM and the JVM's Python workers spend
from process start to the end of warm-up, input generation and the JIT
compiler excluded; its wall time is the per-layer ``session.start_s``
plus ``session.warmup_s``. A pass's wall time (``pass_s``) and CPU
time (``pass_cpu_s``) are per-layer metrics, without a bound. On a host
whose cores other guests share, wall time follows how busy the host is
more than what the program does, and CPU time does too, less so.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

WORKLOADS = ["release", "lake_etl"]

END_TO_END = {
    "setup_s": "s",
    "shuffle_mb": "MB",
    "jvm_alloc_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "registry.plan_s": "s",
    "registry.plan_jobs": "count",
    "driver.py4j_calls": "count",
    "pinning.calls": "count",
    "pinning.s": "s",
    "pinning.literal_calls": "count",
    "pinning.literal_hit_ratio": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.action_s": "s",
    "spark.core_idle_frac": "ratio",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.max_task_s": "s",
    "spark.task_skew": "ratio",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.input_rows": "count",
    "spark.evicted_stages": "count",
    "pipeline.stage_s.extract_stocks_job": "s",
    "pipeline.stage_s.extract_news_job": "s",
    "pipeline.stage_s.transform_stocks_job": "s",
    "pipeline.stage_s.transform_news_job": "s",
    "pipeline.stages_failed": "count",
    "pipelines.extract_s": "s",
    "pipelines.transform_s": "s",
    "writers.s": "s",
    "writers.files": "count",
    "writers.mb": "MB",
    "writers.mb_per_file": "MB",
    "writers.written_bytes_per_input_byte": "ratio",
    "catalog.s": "s",
    "catalog.ddl_calls": "count",
    "catalog.partitions": "count",
    "readers.files_scanned": "count",
    "readers.rows_read_per_row_out": "ratio",
    "pass_s": "s",
    "pass_cpu_s": "s",
    "driver.python_cpu_s": "s",
    "jit.cpu_s": "s",
    "trace.pass_cpu_s": "s",
    "trace.overhead_cpu_s": "s",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class JvmAlloc:
    """Bytes the driver JVM (and so, in local mode, every executor task)
    has allocated on its heap, from the JVM's per-thread counters. The
    difference across a pass is what the pass allocated; unlike resident
    or peak used memory it does not depend on when the collector runs or
    commits heap."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._threads = mf.getThreadMXBean()

    def bytes(self) -> int:
        return int(self._threads.getTotalThreadAllocatedBytes())


class CpuTime:
    """CPU seconds used by this Python process, its JVM (which in local
    mode runs the executors too) and the JVM's Python workers, read from
    ``/proc``. The JVM's JIT compiler threads are counted apart: how much
    they still compile during a pass depends on how far warm-up got, not
    on the pass. CPU time grows less than wall time while other guests
    share this machine's cores, since it leaves out waiting for a core."""

    JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")

    def __init__(self, pid: int):
        self.pid = pid
        self.tick = os.sysconf("SC_CLK_TCK")

    def _stat(self, path: str) -> tuple[str, list[str]]:
        with open(path) as fh:
            s = fh.read()
        return s[s.index("(") + 1:s.rindex(")")], s[s.rindex(")") + 2:].split()

    def _tree(self) -> float:
        """CPU of the JVM and its descendants, live or reaped: a process's
        own time plus that of the children it has waited for."""
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    parent[int(d)] = int(self._stat(f"/proc/{d}/stat")[1][1])
                except (OSError, ValueError):  # the process ended
                    pass
        total, todo = 0, [self.pid]
        while todo:
            pid = todo.pop()
            try:
                fields = self._stat(f"/proc/{pid}/stat")[1]
            except OSError:
                continue
            total += sum(int(f) for f in fields[11:15])
            todo += [c for c, p in parent.items() if p == pid]
        return total / self.tick

    def sample(self) -> tuple[float, float, float]:
        """(Python driver CPU s, JVM and worker CPU s without the JIT, JIT
        CPU s). A process's total includes its threads that have ended;
        the compiler threads live as long as the JVM (see
        ``start_session``)."""
        jit = 0
        for tid in os.listdir(f"/proc/{self.pid}/task"):
            try:
                name, fields = self._stat(f"/proc/{self.pid}/task/{tid}/stat")
            except OSError:  # the thread ended
                continue
            if name.startswith(self.JIT_THREADS):
                jit += int(fields[11]) + int(fields[12])
        return time.process_time(), self._tree() - jit / self.tick, jit / self.tick


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spark = None
        self.attempted = 0
        self.failed: list[str] = []

    # -- set-up ----------------------------------------------------------

    def start_session(self):
        from stockpy_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
        self.cores = cores
        tmp = os.path.join(self.work, "tmp")
        # Fixed compiler threads, so that none ends (taking its CPU time
        # into the process total) and CpuTime can subtract the JIT's share.
        java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
        return get_spark(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.driver.extraJavaOptions": java_opts,
                "spark.ui.showConsoleProgress": "false",
            },
        )

    def pass_once(self, wl, tracer, collect: bool):
        """Run one pass and count its failures; returns (seconds, CPU
        seconds as (python, jvm, jit), results, the tracer's counters for
        the pass or None)."""
        lake = self.args.workload == "lake_etl"
        root = wl.reset() if lake else None
        counters = getattr(tracer, "counters", None)
        if counters is not None:
            counters.clear()
        c0, t0 = self.cpu.sample(), time.perf_counter()
        results = wl.run_pass(tracer, root) if lake else wl.run_pass(tracer, collect)
        dt, c1 = time.perf_counter() - t0, self.cpu.sample()
        cpu = tuple(b - a for a, b in zip(c0, c1))
        if counters is not None:
            counters = dict(counters)
        self.attempted += len(results)
        log(f"pass {dt:.2f}s, cpu {cpu[0] + cpu[1]:.2f}s (+{cpu[2]:.2f}s jit): "
            + " ".join(f"{r.name}={r.seconds:.2f}" for r in results))
        errors = [r.name for r in results if r.error is not None]
        for r in results:
            if r.error is not None:
                log(f"{r.name} failed: {r.error[:300]}")
        if lake:
            errors = wl.check(results)  # every lake pass is checked
        self.failed += errors
        return dt, cpu, results, counters

    # -- the run ---------------------------------------------------------

    def execute(self) -> dict:
        from perfbench import gen

        args = self.args
        t0, g0 = time.perf_counter(), time.process_time()
        manifest = gen.generate(args.workload, args.seed, os.path.join(self.work, "inputs"))
        log(f"inputs: {manifest['input_bytes'] / 1e6:.1f} MB in {time.perf_counter() - t0:.1f}s")
        gen_cpu = time.process_time() - g0

        t_setup = time.perf_counter()
        spark = self.start_session()
        self.spark = spark
        start_s = time.perf_counter() - t_setup + (t0 - T_PROCESS)
        from perfbench.status import StatusReader
        from perfbench.trace import NullTracer, Tracer
        from perfbench.workloads import LakeWorkload, ReleaseWorkload

        if args.workload == "lake_etl":
            wl = LakeWorkload(spark, manifest, self.work)
        else:
            wl = ReleaseWorkload(spark, manifest)
        reader = StatusReader(spark)
        self.alloc = JvmAlloc(spark)
        from pyspark import SparkContext

        self.cpu = CpuTime(SparkContext._gateway.proc.pid)
        null = NullTracer()

        t_warm = time.perf_counter()
        _dt, _cpu, warm, _ = self.pass_once(wl, null, collect=True)
        warmup_s = time.perf_counter() - t_warm
        py, jvm, jit = self.cpu.sample()
        setup_cpu = py - gen_cpu + jvm
        if args.workload != "lake_etl":
            bad = wl.check(warm)
            self.failed += [b for b in bad if b not in self.failed]
        rows_out = {r.name: len(r.rows) if r.rows is not None else r.detail.get("rows_out", 0)
                    for r in warm}
        log(f"setup {start_s:.1f}s + warm-up {warmup_s:.1f}s, cpu {setup_cpu:.2f}s (+{jit:.2f}s jit)")

        budget = args.seconds / 2 if args.trace else args.seconds
        passes = self.timed_passes(wl, null, reader, budget)
        log("passes (wall s, cpu s, jvm MB allocated): " + " ".join(
            f"{p['pass_s']:.2f}/{p['cpu_s']:.2f}/{p['jvm_alloc_mb']:.0f}" for p in passes))

        e2e = {
            "setup_s": setup_cpu,
            "shuffle_mb": median(p["shuffle_write_mb"] for p in passes),
            "jvm_alloc_mb": median(p["jvm_alloc_mb"] for p in passes),
        }
        if not args.trace:
            return {k: (e2e[k], END_TO_END[k]) for k in END_TO_END}

        tracer = Tracer(spark)
        tracer.install()
        try:
            traced = self.timed_passes(wl, tracer, reader, args.seconds / 2)
        finally:
            tracer.uninstall()
        # one more untraced pass after the traced ones, so that a pass
        # getting faster as the JIT warms cancels out of the overhead
        passes += self.timed_passes(wl, null, reader, 0)
        layer = self.layer_metrics(passes, traced, tracer, manifest, rows_out)
        layer.update({"session.start_s": start_s, "session.warmup_s": warmup_s})
        tracer.dump(
            os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "layers": layer},
        )
        return {k: (layer.get(k, 0.0), PER_LAYER[k]) for k in PER_LAYER}

    def timed_passes(self, wl, tracer, reader, seconds: float) -> list[dict]:
        """Passes back to back while the next, taking as long as the last,
        ends within ``seconds`` (at least one pass), each with its
        status-store totals; traced passes also carry the tracer's
        counters and task-time spread. Starting a pass only when it fits
        keeps the pass count from flipping between runs whose passes
        take about the same time, since the first pass is the slowest."""
        out = []
        deadline = time.perf_counter() + seconds
        while not out or time.perf_counter() + out[-1]["pass_s"] <= deadline:
            mark, alloc = reader.mark(), self.alloc.bytes()
            dt, cpu, results, counters = self.pass_once(wl, tracer, collect=False)
            alloc = self.alloc.bytes() - alloc
            window = reader.window(mark)
            p = {"pass_s": dt, "cpu_s": cpu[0] + cpu[1], "python_cpu_s": cpu[0],
                 "jit_cpu_s": cpu[2], "jvm_alloc_mb": alloc / 1e6, "results": results,
                 **window.totals()}
            if window.evicted_stages or window.evicted_jobs:
                log(f"status store evicted {window.evicted_jobs} jobs and "
                    f"{window.evicted_stages} stages of this pass; its totals are partial")
            if counters is not None:
                tracer.charge(window)
                p["counters"] = counters
                p["max_task_s"], p["task_skew"] = reader.task_skew(window)
            if hasattr(wl, "last_stage_results"):
                p["stage_results"] = wl.last_stage_results
            out.append(p)
        return out

    def layer_metrics(self, passes, traced, tracer, manifest, rows_out) -> dict:
        m: dict[str, float] = {}

        def med(key, src=passes):
            return median(p[key] for p in src)

        pass_s = med("pass_s")
        m["pass_s"] = pass_s
        m["pass_cpu_s"] = med("cpu_s")
        m["driver.python_cpu_s"] = med("python_cpu_s")
        m["jit.cpu_s"] = med("jit_cpu_s")
        for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                    "shuffle_read_mb", "spill_mb", "input_mb", "input_rows"):
            m[f"spark.{key}"] = med(key)
        m["spark.evicted_stages"] = sum(p["evicted_stages"] for p in passes)
        m["spark.core_idle_frac"] = 1 - m["spark.executor_run_s"] / (pass_s * self.cores)
        m["spark.max_task_s"] = med("max_task_s", traced)
        m["spark.task_skew"] = med("task_skew", traced)
        m["readers.files_scanned"] = med("files_read")

        def op_detail(p, key):
            return sum(r.detail.get(key, 0.0) for r in p["results"])

        m["registry.plan_s"] = median(op_detail(p, "plan_s") for p in passes)
        m["spark.action_s"] = median(op_detail(p, "action_s") for p in passes)

        counters = [p["counters"] for p in traced]
        for key in ("driver.py4j_calls", "pinning.calls", "pinning.s", "pinning.literal_calls",
                    "pipelines.extract_s", "pipelines.transform_s", "writers.s",
                    "writers.files", "catalog.s", "catalog.ddl_calls"):
            m[key] = median(c.get(key, 0.0) for c in counters)
        calls = sum(c.get("pinning.literal_calls", 0) for c in counters)
        hits = sum(c.get("pinning.literal_hits", 0) for c in counters)
        m["pinning.literal_hit_ratio"] = hits / calls if calls else 0.0
        written = median(c.get("writers.bytes", 0.0) for c in counters)
        m["writers.mb"] = written / 1e6
        m["writers.mb_per_file"] = m["writers.mb"] / m["writers.files"] if m["writers.files"] else 0.0
        m["writers.written_bytes_per_input_byte"] = written / manifest["input_bytes"]

        m["registry.plan_jobs"] = tracer.under("registry.", "jobs") / len(traced)
        reads = "op.read" if self.args.workload == "lake_etl" else "op."
        read_rows = tracer.under(reads, "input_rows") / len(traced)
        out_rows = sum(rows_out.values())
        m["readers.rows_read_per_row_out"] = read_rows / out_rows if out_rows else 0.0

        if self.args.workload == "lake_etl":
            stage_s: dict[str, list[float]] = {}
            failed = 0
            for p in passes:
                per = {}
                for r in p["stage_results"]:
                    per[r.name] = per.get(r.name, 0.0) + r.seconds
                    failed += not r.ok
                for k, v in per.items():
                    stage_s.setdefault(k, []).append(v)
            for k, v in stage_s.items():
                m[f"pipeline.stage_s.{k}"] = median(v)
            m["pipeline.stages_failed"] = failed
            m["catalog.partitions"] = sum(
                self.spark.sql(f"SHOW PARTITIONS {t}").count()
                for t in ("stocks_refined", "news_refined")
            )
        traced_cpu = med("cpu_s", traced)
        m["trace.pass_cpu_s"] = traced_cpu
        m["trace.overhead_cpu_s"] = traced_cpu - med("cpu_s")
        return m

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = gateway.proc
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "stockpy_spark", "__init__.py")):
        log(f"no stockpy_spark package under {ROOT}: run from the root of a checkout")
        return 2

    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    run = Run(args, work)
    try:
        metrics = run.execute()
    finally:
        try:
            run.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    failed = sorted(set(run.failed))
    attempted = max(run.attempted, 1)
    log(f"failed_frac {len(run.failed) / attempted:.4f} ({len(run.failed)}/{attempted})"
        + (f": {', '.join(failed)}" if failed else ""))
    for k, (v, unit) in metrics.items():
        log(f"{k} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": len(run.failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
