"""Where a warm perfbench pass allocates on the driver JVM, by mechanism.

Starts a perfbench workload the way ``perfbench/run.py`` does (same
seeded inputs, same ``get_spark`` session, one checked warm-up pass),
then records N warm passes with Java Flight Recorder on the session's
own JVM (``jcmd <pid> JFR.start``) and prints MB per pass for each
mechanism that allocates:

- ``pages``: Tungsten memory pages (``TaskMemoryManager.allocatePage``):
  hash-aggregate fast maps, ``BytesToBytesMap``, sorters;
- ``broadcast``: TorrentBroadcast pieces (``blockifyObject``) and the
  rest of the broadcast path; every stage's task binary is a broadcast;
- ``hadoop_conf``: Hadoop ``Configuration`` serde (each scan broadcasts
  one);
- ``codegen``: Janino compiles of generated classes;
- ``closure``: the closure cleaner and the ASM reads behind it;
- ``task_result``: task results, their serialization and decoding;
- ``py4j``: other driver work entered through the py4j gateway (plan
  building, analysis, the gateway itself);
- ``other``: the rest (scans, operators, the scheduler).

An allocation is charged to the mechanism of the innermost stack frame
that names one. It records ``jdk.ObjectAllocationInNewTLAB`` (weighted
by the TLAB it opened) and ``jdk.ObjectAllocationOutsideTLAB``
(weighted by its size). ``jdk.ObjectAllocationSample`` is not used: its
throttled weights are biased for bursty task threads. The shares are
scaled to the JVM's exact allocated-bytes counter over the same passes
(what perfbench reports as ``jvm_alloc_mb``); ``jfr_coverage`` is the
recorded weight over that counter. ``jfr print`` is parsed as a stream,
since a recording of a few passes is tens of MB.

The line ``compiles`` counts Janino compiles in each recorded pass
(``CodegenMetrics``); 0 means the codegen cache held the pass.

Usage: python tools/alloc_profile.py [--workload release|lake_etl]
           [--seed N] [--passes N]
"""

from __future__ import annotations

import argparse
import os
import shutil
import subprocess
import sys
import tempfile
from collections import Counter
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
EVENTS = ("jdk.ObjectAllocationInNewTLAB", "jdk.ObjectAllocationOutsideTLAB")
STACK_DEPTH = 256

# (mechanism, qualified-method prefixes); an allocation belongs to the
# mechanism of its innermost frame that matches any prefix
MECHANISMS = [
    ("pages", ("org.apache.spark.unsafe.memory.HeapMemoryAllocator.",
               "org.apache.spark.memory.TaskMemoryManager.allocatePage")),
    ("broadcast", ("org.apache.spark.util.io.ChunkedByteBufferOutputStream.",
                   "org.apache.spark.broadcast.TorrentBroadcast")),
    ("hadoop_conf", ("org.apache.hadoop.conf.Configuration",
                     "org.apache.spark.util.SerializableConfiguration")),
    ("codegen", ("org.codehaus.",
                 "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$.doCompile")),
    ("closure", ("org.apache.spark.util.ClosureCleaner",
                 "org.apache.spark.util.SparkClosureCleaner",
                 "org.apache.xbean.asm")),
    ("task_result", ("org.apache.spark.scheduler.DirectTaskResult",
                     "org.apache.spark.scheduler.TaskResultGetter",
                     "org.apache.spark.sql.execution.SparkPlan.$anonfun$getByteArrayRdd",
                     "org.apache.spark.sql.execution.SparkPlan.decodeUnsafeRows")),
    ("py4j", ("py4j.",)),
]
BUCKETS = [name for name, _ in MECHANISMS] + ["other"]

JFC = """<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0" label="allocations">
%s
</configuration>
""" % "\n".join(
    f'  <event name="{e}"><setting name="enabled">true</setting>'
    '<setting name="stackTrace">true</setting></event>'
    for e in EVENTS
)

UNITS = {"bytes": 1, "byte": 1, "kB": 1 << 10, "MB": 1 << 20, "GB": 1 << 30}


def parse_size(text: str) -> float:
    """``jfr print``'s data amounts: '48 bytes', '1.4 MB', '52.1 kB'."""
    value, unit = text.split()
    return float(value) * UNITS[unit]


def classify(frames: list[str]) -> str:
    for frame in frames:
        for name, prefixes in MECHANISMS:
            if frame.startswith(prefixes):
                return name
    return "other"


def parse_events(lines) -> Counter:
    """Stream ``jfr print`` text into allocated bytes per mechanism."""
    buckets = Counter()
    weight, frames, in_stack, kind = 0.0, [], False, None
    for line in lines:
        s = line.strip()
        if s.endswith("{") and s.split()[0] in EVENTS:
            kind, weight, frames, in_stack = s.split()[0], 0.0, [], False
        elif kind is None:
            continue
        elif in_stack:
            if s == "]":
                in_stack = False
            elif s != "...":
                frames.append(s.split("(")[0])
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif s.startswith("tlabSize = ") and kind == EVENTS[0]:
            weight = parse_size(s.split(" = ")[1])
        elif s.startswith("allocationSize = ") and kind == EVENTS[1]:
            weight = parse_size(s.split(" = ")[1])
        elif s == "}":
            buckets[classify(frames)] += weight
            kind = None
    return buckets


def jcmd(pid: int, *args: str) -> None:
    subprocess.run(["jcmd", str(pid), *args], check=True, capture_output=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="release", choices=("release", "lake_etl"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=2)
    args = ap.parse_args(argv)

    from perfbench import gen
    from perfbench.run import CpuTime, JvmAlloc, Run
    from perfbench.trace import NullTracer
    from perfbench.workloads import LakeWorkload, ReleaseWorkload

    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"alloc-{args.workload}-{args.seed}-", dir=base)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    run = Run(SimpleNamespace(workload=args.workload), work)
    try:
        manifest = gen.generate(args.workload, args.seed, os.path.join(work, "inputs"))
        spark = run.spark = run.start_session()
        from pyspark import SparkContext

        pid = SparkContext._gateway.proc.pid
        run.cpu = CpuTime(pid)
        if args.workload == "lake_etl":
            wl = LakeWorkload(spark, manifest, work)
        else:
            wl = ReleaseWorkload(spark, manifest)
        null = NullTracer()
        _, _, warm, _ = run.pass_once(wl, null, collect=True)
        bad = wl.check(warm) if args.workload == "release" else run.failed
        if bad:
            print(f"warm-up pass failed its check: {bad}", file=sys.stderr)
            return 1

        alloc = JvmAlloc(spark)
        codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        jfr_file = os.path.join(work, "alloc.jfr")
        jfc = os.path.join(work, "alloc.jfc")
        with open(jfc, "w") as fh:
            fh.write(JFC)
        jcmd(pid, "JFR.configure", f"stackdepth={STACK_DEPTH}")
        jcmd(pid, "JFR.start", "name=alloc", f"settings={jfc}")
        b0, compiles = alloc.bytes(), []
        for _ in range(args.passes):
            c0 = codegen.METRIC_COMPILATION_TIME().getCount()
            run.pass_once(wl, null, collect=False)
            compiles.append(codegen.METRIC_COMPILATION_TIME().getCount() - c0)
        total = (alloc.bytes() - b0) / args.passes
        jcmd(pid, "JFR.stop", "name=alloc", f"filename={jfr_file}")
        if run.failed:
            print(f"a recorded pass failed: {run.failed}", file=sys.stderr)
            return 1

        with subprocess.Popen(
            ["jfr", "print", "--stack-depth", str(STACK_DEPTH),
             "--events", ",".join(EVENTS), jfr_file],
            stdout=subprocess.PIPE, text=True, bufsize=1 << 20,
        ) as proc:
            buckets = parse_events(proc.stdout)
        if proc.returncode != 0:
            print("jfr print failed", file=sys.stderr)
            return 1
    finally:
        try:
            run.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    recorded = sum(buckets.values()) / args.passes
    scale = total / recorded if recorded else 0.0
    print(f"{args.workload} seed {args.seed}, {args.passes} warm passes")
    print(f"jvm_alloc_mb per pass   {total / 1e6:9.1f}")
    print(f"jfr_coverage            {recorded / total if total else 0.0:9.3f}")
    print(f"compiles per pass       {' '.join(map(str, compiles)):>9}")
    print("mechanism          MB/pass   share")
    for name in BUCKETS:
        mb = buckets[name] / args.passes * scale / 1e6
        print(f"  {name:<14} {mb:9.1f}  {mb * 1e6 / total if total else 0.0:6.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
