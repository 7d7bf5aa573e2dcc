"""Tooling gate: ``bench.py`` and every ``tools/*.py`` script import
without starting a Spark session, and every name they import from the
project — at module level or inside a function — still exists. A tool
left pointing at a deleted helper fails here instead of on its next
manual run.
"""

from __future__ import annotations

import ast
import importlib
import os

import pytest
from pyspark import SparkContext

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROJECT = ("stockpy_spark", "perfbench", "tools", "bench")
SCRIPTS = ["bench"] + sorted(
    f"tools.{f[:-3]}"
    for f in os.listdir(os.path.join(REPO, "tools"))
    if f.endswith(".py")
)


@pytest.mark.parametrize("module", SCRIPTS)
def test_script_imports_without_session(module):
    before = SparkContext._active_spark_context
    mod = importlib.import_module(module)
    assert SparkContext._active_spark_context is before
    assert callable(getattr(mod, "main", None))

    with open(mod.__file__) as fh:
        tree = ast.parse(fh.read())
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.ImportFrom)
            and node.module
            and node.module.split(".")[0] in PROJECT
        ):
            source = importlib.import_module(node.module)
            for alias in node.names:
                if not hasattr(source, alias.name):  # a submodule
                    importlib.import_module(f"{node.module}.{alias.name}")


def test_evicted_ran_stages_nets_out_skipped_stages():
    """The status store evicts never-completed (SKIPPED) stages first;
    they carry no bytes, so only evicted stages that ran count."""
    from bench import evicted_ran_stages
    from perfbench.status import Window

    jobs = [{"numCompletedStages": 3}, {"numCompletedStages": 1}]
    ran = [{"stageId": i, "status": "COMPLETE"} for i in range(4)]
    assert evicted_ran_stages(Window(jobs=jobs, stages=ran, evicted_stages=2)) == 0
    assert evicted_ran_stages(Window(jobs=jobs, stages=ran[1:], evicted_stages=3)) == 1
    # a job gone too: its stages cannot be told apart, so all count
    lost = Window(jobs=jobs[1:], stages=ran, evicted_stages=2, evicted_jobs=1)
    assert evicted_ran_stages(lost) == 2


def test_alloc_profile_charges_innermost_mechanism():
    """``tools/alloc_profile.py`` weighs a new-TLAB event by its TLAB and
    an outside-TLAB event by its size, and charges each to the innermost
    frame that names a mechanism: a broadcast piece written while a
    Hadoop conf serializes is a broadcast cost, the conf's own strings
    are a Hadoop-conf cost."""
    from tools.alloc_profile import parse_events

    text = """
jdk.ObjectAllocationInNewTLAB {
  allocationSize = 48 bytes
  tlabSize = 1.5 MB
  stackTrace = [
    java.util.Arrays.copyOf(byte[], int) line: 3537
    org.apache.hadoop.conf.Configuration.write(DataOutput) line: 1
    org.apache.spark.broadcast.TorrentBroadcast$.blockifyObject(Object) line: 1
    ...
  ]
}

jdk.ObjectAllocationOutsideTLAB {
  allocationSize = 1.0 MB
  stackTrace = [
    java.nio.ByteBuffer.allocate(int) line: 1
    org.apache.spark.util.io.ChunkedByteBufferOutputStream.allocateNewChunkIfNeeded() line: 1
    org.apache.hadoop.conf.Configuration.write(DataOutput) line: 1
  ]
}

jdk.ObjectAllocationOutsideTLAB {
  allocationSize = 4.0 MB
  stackTrace = [
    org.apache.spark.unsafe.memory.HeapMemoryAllocator.allocate(long) line: 1
    org.apache.spark.memory.TaskMemoryManager.allocatePage(long, MemoryConsumer) line: 1
  ]
}

jdk.ObjectAllocationOutsideTLAB {
  allocationSize = 512 bytes
  stackTrace = [
    org.apache.spark.rdd.RDD.iterator(Partition, TaskContext) line: 1
  ]
}
"""
    assert parse_events(text.splitlines()) == {
        "hadoop_conf": 1.5 * 2**20, "broadcast": 2**20, "pages": 4 * 2**20, "other": 512}
