"""Spans and per-layer counters, recorded from outside the program.

A :class:`Tracer` wraps the public functions of each layer (named by
module) for the duration of a traced pass and restores them afterwards,
so untraced passes run the program unmodified. Each span records its
name, start, end and parent, and sets a Spark job group naming itself,
so the jobs, stages, tasks and bytes the status store reports can be
charged to the innermost span that launched them. py4j traffic is
counted by wrapping the gateway client's ``send_command``.

Functions are replaced in every loaded ``stockpy_spark`` module that
holds them, because several modules import the pinning and sink
helpers by name.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# (module, function, layer) for every wrapped public function
LAYER_FUNCTIONS = [
    ("stockpy_spark.operators.pinning", "pin", "operators.pinning"),
    ("stockpy_spark.operators.pinning", "pin_lazy", "operators.pinning"),
    ("stockpy_spark.operators.pinning", "pin_literal", "operators.pinning"),
    ("stockpy_spark.operators.pinning", "pin_literal_with_rows", "operators.pinning"),
    ("stockpy_spark.pipelines.stocks_extract", "extract_stocks", "pipelines.extract"),
    ("stockpy_spark.pipelines.news_extract", "extract_news", "pipelines.extract"),
    ("stockpy_spark.pipelines.stocks", "transform_stocks", "pipelines.transform"),
    ("stockpy_spark.pipelines.news", "transform_news", "pipelines.transform"),
    ("stockpy_spark.sources.writers", "write_parquet_overwrite_partitions", "sources.writers"),
    ("stockpy_spark.sources.writers", "write_parquet_partitioned", "sources.writers"),
    ("stockpy_spark.sources.catalog", "create_database", "sources.catalog"),
    ("stockpy_spark.sources.catalog", "create_external_table", "sources.catalog"),
    ("stockpy_spark.sources.catalog", "add_partition", "sources.catalog"),
    ("stockpy_spark.sources.catalog", "drop_partition", "sources.catalog"),
    ("stockpy_spark.sources.catalog", "repair_partitions", "sources.catalog"),
    ("stockpy_spark.sources.readers", "read_parquet", "sources.readers"),
    ("stockpy_spark.sources.readers", "read_table", "sources.readers"),
    ("stockpy_spark.sources.readers", "read_partition", "sources.readers"),
]


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    spark: dict | None = None  # Spark work charged to this span


def _tree_bytes(path: str) -> dict[str, int]:
    """Data files under ``path`` -> (size, mtime) fingerprint."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(root, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class NullTracer:
    """Stands in for :class:`Tracer` in untraced passes."""

    @contextmanager
    def span(self, name: str):
        yield None


class Tracer:
    """Spans and counters for the traced passes of one run."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[Span] = []
        self._saved: list[tuple[object, str, object]] = []
        self._counting = False
        self._depth: dict[str, int] = defaultdict(int)

    # -- spans ---------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, span: Span | None) -> None:
        counting, self._counting = self._counting, False
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"span-{span.id}", span.name)
        self._counting = counting

    # -- wrapping --------------------------------------------------------

    def install(self) -> None:
        """Wrap every layer function and the py4j client."""
        for mod_name, fn_name, layer in LAYER_FUNCTIONS:
            original = getattr(importlib.import_module(mod_name), fn_name)
            wrapper = self._wrap(original, layer)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("stockpy_spark") and (
                    getattr(mod, fn_name, None) is original
                ):
                    self._saved.append((mod, fn_name, original))
                    setattr(mod, fn_name, wrapper)
        client = self._sc._gateway._gateway_client
        send = client.send_command

        def counted(command, *args, **kwargs):
            if self._counting:
                self.counters["driver.py4j_calls"] += 1
            return send(command, *args, **kwargs)

        client.send_command = counted
        self._saved.append((client, "send_command", None))
        self._counting = True

    def uninstall(self) -> None:
        self._counting = False
        for obj, name, original in reversed(self._saved):
            if original is None:
                delattr(obj, name)  # back to the class method
            else:
                setattr(obj, name, original)
        self._saved.clear()

    def _wrap(self, fn, layer: str):
        short = layer.rsplit(".", 1)[-1]

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            outer = self._depth[short] == 0
            self._depth[short] += 1
            path = None
            if short == "writers":
                path = kwargs.get("path", args[1] if len(args) > 1 else None)
            before = _tree_bytes(path) if path else None
            t0 = time.perf_counter()
            try:
                with self.span(f"{layer}.{fn.__name__}"):
                    result = fn(*args, **kwargs)
            finally:
                self._depth[short] -= 1
            if fn.__name__ == "pin_literal_with_rows" and result[1] is not None:
                # the literal attempt came back as a LocalRelation
                self.counters["pinning.literal_hits"] += 1
            if outer:
                self._count(short, fn.__name__, time.perf_counter() - t0, before, path)
            return result

        return wrapper

    def _count(self, short, name, dt, before, path) -> None:
        c = self.counters
        if short == "pinning":
            c["pinning.calls"] += 1
            c["pinning.s"] += dt
            if name in ("pin_literal", "pin_literal_with_rows"):
                c["pinning.literal_calls"] += 1
        elif short in ("extract", "transform"):
            c[f"pipelines.{short}_s"] += dt
        elif short == "writers":
            c["writers.s"] += dt
            after = _tree_bytes(path)
            new = [p for p, v in after.items() if before.get(p) != v]
            c["writers.files"] += len(new)
            c["writers.bytes"] += sum(after[p][0] for p in new)
        elif short == "catalog":
            c["catalog.s"] += dt
            c["catalog.ddl_calls"] += 1

    # -- attribution -----------------------------------------------------

    def charge(self, window) -> None:
        """Charge the window's jobs and stages to the spans that set
        their job group."""
        stage_by_id: dict[int, list[dict]] = defaultdict(list)
        for s in window.stages:
            stage_by_id[s["stageId"]].append(s)
        charged: set[int] = set()
        per_span: dict[int, dict] = {}
        for job in window.jobs:
            group = job.get("jobGroup") or ""
            if not group.startswith("span-"):
                continue
            sid = int(group[5:])
            acc = per_span.setdefault(sid, {
                "jobs": 0, "stages": 0, "tasks": 0,
                "shuffle_write_bytes": 0, "input_rows": 0,
            })
            acc["jobs"] += 1
            for stage_id in job["stageIds"]:
                if stage_id in charged:
                    continue
                charged.add(stage_id)
                for s in stage_by_id.get(stage_id, []):
                    if s["status"] in ("SKIPPED", "PENDING"):
                        continue
                    acc["stages"] += 1
                    acc["tasks"] += s["numCompleteTasks"]
                    acc["shuffle_write_bytes"] += s["shuffleWriteBytes"]
                    acc["input_rows"] += s["inputRecords"]
        for span in self.spans:
            if span.id in per_span:
                span.spark = per_span[span.id]

    def under(self, prefix: str, key: str) -> float:
        """Sum ``key`` over the Spark work charged to spans that are, or
        descend from, a span whose name starts with ``prefix``."""
        by_id = {s.id: s for s in self.spans}
        total = 0.0
        for s in self.spans:
            if not s.spark:
                continue
            node = s
            while node is not None and not node.name.startswith(prefix):
                node = by_id.get(node.parent)
            if node is not None:
                total += s.spark[key]
        return total

    def layer_self_times(self) -> dict[str, float]:
        """Self time (duration minus time covered by child spans) summed
        by span name."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += (s.end - s.start) - child[s.id]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        rows = []
        for s in self.spans:
            row = asdict(s)
            row["start"], row["end"] = s.start - t0, s.end - t0
            rows.append(row)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "self_s": self.layer_self_times(), "spans": rows}, fh, indent=1)
