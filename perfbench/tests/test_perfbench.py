"""Tests of the benchmark itself: input determinism, the metric names
BENCHMARK.json declares, and status-store windows on known jobs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import operator
import os
import re
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, run  # noqa: E402
from perfbench.status import StatusReader  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _rows(path: str) -> set[tuple]:
    t = pq.read_table(path)
    return set(zip(*[t[c].to_pylist() for c in t.column_names]))


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_same_seed_same_bytes_other_seed_other_rows(workload, tmp_path):
    a = gen.generate(workload, 7, str(tmp_path / "a"))
    b = gen.generate(workload, 7, str(tmp_path / "b"))
    c = gen.generate(workload, 8, str(tmp_path / "c"))
    files = sorted(os.listdir(a["dir"]))
    assert files == sorted(os.listdir(b["dir"])) == sorted(os.listdir(c["dir"]))
    for f in files:
        with open(os.path.join(a["dir"], f), "rb") as x, open(os.path.join(b["dir"], f), "rb") as y:
            assert x.read() == y.read(), f
    # another seed changes the rows themselves, not only their order
    changed = [f for f in files
               if _rows(os.path.join(a["dir"], f)) != _rows(os.path.join(c["dir"], f))]
    assert changed
    assert a["input_bytes"] == sum(os.path.getsize(os.path.join(a["dir"], f)) for f in files)


def test_lake_expectations_match_generated_rows(tmp_path):
    m = gen.generate("lake_etl", 3, str(tmp_path))
    for day, exp in m["expected"].items():
        quotes = pq.read_table(os.path.join(m["dir"], f"quotes_{day}.parquet")).to_pylist()
        dim = {t: s for s, t, _c in m["universe"]}
        valid = [q for q in quotes if dim.get(q["Ticker"]) is not None and q["Close"] is not None
                 and q["Close"] == q["Close"] and q["Close"] > 0
                 and q["Volume"] is not None and q["Volume"] > 0]
        assert len(valid) == exp["stocks"]
        assert sorted((q["Close"] for q in valid), reverse=True)[:10] == exp["top_closes"]
        assert exp["news"] > 0


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in bench["workloads"]]
    assert set(names) <= set(run.WORKLOADS) and len(names) >= 2
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layer = {m["name"]: m for m in bench["per_layer"]}
    assert {k: m["unit"] for k, m in e2e.items()} == run.END_TO_END
    assert {k: m["unit"] for k, m in layer.items()} == run.PER_LAYER
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    seen = set()
    for m in bench["end_to_end"] + bench["per_layer"] + bench["workloads"]:
        assert NAME.match(m["name"]) and m["name"] not in seen, m
        seen.add(m["name"])
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher"), m
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25


def test_predictions_cite_declared_metrics():
    with open(os.path.join(ROOT, "perfbench", "predictions.json")) as fh:
        table = json.load(fh)
    for row in table["predictions"]:
        assert row["layer_metric"] in run.PER_LAYER, row
        assert row["moves"] in run.END_TO_END or row["moves"] in ("pass_s", "pass_cpu_s"), row
        assert row["workload"] in run.WORKLOADS, row
        assert row["expect"] in ("moves", "no change"), row


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    local = str(tmp_path_factory.mktemp("spark"))
    session = (
        SparkSession.builder.master("local[2]").appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.retainedStages", "10")
        .config("spark.ui.retainedJobs", "10")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", local)
        .getOrCreate()
    )
    yield session
    session.stop()


def test_window_counts_a_known_shuffle_job(spark):
    sc = spark.sparkContext
    reader = StatusReader(spark)
    mark = reader.mark()
    pairs = sc.parallelize(range(1000), 4).map(lambda x: (x % 3, 1))
    assert dict(pairs.reduceByKey(operator.add, 2).collect()) == {0: 334, 1: 333, 2: 333}
    w = reader.window(mark)
    t = w.totals()
    assert (t["jobs"], t["stages"], t["tasks"]) == (1, 2, 6)
    assert t["shuffle_write_mb"] > 0
    assert t["shuffle_read_mb"] == pytest.approx(t["shuffle_write_mb"])
    assert t["evicted_jobs"] == t["evicted_stages"] == 0
    # the next window starts where this one ended
    assert reader.window(reader.mark()).totals()["jobs"] == 0


def test_window_reports_stages_evicted_past_retained_limit(spark):
    sc = spark.sparkContext
    reader = StatusReader(spark)
    mark = reader.mark()
    for _ in range(15):  # 15 single-stage jobs past a limit of 10
        sc.parallelize(range(10), 1).count()
    t = reader.window(mark).totals()
    assert t["evicted_stages"] > 0 and t["evicted_jobs"] > 0
    assert t["stages"] + t["evicted_stages"] == 15
    assert t["jobs"] + t["evicted_jobs"] == 15
