"""The workloads: what one pass runs and how its outputs are checked.

``release`` runs registered queries: a pass builds each query through
``QUERIES[name](spark, dir)`` and drives it to a ``noop`` sink. The
checked pass also collects the rows, and the check compares them with
the query's DuckDB oracle by ``tools/check.py``'s canonical hash.

``lake_etl`` runs the reference's daily cycle through a Step Functions
built :class:`~stockpy_spark.plans.Pipeline` for each process day plus
one rerun day, into a fresh lake per pass, then reads the refined tables
back through the catalog with partition predicates. Every pass is
checked against the row counts and top closes the generator recorded.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

RELEASE_QUERIES = ["pipeline_data_release", "stats_spearman"]


@dataclass
class OpResult:
    name: str
    seconds: float
    error: str | None = None
    rows: list | None = None
    columns: list[str] | None = None
    detail: dict = field(default_factory=dict)


class ReleaseWorkload:
    """A pass builds and executes every release query."""

    def __init__(self, spark, manifest: dict):
        from stockpy_spark.registry import ORACLES, QUERIES

        self.spark = spark
        self.names = RELEASE_QUERIES
        self.queries, self.oracles = QUERIES, ORACLES
        self.dir = manifest["dir"]

    def run_pass(self, tracer, collect: bool = False) -> list[OpResult]:
        out = []
        for name in self.names:
            t0 = time.perf_counter()
            try:
                with tracer.span(f"op.{name}"):
                    with tracer.span(f"registry.{name}"):
                        df = self.queries[name](self.spark, self.dir)
                    t1 = time.perf_counter()
                    with tracer.span(f"spark.action.{name}"):
                        df.write.format("noop").mode("overwrite").save()
                        # the checked pass also runs the timed sink, so
                        # the first timed pass finds it compiled
                        rows = [tuple(r) for r in df.collect()] if collect else None
                t2 = time.perf_counter()
                out.append(OpResult(
                    name, t2 - t0, rows=rows, columns=df.columns,
                    detail={"plan_s": t1 - t0, "action_s": t2 - t1},
                ))
            except Exception as ex:  # a failed operation is counted, not fatal
                out.append(OpResult(name, time.perf_counter() - t0, error=repr(ex)))
        return out

    def check(self, results: list[OpResult]) -> list[str]:
        """Names of the operations whose rows differ from their oracle."""
        import duckdb

        from tools.check import canon_rows

        con = duckdb.connect()
        for f in sorted(os.listdir(self.dir)):
            if f.endswith(".parquet"):
                path = os.path.join(self.dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
        bad = []
        for r in results:
            if r.error is not None:
                bad.append(r.name)
                continue
            if r.name not in self.oracles:
                continue
            rel = con.sql(self.oracles[r.name])
            want = canon_rows(list(rel.columns), rel.fetchall())
            if sorted(rel.columns) != sorted(r.columns) or canon_rows(r.columns, r.rows) != want:
                bad.append(r.name)
        con.close()
        return bad


SFN_DEFINITION = {
    "StartAt": "ExtractStocksJob",
    "States": {
        "ExtractStocksJob": {"Type": "Task", "Parameters": {"JobName": "extract_stocks_job"},
                             "Catch": [{"ErrorEquals": ["States.ALL"], "Next": "FailState"}],
                             "Next": "ExtractNewsJob"},
        "ExtractNewsJob": {"Type": "Task", "Parameters": {"JobName": "extract_news_job"},
                           "Catch": [{"ErrorEquals": ["States.ALL"], "Next": "FailState"}],
                           "Next": "TransformStocksJob"},
        "TransformStocksJob": {"Type": "Task", "Parameters": {"JobName": "transform_stocks_job"},
                               "Catch": [{"ErrorEquals": ["States.ALL"], "Next": "FailState"}],
                               "Next": "TransformNewsJob"},
        "TransformNewsJob": {"Type": "Task", "Parameters": {"JobName": "transform_news_job"},
                             "Catch": [{"ErrorEquals": ["States.ALL"], "Next": "FailState"}],
                             "End": True},
        "FailState": {"Type": "Fail", "Error": "JobFailed"},
    },
}


class LakeWorkload:
    """A pass lands every process day and a rerun of the middle day
    into a fresh lake, registers partitions, and reads them back."""

    def __init__(self, spark, manifest: dict, work_dir: str):
        from stockpy_spark.plans import pipeline_from_state_machine

        self.spark = spark
        self.m = manifest
        self.work = work_dir
        self.days = [d.replace("-", "") for d in manifest["days"]]
        self.schedule = self.days + [self.days[len(self.days) // 2]]
        self.passes = 0
        self.last_stage_results: list = []
        jobs = {
            "extract_stocks_job": self._extract_stocks,
            "extract_news_job": self._extract_news,
            "transform_stocks_job": self._transform_stocks,
            "transform_news_job": self._transform_news,
        }
        self.pipeline = pipeline_from_state_machine(SFN_DEFINITION, jobs)

    # -- the four reference jobs ---------------------------------------

    def _extract_stocks(self, ctx):
        import stockpy_spark.pipelines as P
        dim = self.spark.createDataFrame(
            self.m["universe"], "Sector string, Ticker string, Company string"
        )
        quotes = self.spark.read.parquet(f"{self.m['dir']}/quotes_{ctx['day']}.parquet")
        P.extract_stocks(self.spark, P.FrameConnector(quotes), dim, ctx["day"],
                         output_path=f"{ctx['root']}/raw/stocks")

    def _extract_news(self, ctx):
        import stockpy_spark.pipelines as P

        articles = self.spark.read.parquet(f"{self.m['dir']}/articles_{ctx['day']}.parquet")
        P.extract_news(self.spark, P.FrameConnector(articles), ctx["day"],
                       output_path=f"{ctx['root']}/raw/news")

    def _transform_stocks(self, ctx):
        import stockpy_spark.pipelines as P
        from stockpy_spark.sources import readers, writers

        raw = readers.read_partition(self.spark, f"{ctx['root']}/raw/stocks", "dataproc", ctx["day"])
        refined = P.transform_stocks(raw)
        path = f"{ctx['root']}/refined/stocks"
        writers.write_parquet_overwrite_partitions(refined, path, ["dataproc", "setor"])
        self._register(refined, "stocks_refined", path, ["dataproc", "setor"],
                       [{"dataproc": ctx["day"], "setor": s} for s in ctx["sectors"]])

    def _transform_news(self, ctx):
        import stockpy_spark.pipelines as P
        from stockpy_spark.sources import readers, writers

        raw = readers.read_partition(self.spark, f"{ctx['root']}/raw/news", "dataproc", ctx["day"])
        raw = raw.drop("dataproc").withColumnsRenamed(
            {"published_time": "published_date", "extracted_at": "extracted_date"}
        )
        refined = P.transform_news(raw, ctx["day"])
        path = f"{ctx['root']}/refined/news"
        writers.write_parquet_overwrite_partitions(refined, path, ["dataproc"])
        self._register(refined, "news_refined", path, ["dataproc"], [{"dataproc": ctx["day"]}])

    def _register(self, df, table, path, parts, specs):
        from stockpy_spark.sources import catalog

        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in df.schema.fields if f.name not in parts
        )
        catalog.create_external_table(
            self.spark, table, cols, path,
            partitioned_by=", ".join(f"{p} STRING" for p in parts),
        )
        for spec in specs:
            catalog.add_partition(self.spark, table, spec)

    # -- a pass ----------------------------------------------------------

    def reset(self) -> str:
        """Drop the previous pass's tables and lake; untimed."""
        for t in ("stocks_refined", "news_refined"):
            self.spark.sql(f"DROP TABLE IF EXISTS {t}")
        lake = os.path.join(self.work, "lake")
        shutil.rmtree(lake, ignore_errors=True)
        self.passes += 1
        return os.path.join(lake, f"pass{self.passes}")

    def run_pass(self, tracer, root: str) -> list[OpResult]:
        from pyspark.sql import functions as F

        from stockpy_spark.sources import readers

        sectors = sorted({s for s, _t, _c in self.m["universe"] if s is not None})
        out = []
        self.last_stage_results = []
        for day in self.schedule:
            t0 = time.perf_counter()
            with tracer.span(f"op.cycle_{day}"), tracer.span("plans.pipeline"):
                _ctx, results = self.pipeline.run({"day": day, "root": root, "sectors": sectors})
            self.last_stage_results.extend(results)
            failed = [r for r in results if not r.ok]
            out.append(OpResult(f"cycle_{day}", time.perf_counter() - t0,
                                error=failed[0].error if failed else None))
        t0 = time.perf_counter()
        try:
            counts = {}
            with tracer.span("op.read_counts"):
                for table in ("stocks_refined", "news_refined"):
                    rows = (
                        readers.read_table(self.spark, table)
                        .where(F.col("dataproc").isin(self.days))
                        .groupBy("dataproc").count().collect()
                    )
                    counts[table.split("_")[0]] = {r["dataproc"]: r["count"] for r in rows}
            out.append(OpResult("read_counts", time.perf_counter() - t0,
                                rows=[counts], detail={"rows_out": 2 * len(self.days)}))
        except Exception as ex:
            out.append(OpResult("read_counts", time.perf_counter() - t0, error=repr(ex)))
        for day in self.days:
            t0 = time.perf_counter()
            try:
                with tracer.span(f"op.read_top_{day}"):
                    top = (
                        readers.read_table(self.spark, "stocks_refined")
                        .where(F.col("dataproc") == day)
                        .orderBy(F.desc("precoFechamento"))
                        .limit(10)
                        .select("precoFechamento")
                        .collect()
                    )
                out.append(OpResult(f"read_top_{day}", time.perf_counter() - t0,
                                    rows=[r[0] for r in top], detail={"rows_out": len(top)}))
            except Exception as ex:
                out.append(OpResult(f"read_top_{day}", time.perf_counter() - t0, error=repr(ex)))
        return out

    def check(self, results: list[OpResult]) -> list[str]:
        """Per-partition row counts equal the generated valid rows (so
        the rerun day did not duplicate), and each day's top closes
        match."""
        exp = self.m["expected"]
        bad = []
        for r in results:
            if r.error is not None:
                bad.append(r.name)
            elif r.name == "read_counts":
                got = r.rows[0]
                if got["stocks"] != {d: exp[d]["stocks"] for d in self.days} or (
                    got["news"] != {d: exp[d]["news"] for d in self.days}
                ):
                    bad.append(r.name)
            elif r.name.startswith("read_top_"):
                if r.rows != exp[r.name[len("read_top_"):]]["top_closes"]:
                    bad.append(r.name)
        return bad
