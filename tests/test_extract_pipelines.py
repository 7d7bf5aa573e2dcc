"""Extract-pipeline compositions, connector seam, and the Step Functions
DAG adapter (golden end-to-end tests mirroring FIXTURES.md A1/A2)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from stockpy_spark.pipelines import (
    DriverFetchConnector,
    LiteralConnector,
    distributed_fetch,
    extract_news,
    extract_stocks,
    transform_news,
    transform_stocks,
)
from stockpy_spark.plans import Pipeline, parse_state_machine, pipeline_from_state_machine

STOCKS = {
    "Banks": {"ITUB4": "Itau", "BBDC4": "Bradesco"},
    "Energy": {"ELET3": "Eletro"},
}

# the reference chain's shape (state_machine_definition.json:3-74)
SFN_DEFINITION = {
    "Comment": "ETL orchestration",
    "StartAt": "ExtractStocksJob",
    "States": {
        "ExtractStocksJob": {
            "Type": "Task",
            "Resource": "arn:aws:states:::glue:startJobRun.sync",
            "Parameters": {"JobName": "extract_stocks_job"},
            "Catch": [{"ErrorEquals": ["States.ALL"], "Next": "FailState"}],
            "Next": "ExtractNewsJob",
        },
        "ExtractNewsJob": {
            "Type": "Task",
            "Parameters": {"JobName": "extract_news_job"},
            "Catch": [{"ErrorEquals": ["States.ALL"], "Next": "FailState"}],
            "Next": "TransformStocksJob",
        },
        "TransformStocksJob": {
            "Type": "Task",
            "Parameters": {"JobName": "transform_stocks_job"},
            "Catch": [{"ErrorEquals": ["States.ALL"], "Next": "FailState"}],
            "Next": "TransformNewsJob",
        },
        "TransformNewsJob": {
            "Type": "Task",
            "Parameters": {"JobName": "transform_news_job"},
            "Catch": [{"ErrorEquals": ["States.ALL"], "Next": "FailState"}],
            "End": True,
        },
        "FailState": {"Type": "Fail", "Error": "JobFailed"},
    },
}


def _quote_rows():
    # FIXTURES.md A1 edge cases: NaN-origin nulls, an all-null quote row,
    # and NO row at all for ELET3 (left-join miss keeps the dim ticker)
    return [
        ("2024-01-05", "ITUB4", 10.0, 11.0, 9.0, 10.5, 100),
        ("2024-01-06", "ITUB4", float("nan"), 12.0, 10.0, 11.0, 200),
        ("2024-01-05", "BBDC4", 20.0, float("nan"), 19.0, 20.5, 300),
        (None, "BBDC4", None, None, None, None, None),
    ]


QUOTE_SCHEMA = (
    "Date string, Ticker string, Close double, High double, Low double,"
    "Open double, Volume long"
)


def test_extract_stocks_golden(spark, tmp_path):
    out_dir = str(tmp_path / "raw_stocks")
    out = extract_stocks(
        spark,
        LiteralConnector(_quote_rows(), QUOTE_SCHEMA),
        STOCKS,
        "20240105",
        output_path=out_dir,
    )
    rows = out.collect()
    # dim-preserving: 4 quote rows matched + ELET3 with no quotes
    assert len(rows) == 5
    by_key = {(r.ticker, r.date): r for r in rows}
    assert math.isnan(10.0) is False
    assert by_key[("ITUB4", "2024-01-06")].close is None  # NaN scrubbed to NULL
    assert by_key[("BBDC4", "2024-01-05")].high is None
    elet = [r for r in rows if r.ticker == "ELET3"]
    assert len(elet) == 1 and elet[0].close is None and elet[0].sector == "Energy"
    assert all(r.dataproc == "20240105" for r in rows)
    # written partitioned by dataproc, idempotent on rerun
    extract_stocks(
        spark,
        LiteralConnector(_quote_rows(), QUOTE_SCHEMA),
        STOCKS,
        "20240105",
        output_path=out_dir,
    )
    landed = spark.read.parquet(out_dir)
    assert landed.count() == 5
    assert (tmp_path / "raw_stocks" / "dataproc=20240105").exists()


def test_extract_stocks_write_over_scanned_quotes_runs_two_jobs(spark, tmp_path, jobs_run_by):
    """Quotes scanned from parquet carry a size estimate under the
    broadcast threshold, so the dimension-preserving join broadcasts
    them and the write runs at its floor: the broadcast and the write
    (the two-pass plan runs 5)."""
    from stockpy_spark.pipelines import FrameConnector

    src = str(tmp_path / "quotes")
    spark.createDataFrame(_quote_rows(), QUOTE_SCHEMA).write.parquet(src)
    quotes = spark.read.parquet(src)  # schema inference runs its own job
    out_dir = str(tmp_path / "raw_stocks")
    jobs = jobs_run_by(
        "extract-stocks-write",
        lambda: extract_stocks(
            spark,
            FrameConnector(quotes),
            STOCKS,
            "20240105",
            output_path=out_dir,
        ),
    )
    assert len(jobs) <= 2, jobs
    landed = spark.read.parquet(out_dir)
    assert landed.count() == 5  # 4 quote rows + ELET3 with no quotes
    elet = landed.where(F.col("ticker") == "ELET3").collect()
    assert len(elet) == 1 and elet[0].close is None and elet[0].sector == "Energy"


def test_extract_then_transform_stocks_end_to_end(spark):
    raw = extract_stocks(
        spark, LiteralConnector(_quote_rows(), QUOTE_SCHEMA), STOCKS, "20240105"
    )
    refined = transform_stocks(raw)
    got = {(r.codigoAcao, str(r.data)) for r in refined.collect()}
    # NaN close and null-date rows filtered; ELET3 had no quotes
    assert got == {("ITUB4", "2024-01-05"), ("BBDC4", "2024-01-05")}


def _article_rows():
    return [
        ("ITUB4", "Itau", "Banks", "t1", "G1", "l1",
         "2024-01-05T10:00:00", "Itau stock", "2024-01-05T20:00:00"),
        ("BBDC4", "Bradesco", "Banks", "t2", "G1", "l2",
         "2024-01-04T10:00:00", "Bradesco", "2024-01-05T20:00:00"),
    ]


def test_extract_news_fetch_drift_and_empty_guard(spark, tmp_path):
    # drifted headers from the scraper: fuzzy alignment lands them
    drifted_schema = (
        "`Ticker` string, `company` string, `sector` string, ` TITLE ` string,"
        "`source` string, `link` string, `Published Time` string,"
        "`searchterm` string, `extracted_at` string"
    )
    out_dir = str(tmp_path / "raw_news")
    out = extract_news(
        spark,
        DriverFetchConnector(_article_rows, drifted_schema),
        "20240105",
        output_path=out_dir,
    )
    rows = {r.link: r for r in out.collect()}
    assert set(rows) == {"l1", "l2"}
    assert rows["l1"].title == "t1"
    assert rows["l1"].published_time == "2024-01-05T10:00:00"
    assert rows["l1"].search_term == "Itau stock"
    assert spark.read.parquet(out_dir).count() == 2
    # empty fetch -> empty, correctly-typed frame (X2 guard shape)
    empty = extract_news(
        spark, DriverFetchConnector(lambda: [], drifted_schema), "20240105"
    )
    assert empty.isEmpty() and "published_time" in empty.columns


def test_distributed_fetch_map_in_pandas(spark):
    urls = spark.createDataFrame(
        [(f"https://example.test/{i}",) for i in range(10)], "url string"
    ).repartition(4)

    def fake_fetch(url: str) -> dict:
        return {"url": url, "status": 200, "body_len": len(url) * 3}

    out = distributed_fetch(urls, fake_fetch, "url string, status int, body_len long")
    rows = out.collect()
    assert len(rows) == 10
    assert all(r.status == 200 and r.body_len == len(r.url) * 3 for r in rows)


def test_parse_state_machine_linear_chain():
    assert parse_state_machine(SFN_DEFINITION) == [
        "extract_stocks_job",
        "extract_news_job",
        "transform_stocks_job",
        "transform_news_job",
    ]


def test_parse_state_machine_rejects_unsupported_and_cycles():
    bad = {"StartAt": "A", "States": {"A": {"Type": "Parallel"}}}
    with pytest.raises(ValueError, match="unsupported state type"):
        parse_state_machine(bad)
    cyc = {
        "StartAt": "A",
        "States": {
            "A": {"Type": "Task", "Parameters": {"JobName": "a"}, "Next": "B"},
            "B": {"Type": "Task", "Parameters": {"JobName": "b"}, "Next": "A"},
        },
    }
    with pytest.raises(ValueError, match="cycle"):
        parse_state_machine(cyc)


def test_pipeline_from_state_machine_runs_reference_chain(spark, tmp_path):
    """The reference's 4-state chain over fixture fakes: extract both
    sources, transform both, frames handed through the ctx."""

    def ex_stocks(ctx):
        ctx["stocks_raw"] = extract_stocks(
            spark, LiteralConnector(_quote_rows(), QUOTE_SCHEMA), STOCKS, "20240105"
        )

    def ex_news(ctx):
        ctx["news_raw"] = extract_news(
            spark,
            LiteralConnector(
                _article_rows(),
                "ticker string, company string, sector string, title string,"
                "source string, link string, published_time string,"
                "search_term string, extracted_at string",
            ),
            "20240105",
        )

    def tf_stocks(ctx):
        ctx["stocks_clean"] = transform_stocks(ctx["stocks_raw"])

    def tf_news(ctx):
        raw = ctx["news_raw"].withColumnsRenamed(
            {"published_time": "published_date", "extracted_at": "extracted_date"}
        )
        ctx["news_clean"] = transform_news(raw, "20240105")

    registry = {
        "extract_stocks_job": ex_stocks,
        "extract_news_job": ex_news,
        "transform_stocks_job": tf_stocks,
        "transform_news_job": tf_news,
    }
    pipe = pipeline_from_state_machine(SFN_DEFINITION, registry)
    ctx, results = pipe.run()
    assert [r.name for r in results] == list(registry)
    assert all(r.ok for r in results)
    assert ctx["stocks_clean"].count() == 2
    # l2 published a day before extraction -> same-day filter drops it
    assert [r.link for r in ctx["news_clean"].collect()] == ["l1"]

    with pytest.raises(KeyError, match="no callable registered"):
        pipeline_from_state_machine(SFN_DEFINITION, {"extract_stocks_job": ex_stocks})

    # fail-fast: a failing stage stops the chain (the FailState analogue)
    def boom(ctx):
        raise RuntimeError("job failed")

    broken = pipeline_from_state_machine(
        SFN_DEFINITION, {**registry, "extract_news_job": boom}
    )
    _, res = broken.run()
    assert [r.ok for r in res] == [True, False]
