"""Connector seam for external-data ingestion (SURVEY.md §2.1 S3/S4).

The reference fetches on the driver (yfinance HTTP,
extract_stocks_job.py:86-93; Google News scrape,
extract_news_job.py:157-243) and crosses into Spark at
``createDataFrame``. The engine keeps that boundary but makes it an
interface: a :class:`Connector` produces a DataFrame with a declared
schema; a production connector wraps an HTTP client, tests plug in a
fixture-backed :class:`LiteralConnector`, and nothing downstream can
tell the difference.

Scale note (SURVEY.md §3.2): driver-side fetching has zero ingestion
parallelism — it is correct for the reference's ~10-ticker daily pull
and wrong at 100 TB. At scale, sources land as files first and Spark
scans them (S1), or a frame of URLs fans out through
:func:`distributed_fetch` (mapInPandas — Arrow-batched, executor-side,
rate-limited per partition).

Rows built on the driver (``createDataFrame`` over a list) carry no
size estimate for Catalyst, so a join that sizes its input — like
:func:`~stockpy_spark.operators.dim_preserving_enrich`, which
broadcasts a fact under the broadcast threshold — treats them as large
and takes its two-pass plan. A :class:`FrameConnector` over a scanned
file keeps the scan's size estimate.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class Connector(Protocol):
    """fetch() -> DataFrame with the connector's declared schema."""

    schema: T.StructType

    def fetch(self, spark: SparkSession) -> DataFrame: ...


class LiteralConnector:
    """Fixture-backed fake: yields a literal row set. The test double
    for any driver-side source — and also the real implementation of
    S5 (in-memory dimension seed tables, extract_stocks_job.py:64-74).
    """

    def __init__(self, rows: list[tuple], schema: T.StructType | str):
        self.rows = rows
        self.schema = schema

    def fetch(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(self.rows, self.schema)


class FrameConnector:
    """Wrap an already-built DataFrame as a Connector — for composing
    extract pipelines over frames derived from other tables (tests,
    backfills, replays from the landed raw zone)."""

    def __init__(self, df: DataFrame):
        self.df = df
        self.schema = df.schema

    def fetch(self, spark: SparkSession) -> DataFrame:
        return self.df


class DriverFetchConnector:
    """The reference's ingestion shape: call a driver-side function
    (HTTP client, scraper), get back rows (list of tuples/dicts or a
    pandas frame), cross into Spark with an explicit schema
    (extract_news_job.py:275-290). An empty fetch produces an EMPTY
    frame with the right schema so downstream empty-input guards (X2)
    see a well-typed zero-row input instead of crashing.
    """

    def __init__(self, fn: Callable[[], object], schema: T.StructType | str):
        self.fn = fn
        self.schema = schema

    def fetch(self, spark: SparkSession) -> DataFrame:
        data = self.fn()
        try:
            n = len(data)  # list or pandas both support len()
        except TypeError:
            n = -1
        if n == 0:
            return spark.createDataFrame([], self.schema)
        return spark.createDataFrame(data, self.schema)


def distributed_fetch(
    urls: DataFrame,
    fetch_one: Callable[[str], dict],
    out_schema: T.StructType | str,
    url_col: str = "url",
) -> DataFrame:
    """The scale path for fan-out ingestion: a frame of URLs (or any
    work keys) is partitioned across executors and each partition
    fetches its slice via ``mapInPandas`` (Arrow batches in/out, one
    python worker per partition — politeness limits apply per
    partition, parallelism = number of partitions).

    ``fetch_one(url) -> dict`` must return keys matching
    ``out_schema``; exceptions should be handled inside ``fetch_one``
    (return an error-marker row) so one bad URL cannot fail a 10k-URL
    partition.
    """
    import pandas as pd

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [fetch_one(u) for u in pdf[url_col]]
            yield pd.DataFrame(rows)

    return urls.mapInPandas(run, schema=out_schema)
