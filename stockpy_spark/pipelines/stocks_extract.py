"""The reference's extract_stocks job as a thin operator composition.

Reproduces /root/reference/scripts/extract_stocks_job.py:76-163,352-413
behind the connector seam: build the sector/ticker/company dimension
(S5) -> fetch quotes through a Connector (S3) -> NaN/NULL conditional
cast scrub (P1) -> dimension-preserving left join (J1) -> lowercase
business rename (P2) -> process-date literal (P3) -> idempotent
partitioned parquet sink (S6, fixing the reference's append-dup bug at
extract_stocks_job.py:375-393).

The join keeps every dimension ticker even when the fetch returned no
quotes for it (reference: df_map.join(df_data, "Ticker", "left")).
Ingestion frames are driver-assembled and small by construction; the
100 TB path lands files and scans them instead (see
pipelines.connectors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stockpy_spark.operators import (
    add_literal_column,
    dim_preserving_enrich,
    rename_columns,
    select_with_conditional_cast,
)
from stockpy_spark.pipelines.connectors import Connector
from stockpy_spark.sources.writers import write_parquet_overwrite_partitions

# quote columns scrubbed with the P1 NaN->NULL conditional cast
# (extract_stocks_job.py:105-142)
QUOTE_CASTS: dict[str, T.DataType] = {
    "Date": T.StringType(),
    "Close": T.DoubleType(),
    "High": T.DoubleType(),
    "Low": T.DoubleType(),
    "Open": T.DoubleType(),
    "Volume": T.LongType(),
}

RAW_RENAMES = {
    "Sector": "sector",
    "Ticker": "ticker",
    "Company": "company",
    "Date": "date",
    "Close": "close",
    "High": "high",
    "Low": "low",
    "Open": "open",
    "Volume": "volume",
}


def stock_dimension(spark: SparkSession, stocks: dict[str, dict[str, str]]) -> DataFrame:
    """S5 — the in-memory sector/ticker/company seed table
    (extract_stocks_job.py:64-74). ``stocks`` maps sector ->
    {ticker: company}."""
    rows = [
        (sector, ticker, company)
        for sector, companies in stocks.items()
        for ticker, company in companies.items()
    ]
    return spark.createDataFrame(rows, "Sector string, Ticker string, Company string")


def extract_stocks(
    spark: SparkSession,
    quotes: Connector,
    stocks_map: DataFrame | dict[str, dict[str, str]],
    process_date: str,
    output_path: str | None = None,
) -> DataFrame:
    """Compose the extract job; returns the raw-zone frame (and writes
    it partitioned by ``dataproc`` when ``output_path`` is given)."""
    dim = (
        stocks_map
        if isinstance(stocks_map, DataFrame)
        else stock_dimension(spark, stocks_map)
    )
    fetched = quotes.fetch(spark)
    scrubbed = select_with_conditional_cast(
        fetched, QUOTE_CASTS, keep=["Ticker"]
    )
    # dimension-preserving left join: tickers with no quotes survive
    # with NULL quote columns (the reference's left-join-miss edge
    # case). Quotes under the broadcast threshold are the build side
    # of one hash join (the write runs 2 jobs); larger or unsized
    # quotes take the two-pass plan that never shuffles them.
    joined = dim_preserving_enrich(dim, scrubbed, "Ticker")
    renamed = rename_columns(joined, RAW_RENAMES)
    out = add_literal_column(renamed, "dataproc", process_date, T.StringType())
    # column order: reference schema (FIXTURES.md A1)
    out = out.select(
        "sector", "ticker", "company", "date",
        "close", "high", "low", "open", "volume", "dataproc",
    )
    if output_path is not None:
        write_parquet_overwrite_partitions(out, output_path, ["dataproc"])
    return out


def empty_guard(df: DataFrame) -> bool:
    """X2 — the reference aborts when the fetch returned nothing
    (extract_stocks_job.py:363-365). isEmpty() checks the first
    partition only — no full count."""
    return not df.isEmpty()
