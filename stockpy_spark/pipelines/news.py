"""The reference's transform_news job as a thin operator composition.

Reproduces /root/reference/scripts/transform_news_job.py:52-156:
schema-drift alignment -> date normalization (strip time suffix, to_date)
-> same-day filter (published == extracted) -> drop rows missing
required fields -> dedup by link -> partition column.

The reference's exact full-row dedup (A3) has no step of its own: the
per-link dedup (A4) keeps exactly one row per link, so it keeps one of
any full-row duplicates too, and a separate ``distinct`` would only add
a shuffle. The required-field filter (P8) runs BEFORE the per-link
dedup: run after it, a link whose surviving copy lacks a title or
source would vanish even though a complete copy exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stockpy_spark.functions import strip_time_suffix, to_date_col
from stockpy_spark.operators import (
    add_literal_column,
    align_to_columns,
    dedup_by_key_first,
    drop_na_subset,
    filter_cross_column_equal,
)

EXPECTED = {
    "ticker": T.StringType(),
    "company": T.StringType(),
    "sector": T.StringType(),
    "title": T.StringType(),
    "link": T.StringType(),
    "source": T.StringType(),
    "published_date": T.StringType(),
    "extracted_date": T.StringType(),
}


def transform_news(raw: DataFrame, process_date: str) -> DataFrame:
    """news_raw -> news_clean (refined)."""
    df = align_to_columns(raw, EXPECTED)  # P4 schema-drift handling
    df = df.withColumn(
        "published_day", to_date_col(strip_time_suffix(F.col("published_date")))
    ).withColumn("extracted_day", to_date_col(strip_time_suffix(F.col("extracted_date"))))
    df = filter_cross_column_equal(df, "published_day", "extracted_day")  # P7
    df = df.drop("published_date", "extracted_date")
    df = drop_na_subset(df, ["title", "link", "source"])  # P8
    # A4 (subsumes A3) made deterministic: one row per link, earliest
    # title wins, the remaining columns break ties so the order is total
    ties = [c for c in df.columns if c not in ("link", "title")]
    df = dedup_by_key_first(df, ["link"], ["title", *ties])
    return add_literal_column(df, "dataproc", process_date)
