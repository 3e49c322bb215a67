"""P10/A7 latest-snapshot filter and A8/A10 QA metrics.

Reference parity: ``etl/etl_main.py:340-341`` (latest week filter) and
``:344-350`` (QA record: raw rows, LA count, coverage, latest week).

Scale notes: the global max week is computed as a 1-row aggregate joined
back via broadcast — no ``collect()`` round-trip, no global window that
would funnel the frame through a single partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def latest_snapshot(windows_df: DataFrame) -> DataFrame:
    """Rows of the fanned-out frame belonging to the globally-latest week."""
    latest = windows_df.agg(F.max("week").alias("__latest_week"))
    return (
        windows_df.join(F.broadcast(latest))
        .where(F.col("week") == F.col("__latest_week"))
        .drop("__latest_week")
    )


def qa_metrics(tx_raw_count_df: DataFrame, weekly: DataFrame, coverage: DataFrame) -> DataFrame:
    """Single-row QA record: rows_raw, distinct LAs, coverage %, latest week."""
    rows_raw = tx_raw_count_df.agg(F.count(F.lit(1)).alias("rows_raw"))
    las = weekly.agg(
        F.countDistinct("local_authority").alias("las"),
        F.max("week").alias("latest_week"),
    )
    cov = coverage.select("coverage_pct")
    return rows_raw.crossJoin(las).crossJoin(cov)
