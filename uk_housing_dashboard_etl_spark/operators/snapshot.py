"""P10/A7 latest-snapshot filter and A8/A10 QA metrics.

Reference parity: ``etl/etl_main.py:340-341`` (latest week filter) and
``:344-350`` (QA record: raw rows, LA count, coverage, latest week).

The QA record and the latest week are scalars, and like the reference we
compute them once: ``refresh_facts`` collects them in three small
aggregates, and the one-row artifacts and the latest-week filter are
built from those values rather than re-deriving them inside their own
plans. The values stay Spark's own: counts and ``coverage_pct`` come out
of Spark expressions, and the latest week travels as epoch microseconds,
never as a Python ``datetime`` (PySpark converts those through the
host's local zone). A one-row frame is built on the JVM
(``spark.range(1)`` plus literals); ``createDataFrame`` from Python rows
would start a Python worker to write it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# (column, Spark type) of the two one-row artifacts
COVERAGE_COLUMNS = (
    ("total_tx", "bigint"),
    ("mapped_tx", "bigint"),
    ("coverage_pct", "double"),
)
QA_COLUMNS = (
    ("rows_raw", "bigint"),
    ("las", "bigint"),
    ("latest_week", "timestamp"),
    ("coverage_pct", "double"),
)


def _week_literal(week_us: int | None):
    return F.timestamp_micros(F.lit(week_us).cast("bigint"))


def refresh_facts(raw: DataFrame, weekly: DataFrame, coverage: DataFrame) -> dict:
    """The QA facts of one refresh, collected in three aggregates:
    ``total_tx``, ``mapped_tx`` and ``coverage_pct`` from the one-row
    ``coverage`` frame, ``las`` and ``latest_week`` (epoch µs) from the
    weekly mart, and ``rows_raw``, the raw input's record count (not the
    joined rows ``total_tx`` counts).

    Pass ``weekly`` and ``coverage``'s input cached: these collects are
    the first actions over them and fill the caches."""
    facts = coverage.first().asDict()
    facts.update(
        weekly.agg(
            F.countDistinct("local_authority").alias("las"),
            F.unix_micros(F.max("week")).alias("latest_week"),
        )
        .first()
        .asDict()
    )
    facts["rows_raw"] = raw.count()
    return facts


def fact_row(spark: SparkSession, facts: dict, columns) -> DataFrame:
    """One-row frame of ``facts`` with the (column, type) ``columns``."""
    return spark.range(1).select(
        *(
            (
                _week_literal(facts[c]) if t == "timestamp" else F.lit(facts[c]).cast(t)
            ).alias(c)
            for c, t in columns
        )
    )


def week_rows(df: DataFrame, week_us: int | None) -> DataFrame:
    """Rows of ``df`` in the week starting at ``week_us`` (none for None)."""
    return df.where(F.col("week") == _week_literal(week_us))


def latest_snapshot(windows_df: DataFrame) -> DataFrame:
    """Rows of the fanned-out frame belonging to the globally-latest week.

    Collects the latest week (one aggregate; pass a cached frame)."""
    latest = windows_df.agg(F.unix_micros(F.max("week"))).first()[0]
    return week_rows(windows_df, latest)


def qa_metrics(raw: DataFrame, weekly: DataFrame, coverage: DataFrame) -> DataFrame:
    """Single-row QA record: rows_raw, distinct LAs, latest week, coverage %."""
    return fact_row(raw.sparkSession, refresh_facts(raw, weekly, coverage), QA_COLUMNS)
