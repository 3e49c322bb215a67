"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship weekly mart at sf0.001;
``queries()`` exposes every implemented operator from SURVEY.md §2 as a
(spark, sf_dir) → DataFrame callable; ``oracle_sql()`` pairs each with an
equivalent DuckDB SQL statement over the same parquet tables. Queries
lacking an oracle entry are genuinely non-SQL-expressible (hash-family /
LSH operators) and get the driver's weaker rows-only check.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from uk_housing_dashboard_etl_spark import contract  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return contract.QUERIES["weekly_by_la"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(contract.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (where SQL-expressible)."""
    return dict(contract.ORACLES)
