"""J2: grid densification — full weeks × LAs index, zero-filled counts.

Reference parity: ``etl/etl_main.py:239-244`` builds a MultiIndex of
``date_range(min, max, freq='W-MON') × distinct LAs``, left-joins observed
weekly rows and fills ``transactions=0`` (price columns stay null).

Semantics preserved (SURVEY.md §4 gotcha 4/5): the week range is the
GLOBAL min→max across all LAs (not per-LA), and only ``transactions`` is
zero-filled.

Scale notes: both grid sides are tiny relative to the fact table (weeks ×
LAs), derived with single-row aggregates + ``sequence``/``explode`` — no
driver collect. The left join back onto the weekly mart broadcasts the
grid when small; at extreme LA counts it degrades gracefully to a shuffle
join on the composite key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def densify_weekly_grid(weekly: DataFrame) -> DataFrame:
    """Left-join the weekly mart onto the dense (week, LA) grid.

    The input mart feeds THREE consumers here (bounds aggregate, distinct
    LAs, join probe side). The caller owns its materialization: pass a
    cached mart (``HousingPipeline.run`` does, and the registry's grid
    queries pass the weekly mart of the run it holds), or the fact-table
    subtree that produced it runs once per consumer. A cache taken here
    could not be released by anyone and would outlive a rewrite of the
    files it was read from.
    """
    bounds = weekly.agg(
        F.min("week").alias("__wmin"), F.max("week").alias("__wmax")
    )
    weeks = bounds.select(
        F.explode(
            F.sequence("__wmin", "__wmax", F.expr("interval 7 days"))
        ).alias("week")
    )
    las = weekly.select("local_authority").where(
        F.col("local_authority").isNotNull()
    ).distinct()
    grid = weeks.crossJoin(las)
    return (
        grid.join(weekly, ["week", "local_authority"], "left")
        .na.fill({"transactions": 0})
    )
