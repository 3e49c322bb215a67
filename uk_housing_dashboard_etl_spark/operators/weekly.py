"""Core mart operators — cleaning, enrichment join, weekly aggregation.

Reference parity (SURVEY.md §2): P3-P9 cleaning, J1 broadcast enrichment
join (ref ``etl/etl_main.py:185-188``), W1 Monday-start weekly bucketing
(ref ``:199``), A1-A4 weekly aggregates (ref ``:212-218``), A5 type
breakdown (ref ``:221-225``), A9 coverage (ref ``:194-196``).

Semantics gotchas preserved (SURVEY.md §4):
- exact median/percentiles with linear interpolation, never approx;
- null-skipping aggregates (pandas NaN ≡ Spark null);
- pandas ``groupby`` drops null group keys → we filter null LA rows out of
  the mart (they are still counted by the coverage report);
- count-distinct ignores nulls, matching ``Series.nunique``.

Scale notes: the enrichment lookup is dimension-sized → explicit
``broadcast()`` hash join, no shuffle of the fact table. The weekly agg is
a single hash aggregate with map-side partial aggregation; exact
percentiles are the one operator that needs the full group (sort-based
agg) — at 100 TB offer ``approx=True`` to switch A3/A4 to
``percentile_approx`` as a documented degradation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from uk_housing_dashboard_etl_spark.functions.guards import finite_or_null
from uk_housing_dashboard_etl_spark.functions.rounding import dmean
from uk_housing_dashboard_etl_spark.functions.cleaning import (
    coerce_double,
    coerce_timestamp,
    discover_columns,
    normalize_category,
    normalize_code,
    prefix_key,
)


def standardize_transactions(df_raw: DataFrame) -> DataFrame:
    """P1-P9: discover columns by substring, coerce, normalize, drop bad dates.

    Output schema: ``date timestamp, transaction_id string, price double,
    key string, prop_type string (nullable)`` — the engine's standardized
    transactions shape, independent of the raw input's column names.
    """
    roles = discover_columns(df_raw.columns)
    dtypes = dict(df_raw.dtypes)
    # Coerce only when the source is stringly-typed; typed columns (parquet)
    # pass through with a plain cast — no lossy string round-trips.
    if dtypes[roles["date"]].startswith(("timestamp", "date")):
        date = F.col(roles["date"]).cast("timestamp")
    else:
        date = coerce_timestamp(F.col(roles["date"]))
    if dtypes[roles["price"]] in ("double", "float", "int", "bigint", "smallint", "decimal"):
        price = F.col(roles["price"]).cast("double")
    else:
        price = coerce_double(F.col(roles["price"]))
    if roles["transaction_id"]:
        # keep the source type: count-distinct over native longs avoids
        # stringifying every id through the distinct expand at scale
        tid = F.col(roles["transaction_id"])
    else:
        # P5 surrogate-id fallback: only ever consumed by count-distinct, so
        # non-contiguity is irrelevant; monotonically_increasing_id is
        # partition-parallel (no global coordination).
        tid = F.monotonically_increasing_id()
    if roles["postcode"]:
        key = normalize_code(F.col(roles["postcode"]))
    else:
        key = F.lit(None).cast("string")
    prop = (
        normalize_category(F.col(roles["prop_type"]))
        if roles["prop_type"]
        else F.lit(None).cast("string")
    )
    return (
        df_raw.select(
            date.alias("date"),
            tid.alias("transaction_id"),
            price.alias("price"),
            key.alias("key"),
            prop.alias("prop_type"),
        )
        .where(F.col("date").isNotNull())  # P4
    )


def enrich_with_lookup(tx: DataFrame, lookup: DataFrame | None) -> DataFrame:
    """J1: left broadcast-hash equi-join onto the dimension lookup.

    ``lookup`` must have columns (``key``, ``local_authority``) — already
    normalized. With no lookup, falls back to the 4-character postcode
    prefix (P8), mirroring the reference (ref ``etl/etl_main.py:182,190``).
    Unmatched keys keep the row with a null ``local_authority``.

    The lookup is always broadcast: it is dimension-sized (a UK postcode
    map ≈ 50 MB).
    """
    if lookup is None:
        return tx.withColumn("local_authority", prefix_key(F.col("key")))
    dim = F.broadcast(
        lookup.select(F.col("key").alias("__lk"), F.col("local_authority"))
    )
    return tx.join(dim, tx["key"] == dim["__lk"], "left").drop("__lk")


def weekly_mart(enriched: DataFrame, approx: bool = False) -> DataFrame:
    """W1 + A1-A4: the reference's ``weekly_by_la`` mart, in no particular
    row order.

    Monday-start tumbling week via ``date_trunc('week')``; per (week, LA):
    count-distinct transactions, mean/median/p10/p90 of price (exact linear
    interpolation). Null-LA rows are dropped (pandas groupby semantics).

    Non-finite prices (NaN/±Inf) are NULLed at this mart boundary — the
    r13 registry-wide adversarial sweep showed one such row crashes the
    deterministic mean's bigint quantization (ANSI CAST_OVERFLOW on
    Spark, a raise on the oracle's cast: the r12 non-finite class) and
    would skew the exact percentiles engine-dependently. A NULL price
    leaves mean/percentiles like any missing value while the row still
    counts into ``transactions`` — on both engines (the oracle's
    ``_BASE_FIN`` weekly CTE applies the identical ``isfinite`` CASE).
    This is the reference's own sentinel-containment pattern
    (etl_main.py:269-278 zeroes z-scores when std is NaN/0).
    """
    # Two performance decisions, each measured ~3× at 20M rows:
    # 1. ONE percentile aggregate for all three points — separate
    #    percentile expressions each buffer every group value (3× the
    #    memory traffic for identical sorts).
    # 2. count-distinct runs in its OWN aggregate joined back on the
    #    group keys — combining it with the percentiles forces the
    #    distinct Expand (2× the rows) through the percentile
    #    ObjectHashAggregate. Both aggregates are mart-sized outputs,
    #    so the join is trivial; the extra input scan is columnar and
    #    far cheaper than expanding the object aggregate.
    pct_points = F.array(F.lit(0.1), F.lit(0.5), F.lit(0.9))
    if approx:
        pcts = F.percentile_approx("price", pct_points).cast("array<double>")
    else:
        pcts = F.percentile("price", pct_points)
    base = (
        enriched.where(F.col("local_authority").isNotNull())
        .withColumn("week", F.date_trunc("week", F.col("date")))
        .withColumn("price", finite_or_null(F.col("price")))
    )
    stats = base.groupBy("week", "local_authority").agg(
        # deterministic mean (exact integer-scaled sum / count):
        # groups whose true mean lands exactly on a 4dp boundary
        # otherwise tie-break differently per engine/partitioning
        dmean(F.col("price")).alias("price_mean"),
        pcts.alias("__pcts"),
    )
    counts = base.groupBy("week", "local_authority").agg(
        F.countDistinct("transaction_id").alias("transactions")
    )
    return (
        stats.join(counts, ["week", "local_authority"])
        .select(
            "week",
            "local_authority",
            "transactions",
            "price_mean",
            F.col("__pcts")[1].alias("price_median"),
            F.col("__pcts")[0].alias("price_p10"),
            F.col("__pcts")[2].alias("price_p90"),
        )
    )


def type_breakdown(enriched: DataFrame) -> DataFrame:
    """A5: count(*) per (week, LA, normalized property type)."""
    return (
        enriched.where(
            F.col("local_authority").isNotNull() & F.col("prop_type").isNotNull()
        )
        .withColumn("week", F.date_trunc("week", F.col("date")))
        .groupBy("week", "local_authority", "prop_type")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def coverage_report(enriched: DataFrame) -> DataFrame:
    """A9/A10: single-row QA — total rows, mapped rows, coverage %.

    ``100 * count(la not null) / count(*)`` exactly as the reference
    (ref ``etl/etl_main.py:194-196``); one map-side-combinable aggregate.
    With no rows (no parseable date) ``coverage_pct`` is NULL, as in the
    oracle, rather than an ANSI division-by-zero error.
    """
    return enriched.agg(
        F.count(F.lit(1)).alias("total_tx"),
        F.count("local_authority").alias("mapped_tx"),
        F.try_divide(
            F.lit(100.0) * F.count("local_authority"), F.count(F.lit(1))
        ).alias("coverage_pct"),
    )
