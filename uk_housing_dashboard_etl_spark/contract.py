"""Driver-contract queries: each SURVEY.md §2 operator as a named query over
the synthetic testdata tables, paired with an ANSI-SQL DuckDB oracle.

The ``events`` table plays the reference's Price Paid transactions
(ts≈date_of_transfer, value≈price, user_id≈postcode, event_type≈
property_type, event_id≈transaction id); ``customer→nation`` plays the
postcode→LA lookup. The lookup deliberately drops ``c_custkey % 7 == 3``
so the left join produces genuine unmatched rows (null LA), exercising the
reference's coverage path (ref ``etl/etl_main.py:185-196``).

Float policy: every column whose value is COMPUTED floating-point math
(avg/stddev/percentile/ratio) is rounded to 4 decimals on BOTH sides so
the driver's order-insensitive value-hash is robust to summation-order
differences between Spark and DuckDB. Passthrough doubles are not rounded.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from uk_housing_dashboard_etl_spark.operators import (
    densify_weekly_grid,
    standardize_transactions,
)
from uk_housing_dashboard_etl_spark.operators.relational import (
    brand_revenue,
    customers_without_orders,
    disjunctive_revenue,
    idle_capital,
    important_parts,
    large_orders,
    late_shipments,
    market_share,
    min_cost_supplier,
    nation_pair_trade,
    order_count_distribution,
    order_priority_counts,
    pricing_summary,
    product_profit,
    promo_revenue,
    revenue_by_nation,
    slow_suppliers,
    small_qty_revenue,
    supplier_variety,
    top_customers_by_revenue,
    top_supplier,
)
from uk_housing_dashboard_etl_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from uk_housing_dashboard_etl_spark.operators.multimodal import (
    attach_binary_payload,
    decode_images,
    media_metadata,
    sample_frames,
)
from uk_housing_dashboard_etl_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup,
    lsh_bucketed_topk,
)
from uk_housing_dashboard_etl_spark.operators.text_analysis import (
    STOPWORDS,
    doc_fingerprint,
    lang_id,
    quality_score,
    text_stats,
)
from uk_housing_dashboard_etl_spark.functions.rounding import (
    dmean_sql,
    round4,
    round4_sql,
)
from uk_housing_dashboard_etl_spark.plans import HousingPipeline
from uk_housing_dashboard_etl_spark.sources.readers import read_table

ROUND_DP = 4


def _round(df: DataFrame, cols: list[str]) -> DataFrame:
    out = df
    for c in cols:
        out = out.withColumn(c, round4(F.col(c)))
    return out


def _rewrite_round4(sql: str) -> str:
    """Rewrite every ``round(expr, 4)`` in an oracle statement into the
    engine-portable ``floor(expr·1e4 + 0.5)/1e4`` formula (see
    ``functions.rounding``) so both engines round bit-identically.
    Oracle SQL is still written with ``round(…, 4)`` for readability.
    """
    lower = sql.lower()
    i = lower.find("round(")
    while i != -1:
        depth, j = 1, i + len("round(")
        top_comma = -1
        while j < len(sql) and depth:
            ch = sql[j]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 1:
                top_comma = j
            j += 1
        if top_comma != -1 and sql[top_comma + 1 : j - 1].strip() == "4":
            expr = sql[i + len("round(") : top_comma]
            replacement = round4_sql(_rewrite_round4(expr))
            sql = sql[:i] + replacement + sql[j:]
            lower = sql.lower()
            i = lower.find("round(", i + len(replacement))
        else:
            # not a 4dp round (or no scale) — leave it, continue past
            i = lower.find("round(", i + len("round("))
    return sql


# ---------------------------------------------------------------- loaders


def load_transactions_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → PPD-shaped raw frame (column names drive P1 discovery)."""
    return read_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("transaction_unique_id"),
        F.col("ts").alias("date_of_transfer"),
        F.col("value").alias("price"),
        F.col("user_id").alias("postcode"),
        F.col("event_type").alias("property_type"),
    )


def load_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer→nation as the postcode→LA dimension (J1 broadcast side).

    Drops custkey % 7 == 3 to create deterministic unmatched keys.
    """
    cust = read_table(spark, sf_dir, "customer").where(
        (F.col("c_custkey") % 7) != 3
    )
    nat = read_table(spark, sf_dir, "nation")
    return cust.join(nat, cust.c_nationkey == nat.n_nationkey).select(
        F.col("c_custkey").cast("string").alias("key"),
        F.col("n_name").alias("local_authority"),
    )


# Dashboard marts held per (session, absolute sf_dir): the input version
# they were built from, and one HousingPipeline run's outputs plus its
# ``enriched`` frame, by name.
_MARTS: dict[tuple[SparkSession, str], tuple[tuple, dict[str, DataFrame]]] = {}
# the frames of a run that HousingPipeline caches
_CACHED = ("weekly_by_la", "anomalies", "enriched")


def _input_version(sf_dir: str) -> tuple:
    """``(path, size, mtime_ns, inode)`` of every file of the ``*.parquet``
    tables under ``sf_dir``: stat calls only. A table rewritten in place
    changes it."""
    version = []
    for table in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        files = [table]
        if os.path.isdir(table):
            files = sorted(
                os.path.join(d, n) for d, _, names in os.walk(table) for n in names
            )
        for path in files:
            st = os.stat(path)
            version.append((path, st.st_size, st.st_mtime_ns, st.st_ino))
    return tuple(version)


def _mart(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The outputs of one ``HousingPipeline`` run over ``sf_dir``'s star
    tables, by name, plus its cached ``enriched`` frame: held once per
    session, absolute ``sf_dir`` and input version, so successive panels
    read the refresh's marts instead of rebuilding them.

    A new input version unpersists the held run's caches and refreshes
    every Spark cache entry over the tables: Spark matches a cache by plan
    and path, not by file contents, and would otherwise serve the old
    rows. A held run whose caches are gone (after
    ``spark.catalog.clearCache()``) is run again."""
    root = os.path.abspath(sf_dir)
    version = _input_version(root)
    held = _MARTS.get((spark, root))
    if held is not None:
        held_version, marts = held
        if held_version == version and all(
            marts[n].storageLevel.useMemory for n in _CACHED
        ):
            return marts
        for n in _CACHED:
            marts[n].unpersist()
        if held_version != version:
            for table in glob.glob(os.path.join(root, "*.parquet")):
                spark.catalog.refreshByPath(table)
    pipeline = HousingPipeline(
        spark, load_transactions_raw(spark, root), load_lookup(spark, root)
    )
    marts = dict(pipeline.run(), enriched=pipeline.enriched)
    _MARTS[(spark, root)] = (version, marts)
    return marts


# ------------------------------------------------------- spark queries

WEEKLY_ROUND = ["price_mean", "price_median", "price_p10", "price_p90"]
WINDOW_ROUND = ["price_mean", "rolling_price_mean"]


def q_clean_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P9: discovery + coercion + normalization projection."""
    return standardize_transactions(load_transactions_raw(spark, sf_dir))


def _panel(output: str, cols: list[str]) -> Callable[[SparkSession, str], DataFrame]:
    """A dashboard panel: the held pipeline run's ``output`` with ``cols``
    rounded, and nothing else computed on top of it."""

    def panel(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _round(_mart(spark, sf_dir)[output], cols)

    return panel


def q_grid_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: densified weeks × LAs grid with zero-filled transactions."""
    weekly = _mart(spark, sf_dir)["weekly_by_la"]
    return _round(densify_weekly_grid(weekly), WEEKLY_ROUND)


def q_gap_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap-fill of the densified weekly price series: nearest
    non-null neighbors via ignore-nulls windows sharing one exchange,
    time-axis blend on exact epoch-µs integers."""
    from uk_housing_dashboard_etl_spark.operators.timeseries import (
        interpolate_gaps,
    )

    return interpolate_gaps(densify_weekly_grid(_mart(spark, sf_dir)["weekly_by_la"]))


def q_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period change (the reference's advertised-but-missing
    YOY operator, as WoW on the dense grid; YOY = periods=52)."""
    from uk_housing_dashboard_etl_spark.operators.timeseries import period_over_period

    dense = densify_weekly_grid(_mart(spark, sf_dir)["weekly_by_la"])
    # round the float base BEFORE differencing: deltas of 4dp values never
    # land on a rounding boundary, so both engines agree bit-for-bit
    dense = dense.withColumn("price_mean", round4(F.col("price_mean")))
    out = period_over_period(dense, ["transactions", "price_mean"], periods=1)
    return _round(
        out.select(
            "week",
            "local_authority",
            "transactions",
            "transactions_prev",
            "transactions_delta",
            "transactions_pct_change",
            "price_mean",
            "price_mean_prev",
            "price_mean_delta",
            "price_mean_pct_change",
        ),
        ["price_mean", "price_mean_prev", "price_mean_delta"],
    )


def q_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured projection: JSON field extraction from the props
    column + per-type aggregation (get_json_object stays JVM-side)."""
    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select(F.col("event_type"), k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("k"), 4).alias("k_mean"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min timeout) + per-session stats."""
    from uk_housing_dashboard_etl_spark.operators.sessionize import session_stats

    ev = read_table(spark, sf_dir, "events")
    return session_stats(ev, timeout_minutes=30.0, tie_cols=["event_id"])


def q_rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation with grouping indicators (subtotal lattice).
    Non-finite quantities leave the sum like NULLs (r13 sweep)."""
    from uk_housing_dashboard_etl_spark.functions.guards import (
        finite_or_null,
    )
    from uk_housing_dashboard_etl_spark.operators.relational import _dsum

    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count(F.lit(1)).alias("n_rows"),
            _dsum(finite_or_null(F.col("l_quantity"))).alias("sum_qty"),
        )
        .select(
            "l_returnflag", "l_linestatus", "g_flag", "g_status", "n_rows", "sum_qty"
        )
    )


def q_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint report in one aggregate pass
    (nulls, key uniqueness, value range, accepted categories)."""
    from uk_housing_dashboard_etl_spark.operators.quality_checks import (
        accepted_values,
        in_range,
        not_null,
        run_checks,
        unique_key,
    )

    ev = read_table(spark, sf_dir, "events")
    return run_checks(
        ev,
        [
            not_null("ts"),
            not_null("value"),
            unique_key("event_id"),
            in_range("value", 0.0, 1000.0),
            accepted_values(
                "event_type", ["click", "error", "purchase", "signup", "view"]
            ),
        ],
    )


def q_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style compaction: latest event per user by (ts, event_id)."""
    from uk_housing_dashboard_etl_spark.operators.relational import latest_by_key

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    return latest_by_key(ev, ["user_id"], "ts", tie_cols=["event_id"])


# ------------------------------------------- generic relational queries


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-filter + partial-agg hash aggregation (TPC-H Q1 shape)."""
    return _round(
        pricing_summary(read_table(spark, sf_dir, "lineitem")),
        ["avg_qty", "avg_price", "avg_disc"],
    )


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-way join with broadcast dims (TPC-H Q5 shape)."""
    t = {n: read_table(spark, sf_dir, n) for n in
         ["customer", "orders", "lineitem", "supplier", "nation", "region"]}
    return revenue_by_nation(
        t["customer"], t["orders"], t["lineitem"], t["supplier"],
        t["nation"], t["region"],
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic top-k over aggregated revenue (TPC-H Q10 shape)."""
    t = {n: read_table(spark, sf_dir, n) for n in
         ["customer", "orders", "lineitem", "nation"]}
    return top_customers_by_revenue(
        t["customer"], t["orders"], t["lineitem"], t["nation"]
    )


def q_revenue_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure scan-filter-aggregate (TPC-H Q6 shape, pushdown microbench)."""
    from uk_housing_dashboard_etl_spark.operators.relational import (
        revenue_forecast_filter,
    )

    return revenue_forecast_filter(read_table(spark, sf_dir, "lineitem"))


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment join + per-order revenue + top-10 (TPC-H Q3 shape)."""
    from uk_housing_dashboard_etl_spark.operators.relational import shipping_priority

    return shipping_priority(
        read_table(spark, sf_dir, "customer"),
        read_table(spark, sf_dir, "orders"),
        read_table(spark, sf_dir, "lineitem"),
    )


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS) + count by priority (TPC-H Q4 shape)."""
    return order_priority_counts(
        read_table(spark, sf_dir, "orders"), read_table(spark, sf_dir, "lineitem")
    )


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS) + count by segment."""
    return customers_without_orders(
        read_table(spark, sf_dir, "customer"), read_table(spark, sf_dir, "orders")
    )


def q_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim join + hash agg per brand."""
    return brand_revenue(
        read_table(spark, sf_dir, "part"), read_table(spark, sf_dir, "lineitem")
    )


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-type revenue share (conditional ratio)."""
    return promo_revenue(
        read_table(spark, sf_dir, "lineitem"), read_table(spark, sf_dir, "part")
    )


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered order-grain aggregate joined back
    to orders/customers."""
    return large_orders(
        read_table(spark, sf_dir, "customer"),
        read_table(spark, sf_dir, "orders"),
        read_table(spark, sf_dir, "lineitem"),
    )


def q_idle_capital(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers who never placed
    a large order, per nation (scalar subquery + anti join)."""
    return idle_capital(
        read_table(spark, sf_dir, "customer"), read_table(spark, sf_dir, "orders")
    )


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) at the global quarterly revenue max."""
    return top_supplier(
        read_table(spark, sf_dir, "supplier"), read_table(spark, sf_dir, "lineitem")
    )


def q_nation_pair_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-border revenue by (supp nation, cust nation,
    ship year); the nation dim joined twice under different roles."""
    t = {n: read_table(spark, sf_dir, n) for n in
         ["lineitem", "orders", "customer", "supplier", "nation"]}
    return nation_pair_trade(
        t["lineitem"], t["orders"], t["customer"], t["supplier"], t["nation"]
    )


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's yearly share of a region's market,
    numerator and denominator from one conditional-sum pass."""
    t = {n: read_table(spark, sf_dir, n) for n in
         ["lineitem", "orders", "customer", "supplier", "nation", "region",
          "part"]}
    return market_share(
        t["lineitem"], t["orders"], t["customer"], t["supplier"],
        t["nation"], t["region"], t["part"],
    )


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation × order year (supply
    cost proxied from p_retailprice — no partsupp in the testdata)."""
    t = {n: read_table(spark, sf_dir, n) for n in
         ["lineitem", "orders", "part", "supplier", "nation"]}
    return product_profit(
        t["lineitem"], t["orders"], t["part"], t["supplier"], t["nation"]
    )


def q_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: critical/other priority counts of late lines
    (shipped > 90 days after order) per ship year."""
    return late_shipments(
        read_table(spark, sf_dir, "lineitem"), read_table(spark, sf_dir, "orders")
    )


def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer-join histogram of orders per customer,
    zero-order customers included."""
    return order_count_distribution(
        read_table(spark, sf_dir, "customer"), read_table(spark, sf_dir, "orders")
    )


def q_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part class (the
    part↔supplier relation derived from lineitem; no partsupp)."""
    return supplier_variety(
        read_table(spark, sf_dir, "part"), read_table(spark, sf_dir, "lineitem")
    )


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue in below-20%-of-avg-quantity lines; the
    correlated avg becomes an aggregate + broadcast join-back."""
    return small_qty_revenue(
        read_table(spark, sf_dir, "lineitem"), read_table(spark, sf_dir, "part")
    )


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-conjunctions predicate across both join
    sides."""
    return disjunctive_revenue(
        read_table(spark, sf_dir, "lineitem"), read_table(spark, sf_dir, "part")
    )


def q_slow_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: sole-laggard supplier per multi-supplier order,
    EXISTS/NOT EXISTS as window counts (one shuffle)."""
    t = {n: read_table(spark, sf_dir, n) for n in
         ["lineitem", "supplier", "nation"]}
    return slow_suppliers(t["lineitem"], t["supplier"], t["nation"])


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts above a fraction of one region's shipped
    value (HAVING vs scalar subquery as 1-row broadcast)."""
    t = {n: read_table(spark, sf_dir, n) for n in
         ["lineitem", "supplier", "nation", "region"]}
    return important_parts(
        t["lineitem"], t["supplier"], t["nation"], t["region"]
    )


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest regional source per part (mean shipped
    unit price as the offer; min-over-window keeps ties)."""
    t = {n: read_table(spark, sf_dir, n) for n in
         ["lineitem", "supplier", "nation", "region"]}
    return min_cost_supplier(
        t["lineitem"], t["supplier"], t["nation"], t["region"]
    )


def q_weekly_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot/crosstab: weeks × event types transaction matrix. Explicit
    pivot values keep it single-pass (no distinct-values pre-query)."""
    ev = read_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.withColumn("week", F.date_trunc("week", F.col("ts")))
        .groupBy("week")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


def q_weekly_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot round-trip: melt the weeks × types matrix back to long via
    ``DataFrame.unpivot`` — zero-filled combinations preserved, so the
    long form is the densified week × type grid."""
    types = ["click", "error", "purchase", "signup", "view"]
    return q_weekly_type_pivot(spark, sf_dir).unpivot(
        ["week"], types, "event_type", "transactions"
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has none natively): each event annotated with
    the user's latest at-or-before purchase, via the union + ordered
    carry-forward window composition."""
    from uk_housing_dashboard_etl_spark.operators.temporal_joins import asof_join

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("value").alias("purchase_value"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_tie"),
    )
    return asof_join(
        ev,
        purchases,
        key="user_id",
        ts="ts",
        right_value_cols=["purchase_value", "purchase_ts"],
        tie_col="purchase_tie",
    )


def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join with tolerance (pandas merge_asof
    direction='forward'): each event annotated with the user's EARLIEST
    purchase at-or-after it, nulled when further than 1 hour away. Same
    one-exchange union + ordered-carry plan as the backward direction,
    with the interleave order flipped; the oracle enumerates candidate
    future purchases and picks the deterministic (ts, tie) minimum."""
    from uk_housing_dashboard_etl_spark.operators.temporal_joins import (
        asof_join,
    )

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("value").alias("purchase_value"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_tie"),
    )
    return asof_join(
        ev,
        purchases,
        key="user_id",
        ts="ts",
        right_value_cols=["purchase_value", "purchase_ts"],
        tie_col="purchase_tie",
        direction="forward",
        tolerance_seconds=3600,
    )


_ASOF_FORWARD_ORACLE = """
    WITH ev AS (
        SELECT event_id, ts, user_id, event_type, value FROM events
    ), purchases AS (
        SELECT user_id, ts, value AS purchase_value, ts AS purchase_ts,
               event_id AS tie
        FROM events WHERE event_type = 'purchase'
    ), ranked AS (
        SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value,
               p.purchase_value, p.purchase_ts,
               row_number() OVER (PARTITION BY e.event_id
                   ORDER BY p.ts, p.tie) AS rn
        FROM ev e
        LEFT JOIN purchases p
          ON e.user_id = p.user_id
         AND p.ts >= e.ts AND p.ts <= e.ts + INTERVAL 1 HOUR
    )
    SELECT event_id, ts, user_id, event_type, value,
           purchase_value AS asof_purchase_value,
           purchase_ts AS asof_purchase_ts
    FROM ranked WHERE rn = 1
    """


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join via time binning: events landing in
    the hour after each purchase by the same user, counted per user."""
    from uk_housing_dashboard_etl_spark.operators.temporal_joins import (
        range_join_binned,
    )

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    intervals = (
        read_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("ts").alias("start"),
            (F.timestamp_micros(F.unix_micros(F.col("ts")) + F.lit(3600_000000))).alias(
                "end"
            ),
        )
    )
    joined = range_join_binned(
        ev, intervals, ts="ts", start="start", end="end", by=["user_id"]
    )
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("events_in_purchase_hour")
    )


def q_sketch_cardinalities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct counts checked against exact, per event type.

    Sketch estimates are engine-specific, so the driver-checkable output
    is the exact count plus a ``within_5pct`` flag computed from the HLL
    estimate Spark-side; the oracle asserts the flag is TRUE. If the
    sketch ever drifts outside its error envelope the flag flips false
    and the driver's value-hash comparison goes red.
    """
    from uk_housing_dashboard_etl_spark.operators.sketches import approx_cardinalities

    out = approx_cardinalities(read_table(spark, sf_dir, "events"))
    return out.select(
        "event_type",
        "exact_distinct",
        (F.col("rel_error") <= 0.05).alias("within_5pct"),
    )


def q_sketch_weekly_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable rollup: per-day HLL sketches unioned into weekly
    distinct-user counts, checked against the exact weekly distinct via a
    ``within_5pct`` flag (see q_sketch_cardinalities)."""
    from uk_housing_dashboard_etl_spark.operators.sketches import (
        mergeable_daily_distinct,
    )

    out = mergeable_daily_distinct(read_table(spark, sf_dir, "events"))
    # a week whose only events carry NULL user_ids has exact distinct 0
    # — the CASE keeps the ANSI division off that row (r13 close-profile
    # fuzz: DIVIDE_BY_ZERO); an empty week is "within band" iff the
    # sketch also reads zero
    return out.select(
        "week",
        "exact_weekly_distinct",
        F.when(
            F.col("exact_weekly_distinct") > 0,
            F.abs(
                F.col("approx_weekly_distinct")
                - F.col("exact_weekly_distinct")
            )
            / F.col("exact_weekly_distinct")
            <= 0.05,
        )
        .otherwise(F.col("approx_weekly_distinct") == 0.0)
        .alias("within_5pct"),
    )


def q_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile estimates checked against exact percentiles; exact
    percentiles are driver-compared 4dp.

    The flags check KLL's ACTUAL guarantee — rank-band containment
    (estimate between the exact discrete quantiles at q ± 3%), not a
    value tolerance: the sketch's compaction is internally randomized,
    so on heavy-tailed groups beyond sketch capacity any fixed VALUE
    band flips run-to-run (the round-8/9 sf0.001 artifact), while the
    rank band is what the sketch promises at every scale.

    ONE-SHOT RETRY (r10 verdict item 5): the band sits at ~4.6 sigma,
    so a single draw flakes red with P ≈ 2e-4 per round (documented at
    ``operators/sketches.py`` RANK_EPS). On any band miss the sketch is
    re-drawn ONCE — fresh randomized compaction — and a flag passes if
    EITHER draw lands in band, driving the spurious-red probability to
    ~4e-8 while a real regression (systematically out-of-band
    estimates) still fails both draws. The flag frame is gate-grain
    (|event_type| rows), so the driver-side collect that decides the
    retry is bounded, and the happy path pays exactly one draw."""
    from uk_housing_dashboard_etl_spark.operators.sketches import (
        quantile_sketch_summary,
    )

    def draw():
        out = quantile_sketch_summary(read_table(spark, sf_dir, "events"))
        return out.select(
            "event_type",
            round4(F.col("exact_median")).alias("exact_median"),
            round4(F.col("exact_p90")).alias("exact_p90"),
            (
                (F.col("approx_median") >= F.col("median_band_lo"))
                & (F.col("approx_median") <= F.col("median_band_hi"))
            ).alias("median_in_rank_band"),
            (
                (F.col("approx_p90") >= F.col("p90_band_lo"))
                & (F.col("approx_p90") <= F.col("p90_band_hi"))
            ).alias("p90_in_rank_band"),
        )

    first = draw()
    rows = first.collect()
    if all(r["median_in_rank_band"] and r["p90_in_rank_band"] for r in rows):
        # re-wrap the already-collected rows so the driver's own collect
        # doesn't recompute the sketch (and can't flip a flag it never saw)
        return spark.createDataFrame(rows, first.schema)
    retry = {r["event_type"]: r for r in draw().collect()}
    # a group missing from the retry draw (a future filter change could
    # shrink the group set) must surface as a failed band, not a
    # KeyError inside the gate — default the missing row to all-False
    miss = {"median_in_rank_band": False, "p90_in_rank_band": False}
    merged = [
        (
            r["event_type"],
            r["exact_median"],
            r["exact_p90"],
            bool(
                r["median_in_rank_band"]
                or retry.get(r["event_type"], miss)["median_in_rank_band"]
            ),
            bool(
                r["p90_in_rank_band"]
                or retry.get(r["event_type"], miss)["p90_in_rank_band"]
            ),
        )
        for r in rows
    ]
    return spark.createDataFrame(merged, first.schema)


# -------------------------------------------- extension: dedup family


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-hash groupBy with canonical ids."""
    return exact_dedup(read_table(spark, sf_dir, "documents"))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (oracle baseline).

    Identical expression to the shared jaccard02 truth artifact
    (``ngram_jaccard_pairs`` at the 0.2 default), so it probes that
    cache instead of re-running the corpus self-join the recall gates
    and cluster queries already paid for."""
    return _jaccard02_truth(spark, sf_dir)


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (scale path; hash-family op, no
    SQL oracle — validated against ngram_jaccard in tests)."""
    return minhash_lsh_pairs(read_table(spark, sf_dir, "documents"))


def _simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 63-bit SimHash signature frame, shared by ``dedup_simhash``
    and its completeness gate (each previously re-ran the shingle
    explode + 63-sum aggregate). Deterministic (xxhash64 token hashes,
    fixed bit order) and corpus-grain -> the salted parquet artifact
    cache; the gate's former localCheckpoint becomes a plain artifact
    scan that is ALSO warm for the pair query."""
    from uk_housing_dashboard_etl_spark.operators.dedup import (
        simhash_signatures,
    )

    docs = read_table(spark, sf_dir, "documents")
    return _cached_fit_large(
        spark, sf_dir, "simhash_sigs",
        lambda: simhash_signatures(docs),
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded Hamming near-dup pairs (hash-family op, no oracle)."""
    from uk_housing_dashboard_etl_spark.operators.dedup import (
        simhash_pairs_from_signatures,
    )

    return simhash_pairs_from_signatures(_simhash_sigs(spark, sf_dir))


def _clusters02_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component labeling over the exact-Jaccard >= 0.2 graph
    (doc_id, cluster_id, cluster_size) — shared by ``dedup_clusters``
    and ``cluster_split``, which each paid the full pair join + the
    iterative star-contraction loop before round 9. Deterministic
    (min-label) and corpus-grain, so it joins ``_jaccard02_truth`` in
    the salted parquet artifact cache — the same build-once-probe-many
    shape a production dedup index ships. Salted on dedup.py, the
    module defining both the pair semantics and the contraction."""
    from uk_housing_dashboard_etl_spark.operators.dedup import (
        duplicate_clusters,
    )

    docs = read_table(spark, sf_dir, "documents")
    return _cached_fit_large(
        spark, sf_dir, "clusters02",
        lambda: duplicate_clusters(
            docs.select("doc_id"),
            _jaccard02_truth(spark, sf_dir).select("doc_a", "doc_b"),
        ),
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters: connected components (iterative
    min-label propagation) over the exact-Jaccard near-dup graph."""
    return _clusters02_labels(spark, sf_dir)


# ---------------------------------------- extension: similarity search

def _emb_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings through the vector family's shared ingest boundary
    (r14 ``embeddings`` sweep axis: one NULL/ragged/non-finite/zero
    vector crashed 25 of 27 family pairs). Every COMPUTE pair reads
    through here; the two diagnostics (``embedding_health``,
    ``embedding_quantile_norm``) read raw by contract — they are the
    health check that characterizes malformed vectors. Oracle mirror:
    ``_EMB_VALID``'s ``embeddings_valid`` CTE.

    r15 (VERDICT r14 item 1, guide §2.3/§6): the boundary is ONE
    fit-accounted on-disk artifact per corpus — the filtered projection
    is written once through ``_cached_fit_large`` (so bench charges it
    to ``ann_fit_seconds`` like every other index-build step) and all
    25 consumer pairs scan the pre-filtered parquet instead of each
    re-running the modal-dimension census (an eager driver
    ``.collect()``) plus the per-row ``forall``-finite + norm-fold
    filter. This is exactly the artifact a production vector store
    ships: validate on ingest, not per query. At 100 TB the filter is
    a single pass at index-build time instead of 25 corpus scans."""
    from uk_housing_dashboard_etl_spark.operators.similarity import (
        valid_embeddings,
    )

    def build() -> DataFrame:
        emb = read_table(spark, sf_dir, "embeddings")
        lengths = (
            emb.where(F.col("embedding").isNotNull())
            .groupBy(F.size(F.col("embedding")).alias("_dim"))
            .agg(F.count(F.lit(1)).alias("_n"))
            .orderBy(F.col("_n").desc(), F.col("_dim"))
            .limit(1)
            .collect()
        )
        dim = lengths[0]["_dim"] if lengths else -1
        if dim < 0:
            return emb.where(F.lit(False))
        return valid_embeddings(emb, dim=dim)

    return _cached_fit_large(spark, sf_dir, "emb_valid", build)


def _query_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_valid(spark, sf_dir)
    return emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 per query vector (exact baseline)."""
    emb = _emb_valid(spark, sf_dir)
    corpus = emb.where(F.col("vec_id") >= 5)
    return brute_force_topk(corpus, _query_vectors(spark, sf_dir), k=10)


def q_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (scale path; recall vs brute force
    asserted in tests, no SQL oracle)."""
    emb = _emb_valid(spark, sf_dir)
    corpus = emb.where(F.col("vec_id") >= 5)
    return lsh_bucketed_topk(corpus, _query_vectors(spark, sf_dir), k=10, bits=4)


def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: DataFrame-native k-means (iterative Lloyd's — the
    non-SQL-expressible category) + probed exact rerank (rows-only;
    recall vs brute force asserted in tests)."""
    from uk_housing_dashboard_etl_spark.operators.ivf import (
        ivf_index,
        ivf_topk,
        kmeans_fit,
    )

    emb = _emb_valid(spark, sf_dir)
    corpus = emb.where(F.col("vec_id") >= 5)
    # deterministic fit shared with the recall gate (r14: the pair paid
    # TWO fresh 4-iteration Lloyd's per suite — the fit is ~70% of each
    # query's wall-clock — while the ivfpq family already shared fits)
    centroids = _cached_fit(
        spark, sf_dir, "ivf_coarse8",
        lambda: kmeans_fit(corpus, k=8, iterations=4),
    )
    return ivf_topk(
        ivf_index(corpus, centroids),
        centroids,
        _query_vectors(spark, sf_dir),
        k=10,
        n_probes=3,
    )


def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for embedding near-dup: LSH-bucketed candidates +
    exact cosine filter (rows-only; subset-of-exact asserted in tests)."""
    from uk_housing_dashboard_etl_spark.operators.similarity import (
        embedding_near_dup_lsh,
    )

    return embedding_near_dup_lsh(
        _emb_valid(spark, sf_dir), threshold=0.4, bits=3
    )


def _topk_recall_gate(exact: DataFrame, approx: DataFrame, min_recall: float) -> DataFrame:
    """Per-query recall of an ANN result vs the exact top-k, as an
    oracle-checkable flag: the DuckDB side asserts ``recall_ok`` TRUE for
    every query id, so an ANN regression below ``min_recall`` turns the
    driver's value-hash comparison red (same pattern as the sketch
    within-bound gates)."""
    e = exact.select("query_id", "vec_id")
    a = approx.select("query_id", "vec_id")
    n_e = e.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    hits = (
        a.join(e, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return n_e.join(hits, "query_id", "left").select(
        "query_id",
        (
            F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact")
            >= min_recall
        ).alias("recall_ok"),
    )


def q_similarity_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle gate for the LSH ANN path: per-query recall vs exact
    brute force ≥ 0.3 (measured 0.4-0.7 per query on this data)."""
    emb = _emb_valid(spark, sf_dir)
    corpus = emb.where(F.col("vec_id") >= 5)
    qs = _query_vectors(spark, sf_dir)
    return _topk_recall_gate(
        brute_force_topk(corpus, qs, k=10),
        lsh_bucketed_topk(corpus, qs, k=10, bits=4),
        min_recall=0.3,
    )


def q_similarity_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle gate for the IVF ANN path: per-query recall vs exact
    brute force ≥ 0.3 (measured 0.4-0.7 per query on this data)."""
    from uk_housing_dashboard_etl_spark.operators.ivf import (
        ivf_index,
        ivf_topk,
        kmeans_fit,
    )

    emb = _emb_valid(spark, sf_dir)
    corpus = emb.where(F.col("vec_id") >= 5)
    qs = _query_vectors(spark, sf_dir)
    centroids = _cached_fit(
        spark, sf_dir, "ivf_coarse8",
        lambda: kmeans_fit(corpus, k=8, iterations=4),
    )
    approx = ivf_topk(ivf_index(corpus, centroids), centroids, qs, k=10, n_probes=3)
    return _topk_recall_gate(
        brute_force_topk(corpus, qs, k=10), approx, min_recall=0.3
    )


def _jaccard02_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-Jaccard ≥ 0.2 all-pairs truth set, shared by every
    recall gate that measures against it (round-8: dedup_minhash_recall
    and incremental_near_gate each recomputed it). Deterministic,
    corpus-grain → the salted-parquet artifact cache, exactly like a
    production dedup-index build that is computed once and probed by
    every downstream job. Salted on dedup.py, the module whose code
    defines these values."""

    docs = read_table(spark, sf_dir, "documents")
    return _cached_fit_large(
        spark, sf_dir, "jaccard02_pairs",
        lambda: ngram_jaccard_pairs(docs, threshold=0.2),
    )


def q_dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle gate for MinHash-LSH: recall of exact-Jaccard ≥ 0.2 pairs
    ≥ 0.6 (measured 1.0 on this data), plus the exact-pair count the
    oracle recomputes independently."""
    docs = read_table(spark, sf_dir, "documents")
    # ONE pass per side: separate count + join aggregates would embed the
    # exact all-pairs subplan twice in the final plan (Spark has no
    # DataFrame-level common-subplan materialization; only identical
    # exchanges get reused) — a left join with a marker column yields
    # both counts from a single execution of each side.
    exact = _jaccard02_truth(spark, sf_dir).select("doc_a", "doc_b")
    found = (
        minhash_lsh_pairs(docs)
        .select("doc_a", "doc_b")
        .distinct()
        .withColumn("__f", F.lit(1))
    )
    return (
        exact.join(found, ["doc_a", "doc_b"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_exact_pairs"),
            F.count("__f").alias("__n_hit"),
        )
        .select(
            "n_exact_pairs",
            (F.col("__n_hit") / F.col("n_exact_pairs") >= 0.6).alias(
                "recall_ok"
            ),
        )
    )


def _embexact04_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact cosine ≥ 0.4 all-pairs embedding truth set, shared by
    the two gates that measure against it (embedding_near_dup_lsh_recall
    and semantic_dedup_check) — same artifact-cache pattern as
    ``_jaccard02_truth``, salted on similarity.py."""
    from uk_housing_dashboard_etl_spark.operators.similarity import (
        embedding_near_dup,
    )

    emb = _emb_valid(spark, sf_dir)
    return _cached_fit_large(
        spark, sf_dir, "embexact04_pairs",
        lambda: embedding_near_dup(emb, threshold=0.4),
    )


def q_embedding_near_dup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle gate for the bucketed embedding near-dup path: recall vs
    the all-pairs exact ≥ 0.5 (measured 0.71), and the subset property —
    every emitted pair must exist in the exact result (the LSH path only
    prunes, its exact-cosine filter can never invent pairs)."""
    from uk_housing_dashboard_etl_spark.operators.similarity import (
        embedding_near_dup_lsh,
    )

    emb = _emb_valid(spark, sf_dir)
    # single full-outer pass instead of three aggregates that would each
    # re-execute the O(N²) exact subplan (see q_dedup_minhash_recall)
    exact = (
        _embexact04_truth(spark, sf_dir)
        .select("id_a", "id_b")
        .withColumn("__e", F.lit(1))
    )
    found = (
        embedding_near_dup_lsh(emb, threshold=0.4, bits=3)
        .select("id_a", "id_b")
        .distinct()
        .withColumn("__f", F.lit(1))
    )
    return (
        exact.join(found, ["id_a", "id_b"], "full")
        .agg(
            F.count("__e").alias("n_exact_pairs"),
            F.count(F.when(F.col("__e").isNotNull(), F.col("__f"))).alias(
                "__n_hit"
            ),
            F.count(F.when(F.col("__e").isNull(), 1)).alias("__n_false"),
        )
        .select(
            "n_exact_pairs",
            (F.col("__n_hit") / F.col("n_exact_pairs") >= 0.5).alias(
                "recall_ok"
            ),
            (F.col("__n_false") == 0).alias("no_false_positives"),
        )
    )


def _semdedup_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared deterministic k-means fit for the SemDeDup query/gate twins
    (round-8: the gate re-ran the identical 4-iteration fit the query
    had just paid for — same dedup as the r7 PQ-family fit sharing).
    8 centroid rows → the driver-rows cache, not parquet."""
    from uk_housing_dashboard_etl_spark.operators.ivf import kmeans_fit

    emb = _emb_valid(spark, sf_dir)
    return _cached_fit(
        spark, sf_dir, "semdedup8",
        lambda: kmeans_fit(
            emb, k=8, iterations=4, id_col="vec_id", vec_col="embedding"
        ),
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pairs: k-means cells (multi-probe ×2) then exact-cosine
    ≥ 0.4 within shared cells. Iterative k-means ⇒ not SQL-expressible;
    quality is driver-gated by semantic_dedup_check."""
    from uk_housing_dashboard_etl_spark.operators.ivf import semantic_near_dup

    emb = _emb_valid(spark, sf_dir)
    return semantic_near_dup(
        emb, threshold=0.4, k=8, iterations=4, n_probes=2,
        centroids=_semdedup_centroids(spark, sf_dir),
    ).select("id_a", "id_b", "cell", "cosine")


def q_semantic_dedup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle gate for the SemDeDup path: recall vs the all-pairs exact
    baseline ≥ 0.6 (measured 0.86 at sf0.01 with 2 probes), and the
    subset property — intra-cell scoring uses the same bit-exact cosine,
    so it can only prune pairs, never invent them."""
    from uk_housing_dashboard_etl_spark.operators.ivf import semantic_near_dup

    emb = _emb_valid(spark, sf_dir)
    # single full-outer pass instead of three aggregates that would each
    # re-execute the O(N²) exact subplan (see q_dedup_minhash_recall)
    exact = (
        _embexact04_truth(spark, sf_dir)
        .select("id_a", "id_b")
        .withColumn("__e", F.lit(1))
    )
    found = (
        semantic_near_dup(
            emb, threshold=0.4, k=8, iterations=4, n_probes=2,
            centroids=_semdedup_centroids(spark, sf_dir),
        )
        .select("id_a", "id_b")
        .distinct()
        .withColumn("__f", F.lit(1))
    )
    return (
        exact.join(found, ["id_a", "id_b"], "full")
        .agg(
            F.count("__e").alias("n_exact_pairs"),
            F.count(F.when(F.col("__e").isNotNull(), F.col("__f"))).alias(
                "__n_hit"
            ),
            F.count(F.when(F.col("__e").isNull(), 1)).alias("__n_false"),
        )
        .select(
            "n_exact_pairs",
            (F.col("__n_hit") / F.col("n_exact_pairs") >= 0.6).alias(
                "recall_ok"
            ),
            (F.col("__n_false") == 0).alias("no_false_positives"),
        )
    )


from contextlib import contextmanager


@contextmanager
def _stream_state_partitions(spark: SparkSession, n: int = 8):
    """Scope the shuffle-partition count (= state-store partition count,
    fixed at checkpoint creation) for a contract streaming drain.

    Every micro-batch of a stateful query schedules one task per state
    partition regardless of data volume; at contract scale (sf ≤ 0.1,
    thousands of keys) 32 state stores are pure per-batch overhead —
    dropping to 8 cuts the weekly drain 6 s → 1 s. Production callers
    use the streaming/ module directly and size this to their key space;
    this scoping only affects the fresh single-use checkpoints the
    contract queries create."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


# memo for _measured_groups: one approx_count_distinct scan per
# (sf_dir, table, key exprs) per process, amortized across every drain
# that shares the key space (user-keyed drains all reuse one count).
# Deliberately NOT invalidated on data change: the key carries no file
# fingerprint, so a process that rewrites parquet under the same
# sf_dir keeps sizing from the first scan. Acceptable because the
# count only picks a partition COUNT (clamped to the session default
# either way) — a stale count can cost a suboptimal task count for the
# rest of the process, never a wrong answer.
_GROUP_COUNT_MEMO: dict[tuple, int] = {}


def _measured_groups(
    spark: SparkSession, sf_dir: str, table: str, exprs: tuple[str, ...]
) -> int:
    """MEASURED state-key cardinality of a drain's landing table: one
    ``approx_count_distinct`` over the key expression(s), memoized per
    (sf_dir, table, exprs). This is what sizes the drain's state-store
    partition count — a measurement of the data about to stream, not a
    constant (r10 verdict item 1)."""
    key = (os.path.abspath(sf_dir), table, exprs)
    if key not in _GROUP_COUNT_MEMO:
        df = read_table(spark, sf_dir, table)
        combined = F.concat_ws(
            "\x00", *[F.expr(e).cast("string") for e in exprs]
        )
        _GROUP_COUNT_MEMO[key] = int(
            df.agg(F.approx_count_distinct(combined).alias("g")).collect()[0][
                "g"
            ]
        )
    return _GROUP_COUNT_MEMO[key]


@contextmanager
def _sized_state_partitions(
    spark: SparkSession, n_groups: int, python_stateful: bool = False
):
    """Scope the shuffle-partition count (= state-store partition count,
    fixed at checkpoint creation) for a contract streaming drain, SIZED
    FROM THE MEASURED GROUP COUNT — never a constant, so at production
    scale the session default (set to cluster width by the operator)
    always wins the clamp and state still shards across the cluster.

    Two regimes, both measured at sf0.1 this round (SCALE.md r11 note):

    - ``python_stateful`` (applyInPandasWithState): work is per-group
      Python, so parallelism is bounded by min(groups, partitions) and
      idle partitions still pay a state-store init per micro-batch.
      One partition per group up to the session default is optimal at
      every measured cardinality (5 groups → 5, 1500 groups → 32 beat
      the constant 8 by 14%).

    - JVM built-in stateful (windowed aggs, dropDuplicates,
      stream-stream joins): per-row work is vectorized and tiny, so the
      per-partition per-micro-batch overhead (state-store init + task)
      dominates until a partition's state shard is large. ~25k keys per
      shard keeps local drains at the measured optimum (the chained
      join+agg drain: 32 partitions 8.7 s → 4 partitions 2.6 s; dedup
      over 100k content keys best at 4) while a production key space
      (1e9 keys → 40k shards) clamps to the session default.
    """
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if python_stateful:
        n = max(4, min(int(n_groups), default))
    else:
        n = max(4, min(-(-int(n_groups) // 25_000), default))
    with _stream_state_partitions(spark, n):
        yield


def q_streaming_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STRUCTURED STREAMING weekly mart under the batch driver gate:
    a real streaming query (readStream → watermark → Monday-anchored
    tumbling window → stateful agg) drained synchronously with an
    AvailableNow trigger into a memory sink, hash-compared against the
    batch SQL oracle. Proves window anchoring, watermark plumbing and
    the streaming agg produce EXACTLY the batch answer — the streaming
    family's first driver-checked row (the rest are pytest-only).
    """
    import hashlib
    import tempfile
    import uuid

    from uk_housing_dashboard_etl_spark.streaming.weekly_stream import (
        run_stream_once,
        weekly_stream,
    )

    # the file stream source requires a DIRECTORY; land the parquet file
    # into one via symlink (idempotent, no data copy)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    land = os.path.join(tempfile.gettempdir(), f"spark_graft_stream_{tag}")
    os.makedirs(land, exist_ok=True)
    link = os.path.join(land, "events.parquet")
    try:  # concurrent callers may race the symlink; first one wins
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    except FileExistsError:
        pass
    sdf = weekly_stream(spark, land, deterministic_sum=True)
    groups = _measured_groups(
        spark, sf_dir, "events", ("date_trunc('week', ts)", "event_type")
    )
    with _sized_state_partitions(spark, groups):
        out = run_stream_once(sdf, query_name=f"wk_{uuid.uuid4().hex[:10]}")
    return out.select(
        "week",
        "event_type",
        "transactions",
        round4(F.col("value_mean")).alias("value_mean"),
    )


def q_streaming_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC broadcast enrichment under the driver gate: the
    event stream joins the batch customer dimension per micro-batch
    (the streaming form of the reference's J1 lookup join), then
    aggregates per (segment, event type) with the deterministic-sum
    rule. Oracle = the identical batch join+group; the stream side
    never shuffles for the join."""
    import hashlib
    import tempfile
    import uuid

    from uk_housing_dashboard_etl_spark.streaming.enrich_stream import (
        enriched_segment_stream,
    )
    from uk_housing_dashboard_etl_spark.streaming.weekly_stream import (
        run_stream_once,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    land = os.path.join(tempfile.gettempdir(), f"spark_graft_stream_{tag}")
    os.makedirs(land, exist_ok=True)
    link = os.path.join(land, "events.parquet")
    try:  # concurrent callers may race the symlink; first one wins
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    except FileExistsError:
        pass
    dim = read_table(spark, sf_dir, "customer")
    sdf = enriched_segment_stream(spark, land, dim)
    # agg grain is (segment, event_type): segment comes off the joined
    # dimension, not the stream, so measure each factor on its own
    # table and take the product as the composite-key bound (the join
    # can only shrink it) — both scans memoized like every other drain
    groups = _measured_groups(
        spark, sf_dir, "events", ("event_type",)
    ) * _measured_groups(spark, sf_dir, "customer", ("c_mktsegment",))
    with _sized_state_partitions(spark, groups):
        out = run_stream_once(sdf, query_name=f"enr_{uuid.uuid4().hex[:10]}")
    return out.select("segment", "event_type", "n_events", "value_sum")


def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming SESSION WINDOWS under the driver gate: the
    stateful merge-on-gap operator drained in append mode. Append only
    emits a session after the watermark passes its end, so the landing
    dir carries a far-future sentinel file and ``maxFilesPerTrigger=1``
    forces it into a later micro-batch — the watermark then sweeps past
    every real session, exactly how a daily relaunch closes yesterday's
    sessions. Oracle = gap-sessionization in SQL with the session-window
    boundary rule (a gap of exactly 30 min starts a NEW session: windows
    are half-open ``[start, last+gap)``)."""
    import hashlib
    import tempfile
    import uuid

    from uk_housing_dashboard_etl_spark.streaming.weekly_stream import (
        EVENTS_STREAM_SCHEMA,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    land = os.path.join(tempfile.gettempdir(), f"spark_graft_sess_{tag}")
    os.makedirs(land, exist_ok=True)
    link = os.path.join(land, "0_events.parquet")
    try:  # concurrent callers may race the symlink; first one wins
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    except FileExistsError:
        pass
    # sentinel AFTER the events link (later mtime → later micro-batch);
    # content is deterministic, so an existing one is reused as-is
    sentinel = os.path.join(land, "zz_sentinel.parquet")
    if not os.path.exists(sentinel):
        spark.createDataFrame(
            [(999_999_999, "2100-01-01 00:00:00", -1, "sentinel", 0.0, None)],
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).select(
            "event_id",
            F.to_timestamp("ts").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        ).write.mode("overwrite").parquet(sentinel)

    raw = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(land + "/*.parquet")
    )
    sess = (
        raw.where(F.col("ts").isNotNull())
        .withWatermark("ts", "0 seconds")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("sw.start").alias("session_start"), "user_id", "n_events"
        )
    )
    name = f"sess_{uuid.uuid4().hex[:10]}"
    ckpt = os.path.join(
        tempfile.gettempdir(), f"spark_graft_sess_ckpt_{uuid.uuid4().hex}"
    )
    groups = _measured_groups(spark, sf_dir, "events", ("user_id",))
    with _sized_state_partitions(spark, groups):
        q = (
            sess.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            # the uuid-fresh checkpoint is single-use; drop it so repeated
            # bench/correctness runs don't accumulate state dirs in tempdir
            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.sql(f"SELECT * FROM {name}").where(F.col("user_id") >= 0)


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup under the driver gate:
    ``dropDuplicatesWithinWatermark`` on the content hash over a document
    landing stream. WHICH duplicate survives a micro-batch is arbitrary,
    so the gated output is the emitted content-hash SET — which must
    equal SQL's DISTINCT hashes exactly."""
    import hashlib
    import tempfile
    import uuid

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from uk_housing_dashboard_etl_spark.streaming.dedup_stream import (
        dedup_documents_stream,
    )
    from uk_housing_dashboard_etl_spark.streaming.weekly_stream import (
        run_stream_once,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    land = os.path.join(tempfile.gettempdir(), f"spark_graft_ddup_{tag}")
    os.makedirs(land, exist_ok=True)
    link = os.path.join(land, "documents.parquet")
    try:
        os.symlink(os.path.join(sf_dir, "documents.parquet"), link)
    except FileExistsError:
        pass
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    raw = spark.readStream.schema(schema).parquet(land)
    docs = raw.withColumn(
        "ingest_ts", F.lit("2024-01-01 00:00:00").cast("timestamp")
    )
    dd = dedup_documents_stream(docs)
    groups = _measured_groups(spark, sf_dir, "documents", ("text",))
    with _sized_state_partitions(spark, groups):
        out = run_stream_once(
            dd, query_name=f"ddup_{uuid.uuid4().hex[:10]}", output_mode="append"
        )
    return out.select("content_hash").distinct()


def q_streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful streaming operator (applyInPandasWithState
    per-user funnel state machine) under the driver gate: one
    AvailableNow drain emits each active user's (stage, reached_at),
    which must equal the greedy strict-ordering funnel computed by the
    SQL oracle — the hardest streaming surface, now driver-checked."""
    import hashlib
    import tempfile
    import uuid

    from uk_housing_dashboard_etl_spark.streaming.funnel_stream import (
        funnel_stream,
    )
    from uk_housing_dashboard_etl_spark.streaming.weekly_stream import (
        EVENTS_STREAM_SCHEMA,
        run_stream_once,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    land = os.path.join(tempfile.gettempdir(), f"spark_graft_funl_{tag}")
    os.makedirs(land, exist_ok=True)
    link = os.path.join(land, "events.parquet")
    try:
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    except FileExistsError:
        pass
    raw = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .parquet(land)
        .where(F.col("ts").isNotNull())
    )
    s = funnel_stream(raw, ["signup", "view", "click", "purchase"])
    groups = _measured_groups(spark, sf_dir, "events", ("user_id",))
    with _sized_state_partitions(spark, groups, python_stateful=True):
        out = run_stream_once(
            s, query_name=f"funl_{uuid.uuid4().hex[:10]}", output_mode="update"
        )
    return out.select("user", "stage", "reached_at")


def q_streaming_rate_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful streaming rate cap under the driver gate: one
    AvailableNow drain assigns every event its within-(user, day)
    sequence and keep flag, which must equal the batch
    cap_events_per_key window row-for-row (same SQL oracle)."""
    import hashlib
    import tempfile
    import uuid

    from uk_housing_dashboard_etl_spark.streaming.rate_cap_stream import (
        rate_cap_stream,
    )
    from uk_housing_dashboard_etl_spark.streaming.weekly_stream import (
        EVENTS_STREAM_SCHEMA,
        run_stream_once,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    land = os.path.join(tempfile.gettempdir(), f"spark_graft_rcap_{tag}")
    os.makedirs(land, exist_ok=True)
    link = os.path.join(land, "events.parquet")
    try:
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    except FileExistsError:
        pass
    raw = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(land)
    s = rate_cap_stream(raw, max_per_day=5)
    groups = _measured_groups(spark, sf_dir, "events", ("user_id",))
    with _sized_state_partitions(spark, groups, python_stateful=True):
        out = run_stream_once(
            s, query_name=f"rcap_{uuid.uuid4().hex[:10]}", output_mode="update"
        )
    return out.select("event_id", "user_id", "ts", "day", "day_seq", "kept")


def q_streaming_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Welford stateful anomaly stream drained once. Rows-only in
    the driver (the fold's Welford floats differ from two-pass window
    aggregates in the last ulps), but no longer ORDER-ambiguous: the
    fold sorts each group by (ts, event_id), so every score is
    deterministic and row-for-row equal — to 4dp — to the batch prefix
    z-score window ``q_streaming_anomaly_check``, the hash-exact
    oracle-gated twin (r10 verdict item 3). The cross-batch state
    semantics stay pinned by tests/test_streaming.py."""
    import hashlib
    import tempfile
    import uuid

    from uk_housing_dashboard_etl_spark.streaming.stateful import (
        streaming_anomaly_scores,
    )
    from uk_housing_dashboard_etl_spark.streaming.weekly_stream import (
        EVENTS_STREAM_SCHEMA,
        run_stream_once,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    land = os.path.join(tempfile.gettempdir(), f"spark_graft_anom_{tag}")
    os.makedirs(land, exist_ok=True)
    link = os.path.join(land, "events.parquet")
    try:
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    except FileExistsError:
        pass
    raw = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .parquet(land)
        .where(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
    )
    s = streaming_anomaly_scores(raw)
    groups = _measured_groups(spark, sf_dir, "events", ("event_type",))
    with _sized_state_partitions(spark, groups, python_stateful=True):
        out = run_stream_once(
            s, query_name=f"anom_{uuid.uuid4().hex[:10]}", output_mode="append"
        )
    return out.select(
        "key", "event_id", "ts", "value", "zscore", "is_anomaly", "n_seen"
    )


def q_streaming_anomaly_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-equivalence oracle gate for the stateful anomaly drain
    (r10 verdict item 3): the drain's semantics — score each value
    against ddof=1 stats of all PRIOR values per key, in (ts, event_id)
    order, NULL values scored as unknown and excluded from the stats —
    ARE batch-SQL-expressible as prefix window aggregates, so this twin
    computes them with avg/stddev_samp/count over ``ROWS BETWEEN
    UNBOUNDED PRECEDING AND 1 PRECEDING`` and is hash-matched against
    the identical DuckDB window SQL. NULL/NaN/±Inf values score unknown
    (NULL z, NULL flag) and never enter the prefix stats on either
    engine — the batch mirror of the fold's state-poisoning guard (the
    r12 fuzz extended the r10 NULL/NaN class with ±Inf, which poisons
    Welford state just the same). z-scores are 4dp-quantized
    (``round4``) on both sides; flags/counts are exact. The drain
    itself equals this frame row-for-row on a single-batch landing —
    pinned by ``tests/test_streaming.py::
    test_streaming_anomaly_drain_equals_batch_companion``. NULL
    ``event_id`` rows are out of contract for that equality (pandas
    sorts a NULL id last in a ts tie, Spark's orderBy nulls-first —
    see the fold's docstring); the driver corpus's event_id is its
    primary key, so the boundary is unreachable on shipped data."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    base = ev.select(
        F.col("event_type").cast("string").alias("key"),
        "event_id",
        "ts",
        "value",
    )
    order = Window.partitionBy("key").orderBy("ts", "event_id")
    wp = order.rowsBetween(Window.unboundedPreceding, -1)
    wc = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # the drain scores NULL/NaN/±Inf as unknown and never folds them
    # (state poisoning — see the fold's guard); the twin mirrors that
    # by feeding the window aggregates a NULLed-out copy of the value
    # so non-finite rows leave the prefix stats on both engines
    unknown = F.col("value").isNull() | F.isnan("value") | (
        F.abs("value") >= F.lit(float("inf"))
    )
    fv = F.when(~unknown, F.col("value"))
    n_prior = F.count(fv).over(wp)
    mean_prior = F.avg(fv).over(wp)
    std_prior = F.stddev_samp(fv).over(wp)
    z_raw = (F.col("value") - mean_prior) / std_prior
    has_stats = (n_prior >= F.lit(2)) & (std_prior > F.lit(0.0))
    return base.select(
        "key",
        "event_id",
        "ts",
        "value",
        F.when(unknown, F.lit(None).cast("double"))
        .when(has_stats, round4(z_raw))
        .otherwise(F.lit(0.0))
        .alias("zscore"),
        F.when(unknown, F.lit(None).cast("boolean"))
        .when(has_stats, F.abs(z_raw) > F.lit(3.0))
        .otherwise(F.lit(False))
        .alias("is_anomaly"),
        F.count(fv).over(wc).alias("n_seen"),
    )


def q_streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermarked STREAM-STREAM JOIN under the driver gate: views
    and purchases of the same events stream joined on user + a 1-hour
    attribution bound (streaming/attribution_stream.py — both sides
    watermarked so state stays bounded by the horizon, not history).
    One AvailableNow drain lands everything in a single micro-batch, so
    the inner join must emit exactly the batch interval-join the SQL
    oracle computes — every (view, purchase) pair, bit-equal."""
    import hashlib
    import tempfile
    import uuid

    from uk_housing_dashboard_etl_spark.streaming.attribution_stream import (
        attribution_stream,
    )
    from uk_housing_dashboard_etl_spark.streaming.weekly_stream import (
        EVENTS_STREAM_SCHEMA,
        run_stream_once,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    land = os.path.join(tempfile.gettempdir(), f"spark_graft_attr_{tag}")
    os.makedirs(land, exist_ok=True)
    link = os.path.join(land, "events.parquet")
    try:  # concurrent callers may race the symlink; first one wins
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    except FileExistsError:
        pass
    raw = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .parquet(land)
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    )
    s = attribution_stream(raw, window="1 hour")
    # stream-stream join state shards on the join key (user_id): size
    # from the measured key cardinality like every other drain (reuses
    # the user-keyed memo slot, so no extra scan)
    groups = _measured_groups(spark, sf_dir, "events", ("user_id",))
    with _sized_state_partitions(spark, groups):
        out = run_stream_once(
            s, query_name=f"attr_{uuid.uuid4().hex[:10]}", output_mode="append"
        )
    return out.select("user_id", "view_ts", "buy_ts", "value")


def q_weekly_approx_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle gate for the weekly mart's documented 100 TB degradation
    path (``approx=True`` → percentile_approx for A3/A4).

    The correct guarantee for a quantile sketch is RANK error, not value
    error (the sketch returns an actual data point; linear-interpolated
    exact values can differ by any amount on skewed data): each approx
    pX must lie between the exact p(X−5) and p(X+5). Exact percentiles
    are emitted for the oracle's value-hash; the rank-window flags must
    all read TRUE."""
    enriched = _mart(spark, sf_dir)["enriched"]
    base = (
        enriched.where(F.col("local_authority").isNotNull())
        .withColumn("week", F.date_trunc("week", F.col("date")))
        # same non-finite price boundary as weekly_mart / _BASE_FIN
        # (r13 sweep: this gate recomputes the mart's percentiles, so
        # it must see the identical population)
        .withColumn(
            "price",
            F.expr(
                "CASE WHEN NOT isnan(price)"
                " AND abs(price) < CAST('Infinity' AS DOUBLE)"
                " THEN price END"
            ),
        )
        .select("week", "local_authority", "price")
    )
    g = base.groupBy("week", "local_authority").agg(
        F.percentile("price", [0.1, 0.5, 0.9]).alias("e"),
        F.percentile_approx("price", [0.1, 0.5, 0.9]).alias("a"),
        F.count("price").alias("n"),
    )
    # second pass: the TRUE rank of each approx element inside its group
    # (the sketch's contract is rank error, so the gate measures rank)
    j = base.join(F.broadcast(g), ["week", "local_authority"])
    counts = j.groupBy("week", "local_authority").agg(
        F.first("e").alias("e"),
        F.first("n").alias("n"),
        *[
            F.sum(
                F.when(F.col("price") < F.element_at("a", i), 1).otherwise(0)
            ).alias(f"lo{i}")
            for i in (1, 2, 3)
        ],
        *[
            F.sum(
                F.when(F.col("price") <= F.element_at("a", i), 1).otherwise(0)
            ).alias(f"hi{i}")
            for i in (1, 2, 3)
        ],
    )

    def rank_ok(i: int, p: float, name: str):
        # the approx element occupies ranks (lo, hi]; the window
        # [(p−ε)n, (p+ε)n] must intersect it (ε = 0.05)
        return (
            ((p - 0.05) * F.col("n") <= F.col(f"hi{i}"))
            & (F.col(f"lo{i}") <= (p + 0.05) * F.col("n"))
        ).alias(name)

    return counts.select(
        "week",
        "local_authority",
        round4(F.element_at("e", 1)).alias("exact_p10"),
        round4(F.element_at("e", 2)).alias("exact_median"),
        round4(F.element_at("e", 3)).alias("exact_p90"),
        rank_ok(1, 0.1, "p10_rank_ok"),
        rank_ok(2, 0.5, "median_rank_ok"),
        rank_ok(3, 0.9, "p90_rank_ok"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing: docs → fixed 512-token bins,
    8 hash shards packed independently (per-shard running totals)."""
    from uk_housing_dashboard_etl_spark.operators.curation import pack_sequences

    return pack_sequences(
        read_table(spark, sf_dir, "documents"), budget_tokens=512, n_shards=8
    )


def q_session_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level session distribution: session count, mean/median
    events per session, median span — the dashboard row on top of
    sessionize (sum/count exact-integer mean, exact percentiles)."""
    from uk_housing_dashboard_etl_spark.operators.sessionize import session_stats

    s = session_stats(
        read_table(spark, sf_dir, "events"),
        timeout_minutes=30.0,
        tie_cols=["event_id"],
    )
    return s.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        round4(
            F.sum("n_events").cast("double") / F.count(F.lit(1))
        ).alias("events_mean"),
        round4(F.percentile("n_events", 0.5)).alias("events_median"),
        round4(F.percentile("span_seconds", 0.5)).alias("span_median"),
    )


def q_transition_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition probabilities: event_transitions counts
    row-normalized per prev_type (window sum shares the groupBy
    partitioning — no extra exchange)."""
    from uk_housing_dashboard_etl_spark.operators.behavior import event_transitions

    t = event_transitions(read_table(spark, sf_dir, "events"))
    w = Window.partitionBy("prev_type")
    return t.select(
        "prev_type",
        "next_type",
        "transitions",
        round4(
            F.col("transitions")
            / F.sum("transitions").over(w).cast("double")
        ).alias("prob"),
    )


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the highest-quality duplicate (ties → min id)."""
    from uk_housing_dashboard_etl_spark.operators.dedup import keep_best_dedup

    return keep_best_dedup(read_table(spark, sf_dir, "documents"))


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source rebalancing (alpha=0.7): per-source
    natural size, keep rate (n_min/n)^0.3, and deterministic post-mix
    size."""
    from uk_housing_dashboard_etl_spark.operators.curation import temperature_mix

    return temperature_mix(read_table(spark, sf_dir, "documents"), alpha=0.7)


def q_salted_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted two-phase aggregation under the driver gate: per
    event_type sum/count/min/max via ``functions.skew.salted_agg``
    (hot-key rows spread over 16 salt buckets in phase 1, partials merged
    in phase 2), results identical to a plain GROUP BY — which is exactly
    what the oracle runs. The summed value is integer-scaled (1e4 units)
    so the two-phase merge is combine-order independent; non-finite
    values leave the sum like NULLs (the quantization saturates on
    Spark, raises on DuckDB — r12 fuzz class) while n_events still
    counts them on both engines."""
    from uk_housing_dashboard_etl_spark.functions.skew import salted_agg

    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "CASE WHEN NOT isnan(value)"
            " AND abs(value) < CAST('Infinity' AS DOUBLE)"
            " THEN CAST(floor(value * 10000.0 + 0.5) AS BIGINT) END"
        ).alias("iv"),
        F.col("value").alias("v"),
    )
    out = salted_agg(
        ev, ["event_type"], {"iv": "sum", "v": "count"}, salt_buckets=16
    )
    return out.select(
        "event_type",
        (F.col("sum_iv").cast("double") / 10000.0).alias("total_value"),
        F.col("count_v").alias("n_events"),
    )


def q_dedup_simhash_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle gate for SimHash banding: the pigeonhole guarantee says the
    banded join finds EVERY pair at Hamming ≤ 3, so its output must equal
    the exact all-pairs filter over the same signatures — checked on real
    corpus data, flagged for the driver. (The signatures themselves are
    xxhash-based and not SQL-expressible, hence a flag, not values.)"""
    from uk_housing_dashboard_etl_spark.operators.dedup import (
        simhash_pairs_from_signatures,
    )

    # the signature frame feeds three subplans (banded, exact a-side,
    # exact b-side): the shared parquet artifact materializes the
    # shingle+agg scan once PER SUITE (it also feeds dedup_simhash),
    # replacing the former per-query localCheckpoint
    sig = _simhash_sigs(spark, sf_dir)
    banded = (
        simhash_pairs_from_signatures(sig, max_hamming=3)
        .select("doc_a", "doc_b")
        .withColumn("__f", F.lit(1))
    )
    a = sig.alias("a")
    b = sig.alias("b")
    exact = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .where(
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            )
            <= 3
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .withColumn("__e", F.lit(1))
    )
    return (
        exact.join(banded, ["doc_a", "doc_b"], "full")
        .agg(
            F.count("__e").alias("__n_exact"),
            F.count("__f").alias("__n_banded"),
            F.count(F.when(F.col("__e").isNotNull(), F.col("__f"))).alias(
                "__n_hit"
            ),
        )
        .select(
            (
                (F.col("__n_exact") == F.col("__n_banded"))
                & (F.col("__n_hit") == F.col("__n_exact"))
            ).alias("banded_equals_exact")
        )
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs embedding cosine ≥ 0.4 (embedding-space near-dup).

    Threshold chosen to produce verifiable pairs on the synthetic
    embeddings (max pairwise cosine ≈ 0.51)."""
    return embedding_near_dup(_emb_valid(spark, sf_dir), threshold=0.4)


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label vote (auto-labeling): exact cosine top-10 against the
    labeled corpus, majority label wins, smaller label breaks ties."""
    from uk_housing_dashboard_etl_spark.operators.similarity import knn_classify

    emb = _emb_valid(spark, sf_dir)
    corpus = emb.where(F.col("vec_id") >= 100)
    qs = emb.where(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return knn_classify(corpus, qs, k=10)


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding, one row per (label, dimension) —
    integer-unit sums so the mean is combine-order independent."""
    from uk_housing_dashboard_etl_spark.operators.similarity import label_centroids

    return label_centroids(_emb_valid(spark, sf_dir))


def q_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-count decile banding per LA (deterministic ntile over a
    total order), rolled to per-(LA, decile) count + mean price."""
    from uk_housing_dashboard_etl_spark.operators.relational import price_deciles

    return price_deciles(_mart(spark, sf_dir)["enriched"])


def q_lapsed_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT-shape churn report: parts shipped in 1996H1 but not
    1996H2, counted per brand."""
    from uk_housing_dashboard_etl_spark.operators.relational import (
        lapsed_parts_by_brand,
    )

    return lapsed_parts_by_brand(
        read_table(spark, sf_dir, "lineitem"), read_table(spark, sf_dir, "part")
    )


def q_robust_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust anomaly flags on the weekly mart (outlier-
    resistant companion to the reference's mean/stddev z-score)."""
    from uk_housing_dashboard_etl_spark.operators.anomaly import robust_anomalies

    return robust_anomalies(
        _mart(spark, sf_dir)["weekly_by_la"].select(
            "week", "local_authority", "transactions"
        )
    )


def q_top_parts_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k: each nation's 3 highest-revenue parts (rank window
    over the aggregated frame, ties broken on the part key)."""
    from uk_housing_dashboard_etl_spark.operators.relational import (
        top_parts_per_nation,
    )

    return top_parts_per_nation(
        read_table(spark, sf_dir, "lineitem"),
        read_table(spark, sf_dir, "supplier"),
        read_table(spark, sf_dir, "nation"),
        k=3,
    )


def q_modal_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-LA mode of property type (count desc, then
    lexicographic tie-break — not the engine's arbitrary mode())."""
    from uk_housing_dashboard_etl_spark.operators.relational import (
        modal_type_per_la,
    )

    return modal_type_per_la(_mart(spark, sf_dir)["enriched"])


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation mart: filter funnel -> exact dedup keeping the
    canonical doc -> per-(lang, source) dataset-card inventory."""
    from uk_housing_dashboard_etl_spark.operators.curation import curate_corpus

    return curate_corpus(read_table(spark, sf_dir, "documents"))


def q_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers ordering in both 1995 and 1996 — each side
    partial-distincts map-side before the exchange."""
    from uk_housing_dashboard_etl_spark.operators.relational import (
        repeat_customers,
    )

    return repeat_customers(read_table(spark, sf_dir, "orders"))


def q_supplier_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global percent_rank/cume_dist over per-supplier revenue — the
    total-order window runs on the aggregated dimension-sized frame."""
    from uk_housing_dashboard_etl_spark.operators.relational import (
        supplier_percentile,
    )

    return supplier_percentile(read_table(spark, sf_dir, "lineitem"))


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota (Dolma/C4-style domain cap): top-10 docs per
    source by quality, salted two-phase exact top-k for skew safety."""
    from uk_housing_dashboard_etl_spark.operators.curation import source_cap

    return source_cap(read_table(spark, sf_dir, "documents"), cap=10)


# ------------------------------------------ extension: funnels / cohorts


FUNNEL_STEPS = ["signup", "view", "click", "purchase"]


def q_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict sequential conversion funnel over events — one shuffle
    total (per-user ordered fold), vs the naive per-step join cascade."""
    from uk_housing_dashboard_etl_spark.operators.funnel import funnel_steps

    ev = read_table(spark, sf_dir, "events")
    return funnel_steps(ev, FUNNEL_STEPS)


def q_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week cohort retention (distinct actives self-joined on
    the following week, co-partitioned on the same key)."""
    from uk_housing_dashboard_etl_spark.operators.funnel import weekly_retention

    ev = read_table(spark, sf_dir, "events")
    return weekly_retention(ev)


# ------------------------------------------ extension: text analysis


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc length/token/punct/stopword statistics."""
    return text_stats(read_table(spark, sf_dir, "documents"))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite 0-1 quality heuristic."""
    return quality_score(read_table(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language prediction with fixed tie order."""
    return lang_id(read_table(spark, sf_dir, "documents"))


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 word bigrams (deterministic frequency rank)."""
    from uk_housing_dashboard_etl_spark.operators.text_analysis import top_ngrams

    return top_ngrams(read_table(spark, sf_dir, "documents"), n=2, k=50)


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling hash per document."""
    return doc_fingerprint(read_table(spark, sf_dir, "documents"))


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (deterministic 4dp-then-rank cut)."""
    from uk_housing_dashboard_etl_spark.operators.text_analysis import (
        tfidf_top_terms,
    )

    return tfidf_top_terms(read_table(spark, sf_dir, "documents"), k=5)


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of trigrams unique to that doc across the corpus."""
    from uk_housing_dashboard_etl_spark.operators.text_analysis import (
        ngram_novelty,
    )

    return ngram_novelty(read_table(spark, sf_dir, "documents"), n=3)


def q_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality signals: per-doc Shannon entropy + corpus-LM
    cross-entropy (ln perplexity) — the model-free CCNet-style filter."""
    from uk_housing_dashboard_etl_spark.operators.text_analysis import lm_scores

    return lm_scores(read_table(spark, sf_dir, "documents"))


def q_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scores: avg log-likelihood ratio of a target-domain
    unigram LM (docs from src0, add-one smoothed) vs the corpus LM."""
    from uk_housing_dashboard_etl_spark.operators.text_analysis import dsir_scores

    return dsir_scores(
        read_table(spark, sf_dir, "documents"), F.col("source") == "src0"
    )


def q_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR Gumbel-top-k selection: 100 docs sampled ∝ exp(dsir_score)
    with derandomized (id-hash) Gumbel noise — reproducible across
    runs and engines."""
    from uk_housing_dashboard_etl_spark.operators.curation import (
        importance_resample,
    )

    return importance_resample(
        read_table(spark, sf_dir, "documents"),
        F.col("source") == "src0",
        k=100,
    )


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval leakage guard: per-train-doc near-dup flags against
    the val/test splits (exact Jaccard >= 0.5, hash split 10/10)."""
    from uk_housing_dashboard_etl_spark.operators.curation import (
        split_leakage,
    )

    return split_leakage(read_table(spark, sf_dir, "documents"))


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style profile of the events table: per-column row/null/
    exact-distinct counts and 4dp fractions, long format."""
    from uk_housing_dashboard_etl_spark.operators.stats import table_profile

    return table_profile(read_table(spark, sf_dir, "events"))


def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average event value per user (each observation
    weighted by its holding interval, exact integer-unit arithmetic)."""
    from uk_housing_dashboard_etl_spark.operators.timeseries import (
        time_weighted_mean,
    )

    return time_weighted_mean(read_table(spark, sf_dir, "events"))


def q_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicted orders x lineitem join size from per-key counts —
    matched keys, exact output rows, amplification factor."""
    from uk_housing_dashboard_etl_spark.operators.stats import (
        join_cardinality,
    )

    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey")
    )
    lineitem = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey")
    )
    return join_cardinality(orders, lineitem, ["orderkey"])


def q_funnel_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert between adjacent funnel stages (strict greedy
    semantics, exact median/p90 of elapsed seconds)."""
    from uk_housing_dashboard_etl_spark.operators.funnel import (
        funnel_timing,
    )

    return funnel_timing(
        read_table(spark, sf_dir, "events"),
        ["signup", "view", "click", "purchase"],
    )


def q_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of value vs days-since-epoch (exact
    decimal moment sums, 4dp slope/intercept)."""
    from uk_housing_dashboard_etl_spark.operators.stats import grouped_slope

    events = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
    )
    x = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    return grouped_slope(events, ["event_type"], x, F.col("value"))


def q_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 word pairs by document-cooccurrence PMI (min support 5,
    total PMI-desc/pair ordering)."""
    from uk_housing_dashboard_etl_spark.operators.text_analysis import (
        pmi_pairs,
    )

    return pmi_pairs(read_table(spark, sf_dir, "documents"))


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination: corpus vectors (vec_id % 10 != 0)
    flagged by max cosine vs the eval split (vec_id % 10 == 0)."""
    from uk_housing_dashboard_etl_spark.operators.similarity import (
        semantic_decontaminate,
    )

    emb = _emb_valid(spark, sf_dir)
    return semantic_decontaminate(
        emb.where(F.col("vec_id") % 10 != 0),
        emb.where(F.col("vec_id") % 10 == 0),
        threshold=0.4,
    )


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift of event value per type: first 15 days (reference) vs
    the rest, reference-decile buckets, add-one smoothing."""
    from uk_housing_dashboard_etl_spark.operators.stats import psi_drift

    events = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
    )
    return psi_drift(
        events,
        ["event_type"],
        "value",
        F.col("ts") < F.lit("2024-01-16").cast("timestamp"),
    )


def q_attribution_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase splits one credit
    unit equally over the touches since the previous purchase."""
    from uk_housing_dashboard_etl_spark.operators.behavior import (
        attribution_credit,
    )

    return attribution_credit(read_table(spark, sf_dir, "events"))


def q_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row embedding-store health profile: counts, dim consistency,
    NaN/zero-norm tallies, exact norm percentiles."""
    from uk_housing_dashboard_etl_spark.operators.similarity import (
        embedding_health,
    )

    return embedding_health(read_table(spark, sf_dir, "embeddings"))


def q_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: first-active week x week offset,
    active counts and 4dp retention fractions."""
    from uk_housing_dashboard_etl_spark.operators.funnel import (
        cohort_matrix,
    )

    return cohort_matrix(read_table(spark, sf_dir, "events"), max_offset=8)


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 BPE merge candidates: corpus-weighted adjacent character
    pair counts inside words (count-desc, pair tie-break)."""
    from uk_housing_dashboard_etl_spark.operators.text_analysis import (
        bpe_merge_candidates,
    )

    return bpe_merge_candidates(read_table(spark, sf_dir, "documents"))


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair 3-gram Jaccard/containment matrix — the dataset-card
    cross-source contamination diagnostic."""
    from uk_housing_dashboard_etl_spark.operators.text_analysis import (
        source_overlap,
    )

    return source_overlap(read_table(spark, sf_dir, "documents"), n=3)


BM25_QUERY_TERMS = ["spark", "filter", "window"]


def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-50 docs for a fixed probe query (deterministic
    4dp-round-then-rank cut, doc_id tie-break)."""
    from uk_housing_dashboard_etl_spark.operators.text_analysis import (
        bm25_scores,
    )

    return bm25_scores(
        read_table(spark, sf_dir, "documents"), BM25_QUERY_TERMS, k=50
    )


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails/phones/IPv4 → typed tags) + per-doc counts."""
    from uk_housing_dashboard_etl_spark.operators.curation import redact_pii

    return redact_pii(read_table(spark, sf_dir, "documents"))


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% corpus sample via multiplicative id hashing."""
    from uk_housing_dashboard_etl_spark.operators.curation import hash_sample

    return hash_sample(
        read_table(spark, sf_dir, "documents"), "doc_id", percent=10
    ).select("doc_id", "n_chars")


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k length-weighted sample (A-ES, k=500): longer documents
    proportionally likelier, membership deterministic. The oracle ranks
    by the identical u^(1/w) key expression; both engines' top-500 sets
    must match exactly."""
    from uk_housing_dashboard_etl_spark.operators.curation import (
        weighted_sample,
    )

    return weighted_sample(
        read_table(spark, sf_dir, "documents"), "doc_id", "n_chars", k=500
    ).select("doc_id", "n_chars")


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable train/val/test assignment summary (80/10/10 by id hash)."""
    from uk_housing_dashboard_etl_spark.operators.curation import split_summary

    return split_summary(read_table(spark, sf_dir, "documents"), "doc_id")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing: keep 25% of dominant 'en' docs, 50% of every
    other language (deterministic per-stratum hash sampling)."""
    from uk_housing_dashboard_etl_spark.operators.curation import (
        stratified_sample,
    )

    return stratified_sample(
        read_table(spark, sf_dir, "documents"),
        "doc_id",
        "lang",
        rates={"en": 25},
        default_percent=50,
    ).select("doc_id", "lang", "n_chars")


def q_corpus_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (lang, source) corpus inventory: doc counts + char volumes
    across the full subtotal lattice (the dataset-card mart)."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.cube("lang", "source")
        .agg(
            F.grouping("lang").cast("int").alias("g_lang"),
            F.grouping("source").cast("int").alias("g_source"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .select(
            "lang", "source", "g_lang", "g_source",
            "n_docs", "total_chars", "min_chars", "max_chars",
        )
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-leakage guard: per-doc count of distinct word 3-grams shared
    with a benchmark set (a deterministic 5% hash-sample stands in for
    the eval suite), ≥5 shared grams ⇒ contaminated."""
    from uk_housing_dashboard_etl_spark.operators.curation import (
        decontaminate,
        hash_sample,
    )

    docs = read_table(spark, sf_dir, "documents")
    bench = hash_sample(docs, "doc_id", percent=5)
    return decontaminate(docs, bench, n=3, threshold=5)


def q_decontaminate_bloom_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle gate for the Bloom-filter decontamination scale path: the
    bitmap has no false negatives, so every exactly-contaminated doc
    must be bloom-contaminated and every doc's bloom_hits must dominate
    its exact ngram_hits. The oracle recomputes the exact contaminated
    count and expects both containment flags TRUE — a Bloom sizing or
    probe regression flips a flag and fails the value-hash."""
    from uk_housing_dashboard_etl_spark.operators.curation import (
        decontaminate,
        decontaminate_bloom,
        hash_sample,
    )

    docs = read_table(spark, sf_dir, "documents")
    bench = hash_sample(docs, "doc_id", percent=5)
    exact = decontaminate(docs, bench, n=3, threshold=5)
    bloom = decontaminate_bloom(docs, bench, n=3, threshold=5).select(
        "doc_id",
        F.col("bloom_hits"),
        F.col("contaminated").alias("bloom_contaminated"),
    )
    j = exact.join(bloom, "doc_id")
    return j.agg(
        F.sum(F.when(F.col("contaminated"), 1).otherwise(0))
        .cast("long")
        .alias("n_exact_contaminated"),
        (
            F.sum(
                F.when(
                    F.col("contaminated") & ~F.col("bloom_contaminated"), 1
                ).otherwise(0)
            )
            == 0
        ).alias("no_false_negatives"),
        (
            F.sum(
                F.when(F.col("bloom_hits") < F.col("ngram_hits"), 1).otherwise(0)
            )
            == 0
        ).alias("hits_superset_ok"),
    )


def q_dedup_ngram_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-shingle-capped Jaccard path under the full SQL oracle:
    shingles with document frequency > 5 are dropped before the
    self-join (the bound that keeps one boilerplate shingle from gluing
    a 100 TB corpus into one 10¹²-row join); the oracle applies the same
    df filter, so the capped semantics — not just the exact mode — are
    driver-verified."""
    return ngram_jaccard_pairs(
        read_table(spark, sf_dir, "documents"), max_shingle_df=5
    )


def q_simjoin_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join via prefix filtering (AllPairs/
    PPJoin): all shingle-set Jaccard >= 0.8 pairs, joining only on each
    doc's rarest (1-t) fraction of shingles. Unlike the df-capped path
    (lossy) and MinHash (probabilistic) this is exact AND complete —
    the brute-force oracle hash-match is the completeness proof."""
    from uk_housing_dashboard_etl_spark.operators.simjoin import (
        set_similarity_join,
    )

    return set_similarity_join(
        read_table(spark, sf_dir, "documents"), threshold=0.8
    )


def q_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style positional duplication coverage (Lee et al.
    2022): per-doc fraction of token positions covered by a word 5-gram
    occurring >= 2x corpus-wide."""
    from uk_housing_dashboard_etl_spark.operators.dedup import (
        dup_span_stats,
    )

    return dup_span_stats(
        read_table(spark, sf_dir, "documents"), k=5, hash_shingles=False
    )


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail: per-language ntile(3) over unigram-LM
    cross-entropy (4dp-rounded, doc_id tie-break)."""
    from uk_housing_dashboard_etl_spark.operators.text_analysis import (
        perplexity_buckets,
    )

    return perplexity_buckets(read_table(spark, sf_dir, "documents"))


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 heaviest event keys (user_id) with share + cumulative
    share — the pre-shuffle skew diagnostic."""
    from uk_housing_dashboard_etl_spark.operators.stats import heavy_hitters

    return heavy_hitters(read_table(spark, sf_dir, "events"), ["user_id"])


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row shuffle-key skew profile of events.user_id: key/row
    counts, max key size, exact p50/p90/p99 of per-key sizes, max/mean
    skew factor."""
    from uk_housing_dashboard_etl_spark.operators.stats import (
        key_skew_summary,
    )

    return key_skew_summary(read_table(spark, sf_dir, "events"), ["user_id"])


def q_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-key layout cells over events (user_id x days-since-epoch):
    per z>>10 cell, row count and z min/max — verifies the interleave
    bit math the z-ordered writer clusters files by."""
    from uk_housing_dashboard_etl_spark.sources.layout import zorder_value

    events = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & (F.col("user_id") >= 0)
    )
    z = zorder_value(
        F.col("user_id"),
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")),
    )
    return (
        events.select(z.alias("z"))
        .groupBy(F.shiftright("z", 10).alias("cell"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("z").alias("z_min"),
            F.max("z").alias("z_max"),
        )
    )


def _parity_split(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(index, new-batch) halves of the documents table by doc_id parity
    — the stand-in for (historical corpus, daily ingest)."""
    return (
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: the odd-id half of documents checked
    against a dedup index built from the even-id half. Exposes the
    SQL-expressible exact flags; the MinHash near-dup flag is gated by
    incremental_near_gate."""
    from uk_housing_dashboard_etl_spark.operators.dedup import (
        build_dedup_index,
        dedup_against_index,
    )

    index, new = _parity_split(read_table(spark, sf_dir, "documents"))
    hashes, bands = build_dedup_index(index)
    return dedup_against_index(new, hashes, bands).select(
        "doc_id", "content_hash", "exact_dup_in_index", "exact_dup_in_batch"
    )


def q_incremental_near_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle gate for the incremental near-dup flag: every new-batch
    doc with an exact-Jaccard >= 0.2 partner in the index half must be
    flagged near_dup_in_index at >= 0.6 recall (the same S-curve bound
    as dedup_minhash_recall); n_truth is recomputed by the oracle."""
    from uk_housing_dashboard_etl_spark.operators.dedup import (
        build_dedup_index,
        dedup_against_index,
    )

    docs = read_table(spark, sf_dir, "documents")
    index, new = _parity_split(docs)
    hashes, bands = build_dedup_index(index)
    flags = dedup_against_index(new, hashes, bands).select(
        "doc_id", "near_dup_in_index"
    )
    cross = _jaccard02_truth(spark, sf_dir).where(
        (F.col("doc_a") % 2) != (F.col("doc_b") % 2)
    )
    truth = cross.select(
        F.when(F.col("doc_a") % 2 == 1, F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("doc_id")
    ).distinct()
    return (
        truth.join(flags, "doc_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.count(F.when(F.col("near_dup_in_index"), 1)).alias("__n_hit"),
        )
        .select(
            "n_truth",
            (F.col("__n_hit") / F.col("n_truth") >= 0.6).alias("recall_ok"),
        )
    )


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD intervals over the event log: one half-open validity
    interval per (user, event_type run), totally ordered by
    (ts, event_id)."""
    from uk_housing_dashboard_etl_spark.operators.incremental import (
        scd2_history,
    )

    return scd2_history(read_table(spark, sf_dir, "events"))


def q_debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce dedup flags: an event is a dup when the same
    (user, type) fired within the previous 10 minutes (chained-lag
    semantics, (ts, event_id) total order)."""
    from uk_housing_dashboard_etl_spark.operators.behavior import (
        debounce_events,
    )

    return debounce_events(read_table(spark, sf_dir, "events"))


def q_cap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily rate cap: day_seq rank and kept flag at
    max 5 events/user/day, earliest first."""
    from uk_housing_dashboard_etl_spark.operators.behavior import (
        cap_events_per_key,
    )

    return cap_events_per_key(read_table(spark, sf_dir, "events"))


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff: old = ids % 4 != 3, new = ids % 4 != 0 with
    ids % 10 == 5 perturbed — exercises all four statuses
    (added / removed / changed / unchanged) deterministically."""
    from uk_housing_dashboard_etl_spark.operators.curation import (
        snapshot_diff,
    )

    docs = read_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 4 != 3)
    new = docs.where(F.col("doc_id") % 4 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 5,
            F.concat(F.col("text"), F.lit(" "), F.col("lang")),
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new)


def q_user_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered action sequence (space-joined, most recent
    last), recency-truncated to 32 events."""
    from uk_housing_dashboard_etl_spark.operators.behavior import (
        user_sequences,
    )

    return user_sequences(read_table(spark, sf_dir, "events"), max_len=32)


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-style chunker: 64-token windows, 16-token overlap,
    stable chunk ids + md5 per chunk."""
    from uk_housing_dashboard_etl_spark.operators.text_analysis import (
        chunk_documents,
    )

    return chunk_documents(read_table(spark, sf_dir, "documents"))


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-style symmetric quantization of the embedding store; code
    sums/extrema + max dequant error verify code-level parity without
    list-typed hash compares."""
    from uk_housing_dashboard_etl_spark.operators.similarity import (
        quantize_embeddings,
    )

    q = quantize_embeddings(_emb_valid(spark, sf_dir))
    return q.select(
        "vec_id",
        "scale",
        "max_err",
        F.aggregate(
            "codes", F.lit(0).cast("bigint"), lambda acc, c: acc + c
        ).alias("sum_codes"),
        F.array_min("codes").alias("min_code"),
        F.array_max("codes").alias("max_code"),
    )


def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-length histogram (width-10 bins): the dataset-card
    length distribution."""
    docs = read_table(spark, sf_dir, "documents")
    # array_remove mirrors the oracle's list_filter: empty doc = 0 tokens
    toks = F.array_remove(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), ""
    )
    binned = docs.select(
        (F.floor(F.size(toks) / 10) * 10).alias("bin_start"),
        F.size(toks).alias("__n"),
    )
    return binned.groupBy("bin_start").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__n").alias("total_tokens"),
    )


def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style keep/drop funnel: length, quality, repetition and
    language rules in one row-local pass; first failing rule recorded."""
    from uk_housing_dashboard_etl_spark.operators.text_analysis import (
        filter_funnel,
    )

    return filter_funnel(read_table(spark, sf_dir, "documents"))


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repeated-2-gram / repeated-token ratios + Gopher-style
    repetitive flag."""
    from uk_housing_dashboard_etl_spark.operators.text_analysis import (
        repetition_stats,
    )

    return repetition_stats(read_table(spark, sf_dir, "documents"))


# -------------------------------------------- extension: multimodal


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata mart (JVM-only path over opaque bytes)."""
    return media_metadata(
        attach_binary_payload(read_table(spark, sf_dir, "documents"))
    )


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode plumbing with deterministic fake codec
    (schema/batch shape is the contract; no SQL oracle).

    The pixel array is projected to a deterministic md5-of-json digest:
    the driver's rows-only canonicalizer sorts/hashes every column and
    cannot handle raw array<double> cells (r2 ERR), and the full pixel
    values are already oracle-checked by ``multimodal_decode_check``.
    """
    media = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    dec = decode_images(media, fake=True)
    return dec.select(
        "doc_id",
        "format",
        "width",
        "height",
        F.size("pixels").alias("n_pixels"),
        F.md5(F.to_json(F.col("pixels"))).alias("pixels_md5"),
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads (stubbed
    vision kernel, real mapInPandas plumbing; no SQL oracle).

    The feature vector is digested to md5-of-json for the same reason
    as ``q_multimodal_decode`` — no array columns may reach the driver's
    canonicalizer; ``multimodal_features_check`` oracle-checks the
    vector's norm value-exactly.
    """
    from uk_housing_dashboard_etl_spark.operators.multimodal import (
        extract_features,
    )

    media = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    feats = extract_features(media, fake=True)
    return feats.select(
        "doc_id",
        "format",
        F.size("feature").alias("feat_dim"),
        F.md5(F.to_json(F.col("feature"))).alias("feature_md5"),
        round4(F.col("feat_norm").cast("double")).alias("feat_norm"),
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride frame sampling fan-out over binary payloads (JVM-side).

    Emits per-frame length AND content md5 — the driver's oracle
    recomputes both from char slices (the corpus is ASCII, so char
    offsets == byte offsets), making the binary fan-out fully checked
    without a binary column in the compared output.
    """
    media = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    return sample_frames(media).select(
        "doc_id",
        "frame_idx",
        F.octet_length("frame_payload").alias("frame_len"),
        F.md5("frame_payload").alias("frame_md5"),
    )


def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio features over binary payloads (fake byte-sample mode for
    the contract corpus; the real WAV decode path is pytest-verified
    against generated sine fixtures — rows-only here, float kernels)."""
    from uk_housing_dashboard_etl_spark.operators.multimodal import audio_features

    media = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    return audio_features(media, fake=True)


def _audio_digest_schema():
    from pyspark.sql.types import LongType, StructField, StructType

    return StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_samples", LongType()),
            StructField("sum_sq", LongType()),
            StructField("crossings", LongType()),
        ]
    )


_AUDIO_DIGEST_SCHEMA = _audio_digest_schema()


def _audio_digest_batches(it):
    """Arrow kernel of the audio gate: exact integer digests of the
    byte→sample convention (centered uint8), re-derived INDEPENDENTLY of
    ``audio_features`` — module-level so the contaminated-frame coupling
    test can run it on a frame of its own making."""
    import numpy as np
    import pandas as pd

    for pdf in it:
        rows = []
        for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
            # NULL payload -> null digest row, same per-row degradation
            # rule as the audio_features kernel (bytes(None) would
            # crash the whole Arrow batch)
            if p is None:
                rows.append((int(doc_id), None, None, None))
                continue
            b = np.frombuffer(bytes(p), dtype=np.uint8).astype(np.int64)
            d = b - 128
            neg = d < 0
            rows.append(
                (
                    int(doc_id),
                    len(b),
                    int((d * d).sum()),
                    int((neg[1:] != neg[:-1]).sum()) if len(b) > 1 else 0,
                )
            )
        yield pd.DataFrame(
            rows, columns=["doc_id", "n_samples", "sum_sq", "crossings"]
        )


def q_multimodal_audio_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle gate for the audio byte→sample convention: exact integer
    digests (sum of squared centered bytes, sign-crossing count) that
    DuckDB recomputes from hex-extracted payload bytes — no float drift
    possible, the same Arrow batch path as the feature kernel.

    DELIBERATELY closure-independent of ``audio_features``: this gate
    re-derives the byte→sample convention from scratch, so it vouches
    for the CONVENTION (centered uint8 samples), not for the operator's
    code — an operator bug can't auto-green its own gate. The coupling
    is pinned the other way by ``tests/test_properties.py::
    test_audio_gate_and_operator_agree_on_contaminated_frame``, which
    runs both on the same NULL-contaminated frame and checks the
    digest↔feature identities (rms² = sum_sq/n/128², zcr = crossings/
    (n−1)) plus null-row alignment."""
    media = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    return media.mapInPandas(_audio_digest_batches, _AUDIO_DIGEST_SCHEMA)


def q_multimodal_decode_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar digest of the deterministic decode output — pixel checksum
    plus first/last pixel — so the mapInPandas decode kernel is
    value-checked by the oracle (the pixel array itself stays out of the
    compared schema; byte/256 values are exact binary fractions, so the
    double-sum is bit-exact cross-engine)."""
    media = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    dec = decode_images(media, fake=True, thumb=4)
    px = F.col("pixels").cast("array<double>")
    return dec.select(
        "doc_id",
        "format",
        "width",
        "height",
        round4(
            F.aggregate(px, F.lit(0.0), lambda acc, x: acc + x)
        ).alias("pixel_checksum"),
        round4(F.element_at(px, 1)).alias("first_pixel"),
        round4(F.element_at(px, 16)).alias("last_pixel"),
    )


def q_multimodal_features_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar digest of the Arrow-batched feature extraction: the L2
    norm of the folded byte-histogram feature, recomputed independently
    by the oracle from the payload bytes (hex-extracted), float32-cast on
    both sides."""
    from uk_housing_dashboard_etl_spark.operators.multimodal import (
        extract_features,
    )

    media = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    feats = extract_features(media, fake=True, dim=16)
    return feats.select(
        "doc_id",
        "format",
        round4(F.col("feat_norm").cast("double")).alias("feat_norm"),
    )


# ------------------------------------------------------- oracle SQL

# Shared CTE chain mirroring the pipeline. Kept UNROUNDED internally;
# each query's final SELECT rounds the computed-float columns to ROUND_DP.
# The weekly CTE's FROM clause is a format slot ({weekly_from}): the
# plain registry reads `enriched` directly; the _FIN variant wraps it
# so non-finite prices become NULL before any aggregation. A shared
# template (r13 advice) replaces the old exact-whitespace str.replace
# surgery, which silently depended on the anchor text staying unique
# and untouched by reformatting.
_BASE_TMPL = """
WITH lookup AS (
    SELECT CAST(c_custkey AS VARCHAR) AS key, n_name AS local_authority
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_custkey % 7 <> 3
), enriched AS (
    SELECT e.ts AS date,
           e.event_id AS transaction_id,
           e.value AS price,
           CAST(e.user_id AS VARCHAR) AS key,
           lower(trim(CAST(e.event_type AS VARCHAR))) AS prop_type,
           l.local_authority
    FROM events e
    LEFT JOIN lookup l ON CAST(e.user_id AS VARCHAR) = l.key
    WHERE e.ts IS NOT NULL
), weekly AS (
    SELECT date_trunc('week', date) AS week,
           local_authority,
           count(DISTINCT transaction_id) AS transactions,
           (CAST(sum(CAST(round(price * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0) / count(price) AS price_mean,
           median(price) AS price_median,
           quantile_cont(price, 0.1) AS price_p10,
           quantile_cont(price, 0.9) AS price_p90
    FROM {weekly_from}
    WHERE local_authority IS NOT NULL
    GROUP BY 1, 2
), grid AS (
    SELECT w.week, l.local_authority
    FROM (SELECT unnest(generate_series((SELECT min(week) FROM weekly),
                                        (SELECT max(week) FROM weekly),
                                        INTERVAL 7 DAY)) AS week) w
    CROSS JOIN (SELECT DISTINCT local_authority FROM weekly
                WHERE local_authority IS NOT NULL) l
), dense AS (
    SELECT g.week, g.local_authority,
           CAST(coalesce(t.transactions, 0) AS BIGINT) AS transactions,
           t.price_mean, t.price_median, t.price_p10, t.price_p90
    FROM grid g LEFT JOIN weekly t USING (week, local_authority)
), rolled AS (
    SELECT week, local_authority, transactions,
           CAST(sum(transactions) OVER (PARTITION BY local_authority ORDER BY week
                ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS rolling_trans,
           price_mean,
           (CAST(sum(CAST(round(price_mean * 10000.0) AS BIGINT))
                 OVER (PARTITION BY local_authority ORDER BY week
                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) / 10000.0)
               / count(price_mean) OVER (PARTITION BY local_authority ORDER BY week
                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS rolling_price_mean,
           4 AS window_weeks
    FROM dense
    UNION ALL
    SELECT week, local_authority, transactions,
           CAST(sum(transactions) OVER (PARTITION BY local_authority ORDER BY week
                ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS BIGINT) AS rolling_trans,
           price_mean,
           (CAST(sum(CAST(round(price_mean * 10000.0) AS BIGINT))
                 OVER (PARTITION BY local_authority ORDER BY week
                       ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS DOUBLE) / 10000.0)
               / count(price_mean) OVER (PARTITION BY local_authority ORDER BY week
                       ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS rolling_price_mean,
           12 AS window_weeks
    FROM dense
), scored AS (
    SELECT week, local_authority, transactions, rolling_trans, price_mean,
           rolling_price_mean, window_weeks,
           CASE WHEN coalesce(stddev_samp(transactions) OVER zw, 0) = 0 THEN 0.0
                ELSE (transactions - avg(transactions) OVER zw)
                     / stddev_samp(transactions) OVER zw END AS z_transactions,
           CASE WHEN coalesce(stddev_samp(rolling_trans) OVER zw, 0) = 0 THEN 0.0
                ELSE (rolling_trans - avg(rolling_trans) OVER zw)
                     / stddev_samp(rolling_trans) OVER zw END AS z_rolling_trans
    FROM rolled
    WINDOW zw AS (PARTITION BY local_authority)
)
"""

_BASE = _BASE_TMPL.format(weekly_from="enriched")

# _BASE with the weekly CTE's price guarded finite — the oracle twin
# of weekly_mart's r13 non-finite boundary (registry-wide adversarial
# sweep: one NaN/±Inf price crashed the deterministic mean's bigint
# quantization on BOTH engines and would skew the exact percentiles
# engine-dependently). Consumers: exactly the mart-chain oracles whose
# Spark side flows through operators.weekly.weekly_mart, plus
# sql_weekly_by_la (aliased to weekly_by_la's). Count-only consumers
# (type_breakdown, coverage_report, robust_anomalies, modal_type,
# qa_metrics, clean_transactions's raw passthrough) stay on _BASE —
# they never aggregate price, so the guard would only stale them.
_BASE_FIN = _BASE_TMPL.format(
    weekly_from=(
        "(SELECT date, transaction_id, local_authority,\n"
        "                 CASE WHEN isfinite(price) THEN price END AS price\n"
        "          FROM enriched)"
    )
)

ORACLES: dict[str, str] = {
    "clean_transactions": _BASE
    + """
    SELECT date, transaction_id, price, key, prop_type FROM enriched
    """,
    "weekly_by_la": _BASE_FIN
    + """
    SELECT week, local_authority, transactions,
           round(price_mean, 4) AS price_mean,
           round(price_median, 4) AS price_median,
           round(price_p10, 4) AS price_p10,
           round(price_p90, 4) AS price_p90
    FROM weekly
    """,
    "type_breakdown": _BASE
    + """
    SELECT date_trunc('week', date) AS week, local_authority, prop_type,
           count(*) AS count
    FROM enriched
    WHERE local_authority IS NOT NULL AND prop_type IS NOT NULL
    GROUP BY 1, 2, 3
    """,
    "robust_anomalies": _BASE
    + """
    , med AS (
        SELECT local_authority, median(CAST(transactions AS DOUBLE)) AS med
        FROM weekly GROUP BY 1
    ), madt AS (
        SELECT w.local_authority,
               median(abs(CAST(w.transactions AS DOUBLE) - m.med)) AS mad
        FROM weekly w JOIN med m USING (local_authority) GROUP BY 1
    )
    SELECT w.week, w.local_authority, w.transactions,
           round(m.med, 4) AS med, round(d.mad, 4) AS mad,
           round(CASE WHEN d.mad = 0.0 THEN 0.0
                      ELSE 0.6745 * (CAST(w.transactions AS DOUBLE) - m.med) / d.mad
                 END, 4) AS robust_z,
           abs(round(CASE WHEN d.mad = 0.0 THEN 0.0
                      ELSE 0.6745 * (CAST(w.transactions AS DOUBLE) - m.med) / d.mad
                 END, 4)) > 3.5 AS anomaly_robust
    FROM weekly w
    JOIN med m USING (local_authority)
    JOIN madt d USING (local_authority)
    """,
    "modal_type": _BASE
    + """
    , tcounts AS (
        SELECT local_authority, prop_type, count(*) AS n
        FROM enriched
        WHERE local_authority IS NOT NULL AND prop_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT local_authority, prop_type AS modal_type, n AS n_sales FROM (
        SELECT local_authority, prop_type, n,
               row_number() OVER (PARTITION BY local_authority
                    ORDER BY n DESC, prop_type) AS r
        FROM tcounts
    ) WHERE r = 1
    """,
    "price_deciles": _BASE
    + f"""
    , dd AS (
        SELECT local_authority, price, transaction_id,
               CAST(ntile(10) OVER (PARTITION BY local_authority
                    ORDER BY price, transaction_id) AS INTEGER) AS decile
        FROM enriched
        WHERE price IS NOT NULL AND isfinite(price)
          AND local_authority IS NOT NULL
    )
    SELECT local_authority, decile, count(*) AS n,
           round({dmean_sql('price')}, 4) AS avg_price
    FROM dd GROUP BY 1, 2
    """,
    "lapsed_parts": """
    WITH h1 AS (
        SELECT DISTINCT l_partkey FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-07-01'
    ), h2 AS (
        SELECT DISTINCT l_partkey FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-07-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
    ), lapsed AS (
        SELECT l_partkey FROM h1 EXCEPT SELECT l_partkey FROM h2
    )
    SELECT p_brand, count(*) AS lapsed_parts
    FROM lapsed JOIN part ON l_partkey = p_partkey
    GROUP BY 1
    """,
    "top_parts_per_nation": """
    WITH per_part AS (
        SELECT n_name, l_partkey,
               CAST(sum(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) THEN CAST(round((l_extendedprice * (1 - l_discount)) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0 AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY 1, 2
    )
    SELECT n_name, l_partkey, revenue,
           CAST(row_number() OVER (PARTITION BY n_name
                ORDER BY revenue DESC, l_partkey) AS INTEGER) AS rank
    FROM per_part
    QUALIFY rank <= 3
    """,
    "coverage_report": _BASE
    + """
    SELECT count(*) AS total_tx,
           count(local_authority) AS mapped_tx,
           round(100.0 * count(local_authority) / count(*), 4) AS coverage_pct
    FROM enriched
    """,
    "grid_weekly": _BASE_FIN
    + """
    SELECT week, local_authority, transactions,
           round(price_mean, 4) AS price_mean,
           round(price_median, 4) AS price_median,
           round(price_p10, 4) AS price_p10,
           round(price_p90, 4) AS price_p90
    FROM dense
    """,
    "rolling_windows": _BASE_FIN
    + """
    SELECT week, local_authority, transactions, rolling_trans,
           round(price_mean, 4) AS price_mean,
           round(rolling_price_mean, 4) AS rolling_price_mean,
           window_weeks
    FROM rolled
    """,
    "anomalies": _BASE_FIN
    + """
    SELECT week, local_authority, transactions, rolling_trans,
           round(price_mean, 4) AS price_mean,
           round(rolling_price_mean, 4) AS rolling_price_mean,
           window_weeks,
           round(z_transactions, 4) AS z_transactions,
           round(z_rolling_trans, 4) AS z_rolling_trans,
           abs(z_transactions) > 3.0 AS anomaly_transactions,
           abs(z_rolling_trans) > 3.0 AS anomaly_rolling_trans
    FROM scored
    """,
    "latest_snapshot": _BASE_FIN
    + """
    SELECT week, local_authority, transactions, rolling_trans,
           round(price_mean, 4) AS price_mean,
           round(rolling_price_mean, 4) AS rolling_price_mean,
           window_weeks
    FROM rolled
    WHERE week = (SELECT max(week) FROM rolled)
    """,
    "week_over_week": _BASE_FIN
    + """
    , dense_r AS (
        SELECT week, local_authority, transactions,
               round(price_mean, 4) AS price_mean
        FROM dense
    ), pop AS (
        SELECT week, local_authority, transactions,
               lag(transactions, 1) OVER (PARTITION BY local_authority
                    ORDER BY week) AS transactions_prev,
               price_mean,
               lag(price_mean, 1) OVER (PARTITION BY local_authority
                    ORDER BY week) AS price_mean_prev
        FROM dense_r
    )
    SELECT week, local_authority, transactions, transactions_prev,
           transactions - transactions_prev AS transactions_delta,
           CASE WHEN transactions_prev IS NULL OR transactions_prev = 0 THEN NULL
                ELSE round((transactions - transactions_prev) / transactions_prev * 100.0, 4)
           END AS transactions_pct_change,
           round(price_mean, 4) AS price_mean,
           round(price_mean_prev, 4) AS price_mean_prev,
           round(price_mean - price_mean_prev, 4) AS price_mean_delta,
           CASE WHEN price_mean_prev IS NULL OR price_mean_prev = 0 THEN NULL
                ELSE round((price_mean - price_mean_prev) / price_mean_prev * 100.0, 4)
           END AS price_mean_pct_change
    FROM pop
    """,
    "sessionize": """
    WITH base AS (
        -- NULL ts excluded like the operator: "unknown time" belongs
        -- to no session (the engines otherwise place it at opposite
        -- ends of the gap walk — r13 sweep)
        SELECT user_id, value, ts, event_id, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS prev_us
        FROM events WHERE ts IS NOT NULL
    ), marked AS (
        SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                       THEN 1 ELSE 0 END AS is_start
        FROM base
    ), sessions AS (
        -- the running sum must walk the SAME (ts, event_id) total
        -- order as the lag above: ordering by (ts, us) let tied
        -- timestamps interleave differently and split one session
        -- into two (r13 sweep, off-by-one session count)
        SELECT user_id, value, ts, us,
               CAST(sum(is_start) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                    AS session_idx
        FROM marked
    )
    SELECT user_id, session_idx, count(*) AS n_events,
           min(ts) AS session_start,
           round((max(us) - min(us)) / 1000000.0, 4) AS span_seconds,
           round((CAST(sum(CASE WHEN isfinite(value) THEN
                          CAST(round(value * 10000.0) AS BIGINT) END)
                      AS DOUBLE) / 10000.0)
                 / count(CASE WHEN isfinite(value) THEN value END), 4)
               AS value_mean
    FROM sessions
    GROUP BY 1, 2
    """,
    "rollup_lineitem": """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN isfinite(l_quantity) THEN CAST(round((l_quantity) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0 AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "props_json": """
    SELECT event_type, count(*) AS n_events,
           round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS k_mean,
           min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_min,
           max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_max
    FROM events
    GROUP BY 1
    """,
    "qa_metrics": _BASE
    + """
    SELECT (SELECT count(*) FROM events) AS rows_raw,
           (SELECT count(DISTINCT local_authority) FROM weekly) AS las,
           (SELECT max(week) FROM weekly) AS latest_week,
           (SELECT round(100.0 * count(local_authority) / count(*), 4)
            FROM enriched) AS coverage_pct
    """,
}

_RELATIONAL_ORACLES: dict[str, str] = {
    "pricing_summary": """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CASE WHEN isfinite(l_quantity) THEN CAST(round((l_quantity) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0 AS sum_qty,
           CAST(sum(CASE WHEN isfinite(l_extendedprice) THEN CAST(round((l_extendedprice) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0 AS sum_base_price,
           CAST(sum(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) THEN CAST(round((l_extendedprice * (1 - l_discount)) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0 AS sum_disc_price,
           CAST(sum(CASE WHEN isfinite(l_extendedprice * (1 - l_discount) * (1 + l_tax)) THEN CAST(round((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0 AS sum_charge,
           round((CAST(sum(CASE WHEN isfinite(l_quantity) THEN CAST(round((l_quantity) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0) / count(CASE WHEN isfinite(l_quantity) THEN l_quantity END), 4) AS avg_qty,
           round((CAST(sum(CASE WHEN isfinite(l_extendedprice) THEN CAST(round((l_extendedprice) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0) / count(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END), 4) AS avg_price,
           round((CAST(sum(CASE WHEN isfinite(l_discount) THEN CAST(round((l_discount) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0) / count(CASE WHEN isfinite(l_discount) THEN l_discount END), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY 1, 2
    """,
    "promo_revenue": """
    SELECT round(100.0 * (CAST(sum(CASE WHEN p_type = 'PROMO' AND isfinite(l_extendedprice * (1 - l_discount)) THEN CAST(round((l_extendedprice * (1 - l_discount)) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0)
                 / (CAST(sum(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) THEN CAST(round((l_extendedprice * (1 - l_discount)) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0), 4) AS promo_revenue_pct,
           round(CAST(sum(CASE WHEN p_type = 'PROMO' AND isfinite(l_extendedprice * (1 - l_discount)) THEN CAST(round((l_extendedprice * (1 - l_discount)) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0, 4) AS promo_revenue,
           round(CAST(sum(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) THEN CAST(round((l_extendedprice * (1 - l_discount)) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0, 4) AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    """,
    "large_orders": """
    WITH per_order AS (
        SELECT l_orderkey,
               CAST(sum(CASE WHEN isfinite(l_quantity) THEN CAST(round((l_quantity) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0 AS total_qty
        FROM lineitem GROUP BY 1
    )
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           round(o_totalprice, 4) AS o_totalprice, total_qty
    FROM per_order
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE total_qty > 250.0
    """,
    "idle_capital": """
    WITH avg_bal AS (
        SELECT (CAST(sum(CASE WHEN isfinite(c_acctbal) THEN
                        CAST(round(c_acctbal * 10000.0) AS BIGINT) END)
                    AS DOUBLE) / 10000.0)
               / count(CASE WHEN isfinite(c_acctbal) THEN c_acctbal END)
               AS a
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey, count(*) AS n_customers,
           round(CAST(sum(CASE WHEN isfinite(c_acctbal) THEN
                          CAST(round(c_acctbal * 10000.0) AS BIGINT) END)
                      AS DOUBLE) / 10000.0, 4) AS total_acctbal
    FROM customer, avg_bal
    WHERE c_acctbal > a
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
    GROUP BY 1
    """,
    "top_supplier": """
    WITH per_supp AS (
        SELECT l_suppkey,
               round(CAST(sum(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) THEN
                          CAST(round((l_extendedprice * (1 - l_discount)) * 10000.0) AS BIGINT) END)
                      AS DOUBLE) / 10000.0, 4) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY 1
    )
    SELECT s_suppkey, s_name, s_nationkey, total_revenue
    FROM per_supp JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM per_supp)
    """,
    "revenue_by_nation": """
    SELECT n_name,
           CAST(sum(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND s_nationkey = c_nationkey
    GROUP BY 1
    """,
    "top_customers": """
    WITH per_cust AS (
        SELECT o_custkey,
               round(CAST(sum(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) THEN
                          CAST(round((l_extendedprice * (1 - l_discount)) * 10000.0) AS BIGINT) END)
                      AS DOUBLE) / 10000.0, 4) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1996-04-01'
        GROUP BY 1
    ), ranked AS (
        SELECT o_custkey, revenue,
               CAST(row_number() OVER (ORDER BY revenue DESC, o_custkey) AS INTEGER) AS rank
        FROM per_cust
    )
    SELECT c_custkey, c_name, n_name AS nation, c_mktsegment, revenue, rank
    FROM ranked
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE rank <= 20
    """,
    "quality_checks": """
    WITH agg AS (
        SELECT avg(CASE WHEN ts IS NULL THEN 1.0 ELSE 0.0 END) AS not_null_ts,
               avg(CASE WHEN value IS NULL THEN 1.0 ELSE 0.0 END) AS not_null_value,
               (count(event_id) - count(DISTINCT event_id)) / count(event_id) AS unique_event_id,
               avg(CASE WHEN value IS NOT NULL AND (value < 0.0 OR value > 1000.0)
                        THEN 1.0 ELSE 0.0 END) AS range_value,
               avg(CASE WHEN event_type IS NOT NULL
                         AND event_type NOT IN ('click','error','purchase','signup','view')
                        THEN 1.0 ELSE 0.0 END) AS accepted_event_type
        FROM events
    )
    SELECT u.check_name,
           CAST(round(u.v * 10000.0) AS DOUBLE) AS violation_bps,
           0.0 AS threshold_bps,
           u.v <= 0.0 AS passed
    FROM agg, LATERAL (
        SELECT * FROM (VALUES
            ('not_null_ts', agg.not_null_ts),
            ('not_null_value', agg.not_null_value),
            ('unique_event_id', agg.unique_event_id),
            ('range_value', agg.range_value),
            ('accepted_event_type', agg.accepted_event_type)
        ) AS t(check_name, v)
    ) u
    """,
    "latest_by_key": """
    SELECT user_id, event_id, ts, event_type, value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
    "revenue_filter": """
    SELECT CAST(sum(CASE WHEN isfinite(l_extendedprice * l_discount) THEN
                    CAST(round(l_extendedprice * l_discount * 10000.0) AS BIGINT) END)
                AS DOUBLE) / 10000.0 AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount >= 0.02 AND l_discount <= 0.05
      AND l_quantity < 24.0
    """,
    "shipping_priority": """
    WITH per_order AS (
        SELECT o_orderkey, o_orderdate,
               round(CAST(sum(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0, 4) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1996-06-01'
          AND l_shipdate  > TIMESTAMP '1996-06-01'
        GROUP BY 1, 2
    )
    SELECT o_orderkey, o_orderdate, revenue,
           CAST(row_number() OVER (ORDER BY revenue DESC, o_orderkey) AS INTEGER) AS rank
    FROM per_order
    QUALIFY rank <= 10
    """,
    "order_priority": """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY 1
    """,
    "customers_without_orders": """
    SELECT c_mktsegment, count(*) AS inactive_customers
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1996-01-01'
                        AND o_orderdate <  TIMESTAMP '1997-01-01')
    GROUP BY 1
    """,
    "brand_revenue": """
    SELECT p_brand,
           CAST(sum(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) THEN CAST(round((l_extendedprice * (1 - l_discount)) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0 AS revenue,
           CAST(sum(CASE WHEN isfinite(l_quantity) THEN CAST(round((l_quantity) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0 AS total_qty,
           count(*) AS line_count
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_size >= 10
    GROUP BY 1
    """,
    "nation_pair_trade": """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           CAST(sum(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) THEN CAST(round((l_extendedprice * (1 - l_discount)) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0 AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND sn.n_name <> cn.n_name
    GROUP BY 1, 2, 3
    """,
    "market_share": """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           round(COALESCE(CAST(sum(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) THEN CAST(round(CASE WHEN n_name = 'NATION_5' THEN l_extendedprice * (1 - l_discount) END * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0, 0.0)
                 / (CAST(sum(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0), 4) AS mkt_share,
           round(CAST(sum(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0, 4) AS total_revenue
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_type = 'STANDARD'
      AND EXISTS (SELECT 1 FROM customer c
                  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
                  JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
                  WHERE c.c_custkey = o_custkey AND r2.r_name = 'ASIA')
    GROUP BY 1
    """,
    "product_profit": """
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(sum(CASE WHEN isfinite(l_extendedprice * (1 - l_discount) - 0.1 * p_retailprice * l_quantity) THEN CAST(round((l_extendedprice * (1 - l_discount) - 0.1 * p_retailprice * l_quantity) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0 AS profit,
           count(*) AS n_lines
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    WHERE p_type = 'ECONOMY'
    GROUP BY 1, 2
    """,
    "late_shipments": """
    SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS critical_lines,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS other_lines
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
    GROUP BY 1
    """,
    "order_count_distribution": """
    WITH per_cust AS (
        SELECT c_custkey, count(o_orderkey) AS n_orders
        FROM customer
        LEFT JOIN (SELECT o_orderkey, o_custkey FROM orders
                   WHERE o_orderstatus <> 'P') o
               ON c_custkey = o_custkey
        GROUP BY 1
    )
    SELECT n_orders, count(*) AS n_customers
    FROM per_cust GROUP BY 1
    """,
    "supplier_variety": """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_size BETWEEN 1 AND 15
    GROUP BY 1, 2, 3
    """,
    "small_qty_revenue": """
    WITH brand_lines AS (
        SELECT l_partkey, l_quantity, l_extendedprice
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#3'
    ), thresholds AS (
        SELECT l_partkey AS t_partkey,
               round((CAST(sum(CASE WHEN isfinite(l_quantity) THEN CAST(round(l_quantity * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0)
                     / count(CASE WHEN isfinite(l_quantity) THEN l_quantity END), 4) AS avg_qty
        FROM brand_lines GROUP BY 1
    )
    SELECT round((CAST(sum(CASE WHEN isfinite(l_extendedprice) THEN CAST(round(l_extendedprice * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0) / 7.0, 4) AS avg_yearly,
           count(*) AS n_lines
    FROM brand_lines JOIN thresholds ON l_partkey = t_partkey
    WHERE l_quantity < 0.2 * avg_qty
    """,
    "disjunctive_revenue": """
    SELECT round(CAST(sum(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0, 4) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
    "slow_suppliers": """
    WITH per_supp AS (
        SELECT l_orderkey, l_suppkey, max(l_shipdate) AS last_ship
        FROM lineitem GROUP BY 1, 2
    ), marked AS (
        SELECT l_orderkey, l_suppkey, last_ship,
               max(last_ship) OVER w AS order_last,
               count(*) OVER w AS n_suppliers
        FROM per_supp
        WINDOW w AS (PARTITION BY l_orderkey)
    ), flagged AS (
        SELECT *,
               sum(CASE WHEN last_ship = order_last THEN 1 ELSE 0 END)
                   OVER (PARTITION BY l_orderkey) AS n_at_last
        FROM marked
    )
    SELECT n_name AS nation, s_name, count(*) AS numwait
    FROM flagged
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_suppliers >= 2 AND last_ship = order_last AND n_at_last = 1
    GROUP BY 1, 2
    """,
    "important_parts": """
    WITH per_part AS (
        SELECT l_partkey,
               round(CAST(sum(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) THEN CAST(round((l_extendedprice * (1 - l_discount)) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0, 4) AS value
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
        GROUP BY 1
    ), total AS (
        SELECT CAST(sum(CAST(round(value * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS t
        FROM per_part
    )
    SELECT l_partkey, value
    FROM per_part, total
    WHERE value > 0.001 * t
    """,
    "min_cost_supplier": """
    WITH offers AS (
        SELECT l_partkey, l_suppkey, s_name, n_name AS supp_nation,
               round((CAST(sum(CASE WHEN isfinite(l_extendedprice / l_quantity) THEN CAST(round((l_extendedprice / l_quantity) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0)
                     / count(CASE WHEN isfinite(l_extendedprice / l_quantity) THEN 1 END), 4) AS unit_price
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
        GROUP BY 1, 2, 3, 4
    )
    SELECT l_partkey, l_suppkey, s_name, supp_nation, unit_price
    FROM offers
    QUALIFY unit_price = min(unit_price) OVER (PARTITION BY l_partkey)
    """,
}

ORACLES.update(_RELATIONAL_ORACLES)

# DuckDB equivalents of the extension operators. NOTE: DuckDB lists are
# 1-based (Spark arrays 0-based); folds start from a prepended zero so
# both engines reduce left-to-right from the same init; dot products are
# sequential double folds → bit-identical, rounded 4dp anyway.

_NORM_TEXT = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
# list_filter: string_split_regex('') yields [''] in DuckDB exactly as
# split("") does in Spark — both engines must count an empty doc as 0
# tokens (mirrors _tokens/_word_shingles array_remove on the Spark side)
_TOKS = f"list_filter(string_split_regex({_NORM_TEXT}, '\\s+'), x -> x <> '')"
# null-coalescing variant for operators whose Spark side counts NULL
# text as zero tokens (dup_span_stats, repetition_stats, pack, chunks).
# PARITY BOUNDARY: empty/whitespace-only docs agree between Spark and
# every oracle (both filter '' tokens); NULL-text parity is guaranteed
# only for the oracles using this variant — the remaining _TOKS oracles
# return null counts where Spark now returns 0. That divergence is
# unreachable while documents.text is never NULL, and since r10 the
# boundary is ENFORCED, not just documented:
# tests/test_fixture_invariants.py::test_documents_text_never_null
# re-reads the driver's actual parquet at every scale factor each round
# and goes red the moment a corpus gains NULL text — at which point the
# _TOKS oracles must migrate to _TOKS_NN in the same change.
_TOKS_NN = (
    "list_filter(string_split_regex(lower(trim(regexp_replace("
    "coalesce(text, ''), '\\s+', ' ', 'g'))), '\\s+'), x -> x <> '')"
)

_DOT_SQL = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    " list_transform(generate_series(1, len({a})),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
)
_NORM_SQL = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    " list_transform(generate_series(1, len({a})),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))), (x, y) -> x + y))"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"({_DOT_SQL.format(a=a, b=b)}) / "
        f"(({_NORM_SQL.format(a=a)}) * ({_NORM_SQL.format(a=b)}))"
    )


_STOP_EN = "'the', 'a', 'of', 'and', 'to', 'in', 'is', 'that', 'it', 'for'"

_EXTENSION_ORACLES: dict[str, str] = {
    "dedup_exact": f"""
    WITH hashed AS (
        SELECT doc_id, md5({_NORM_TEXT}) AS content_hash FROM documents
    )
    SELECT doc_id, content_hash,
           min(doc_id) OVER (PARTITION BY content_hash) AS canonical_id,
           count(*) OVER (PARTITION BY content_hash) AS dup_count,
           doc_id <> min(doc_id) OVER (PARTITION BY content_hash) AS is_duplicate
    FROM hashed
    """,
    "dedup_ngram_jaccard": f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS} AS t FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common, sa.n AS size_a, sb.n AS size_b,
           round(n_common / (sa.n + sb.n - n_common), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(n_common / (sa.n + sb.n - n_common), 4) >= 0.2
    """,
    "dedup_clusters": f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, {_TOKS} AS t FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(n_common / (sa.n + sb.n - n_common), 4) >= 0.2
    ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ), reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ), labeled AS (
        SELECT d.doc_id,
               least(d.doc_id,
                     coalesce((SELECT min(r.dst) FROM reach r
                               WHERE r.src = d.doc_id), d.doc_id)) AS cluster_id
        FROM documents d
    )
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM labeled
    """,
    "top_ngrams": f"""
    WITH toks AS (
        SELECT {_TOKS} AS t FROM documents
    ), grams AS (
        SELECT t[i] || ' ' || t[i+1] AS ngram
        FROM toks, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS u(i)
    ), counts AS (
        SELECT ngram, count(*) AS freq FROM grams GROUP BY 1
    )
    SELECT ngram, freq,
           CAST(row_number() OVER (ORDER BY freq DESC, ngram) AS INTEGER) AS rank
    FROM counts
    QUALIFY rank <= 50
    """,
    "weekly_type_pivot": """
    SELECT date_trunc('week', ts) AS week,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events
    GROUP BY 1
    """,
    "asof_join": """
    -- explicit argmax instead of DuckDB's native ASOF LEFT JOIN: on
    -- tied purchase timestamps the native form picks ARBITRARILY,
    -- while the operator pins ties with (purchase_ts, event_id) —
    -- latest event_id wins (r12 verdict item 3)
    WITH ev AS (
        SELECT event_id, ts, user_id, event_type, value FROM events
    ), purchases AS (
        SELECT user_id, ts, value AS purchase_value, ts AS purchase_ts,
               event_id AS tie
        FROM events
        WHERE event_type = 'purchase'
          AND ts IS NOT NULL AND user_id IS NOT NULL
    ), picked AS (
        SELECT e.event_id,
               p.purchase_value, p.purchase_ts,
               row_number() OVER (
                   PARTITION BY e.event_id
                   ORDER BY p.purchase_ts DESC, p.tie DESC) AS rn
        FROM ev e
        JOIN purchases p
          ON e.user_id = p.user_id AND e.ts >= p.ts
    )
    SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value,
           p.purchase_value AS asof_purchase_value,
           p.purchase_ts AS asof_purchase_ts
    FROM ev e
    LEFT JOIN (SELECT * FROM picked WHERE rn = 1) p USING (event_id)
    """,
    "range_join": """
    WITH intervals AS (
        SELECT user_id, ts AS start_ts, ts + INTERVAL 1 HOUR AS end_ts
        FROM events WHERE event_type = 'purchase'
    )
    SELECT e.user_id, count(*) AS events_in_purchase_hour
    FROM events e
    JOIN intervals i
      ON e.user_id = i.user_id AND e.ts >= i.start_ts AND e.ts < i.end_ts
    GROUP BY 1
    """,
    "similarity_topk": f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5
    ), c AS (
        SELECT vec_id, embedding AS ce FROM embeddings WHERE vec_id >= 5
    ), scored AS (
        SELECT query_id, vec_id, round({_cos_sql('qe', 'ce')}, 4) AS score
        FROM c CROSS JOIN q
    )
    SELECT query_id, vec_id, score,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, vec_id) AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= 10
    """,
    "embedding_near_dup": f"""
    WITH a AS (SELECT vec_id AS id_a, embedding AS ea FROM embeddings),
         b AS (SELECT vec_id AS id_b, embedding AS eb FROM embeddings)
    SELECT id_a, id_b, round({_cos_sql('ea', 'eb')}, 4) AS cosine
    FROM a JOIN b ON id_a < id_b
    WHERE round({_cos_sql('ea', 'eb')}, 4) >= 0.4
    """,
    "knn_classify": f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 100
    ), c AS (
        SELECT vec_id, label, embedding AS ce FROM embeddings WHERE vec_id >= 100
    ), scored AS (
        SELECT query_id, vec_id, label, round({_cos_sql('qe', 'ce')}, 4) AS score
        FROM c CROSS JOIN q
    ), topk AS (
        SELECT query_id, label FROM (
            SELECT query_id, label,
                   row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, vec_id) AS r
            FROM scored
        ) WHERE r <= 10
    ), votes AS (
        SELECT query_id, label, count(*) AS votes FROM topk GROUP BY 1, 2
    )
    SELECT query_id, label AS predicted_label, votes FROM (
        SELECT query_id, label, votes,
               row_number() OVER (PARTITION BY query_id
                    ORDER BY votes DESC, label) AS r
        FROM votes
    ) WHERE r = 1
    """,
    "embedding_centroids": """
    SELECT label, CAST(i - 1 AS INTEGER) AS dim,
           round(CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 10000.0 + 0.5)
                              AS BIGINT)) AS BIGINT)
                 / (10000.0 * count(*)), 4) AS centroid,
           count(*) AS n_vectors
    FROM (SELECT label, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings)
    GROUP BY 1, 2
    """,
    "conversion_funnel": """
    WITH s1 AS (
        SELECT user_id, min(ts) AS t FROM events
        WHERE event_type = 'signup' GROUP BY 1
    ), s2 AS (
        SELECT e.user_id, min(e.ts) AS t FROM events e
        JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
        WHERE e.event_type = 'view' GROUP BY 1
    ), s3 AS (
        SELECT e.user_id, min(e.ts) AS t FROM events e
        JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
        WHERE e.event_type = 'click' GROUP BY 1
    ), s4 AS (
        SELECT e.user_id, min(e.ts) AS t FROM events e
        JOIN s3 ON e.user_id = s3.user_id AND e.ts > s3.t
        WHERE e.event_type = 'purchase' GROUP BY 1
    )
    SELECT 1 AS step, 'signup' AS event_type, count(*) AS users FROM s1
    UNION ALL SELECT 2, 'view', count(*) FROM s2
    UNION ALL SELECT 3, 'click', count(*) FROM s3
    UNION ALL SELECT 4, 'purchase', count(*) FROM s4
    """,
    "weekly_retention": """
    WITH active AS (
        SELECT DISTINCT date_trunc('week', ts) AS week, user_id FROM events
    )
    SELECT a.week, count(*) AS active_users,
           count(b.user_id) AS retained_users,
           round(count(b.user_id) / count(*), 4) AS retention_rate
    FROM active a LEFT JOIN active b
      ON b.user_id = a.user_id AND b.week = a.week + INTERVAL 7 DAY
    GROUP BY 1
    """,
    "text_stats": f"""
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS n_chars,
           CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INTEGER) AS n_bpe_tokens,
           CASE WHEN len({_TOKS}) > 0 THEN round(length(regexp_replace(text, '\\s', '', 'g')) / len({_TOKS}), 4) END AS avg_token_len,
           CASE WHEN length(text) > 0 THEN round((length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]{{}}-]', '', 'g'))) / length(text), 4) END AS punct_ratio,
           CASE WHEN length(text) > 0 THEN round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text), 4) END AS digit_ratio,
           CASE WHEN len({_TOKS}) > 0 THEN round(len(list_filter({_TOKS}, x -> x IN ({_STOP_EN}))) / len({_TOKS}), 4) END AS stopword_ratio
    FROM documents
    """,
    "quality_score": f"""
    WITH s AS (
        SELECT doc_id,
               CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
               CASE WHEN len({_TOKS}) > 0 THEN len(list_filter({_TOKS}, x -> x IN ({_STOP_EN}))) / len({_TOKS}) ELSE 0.0 END AS stopword_ratio,
               CASE WHEN length(text) > 0 THEN (length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]{{}}-]', '', 'g'))) / length(text) ELSE 0.0 END AS punct_ratio
        FROM documents
    )
    SELECT doc_id, n_tokens,
           CASE WHEN n_tokens > 0 THEN
               round(0.4 * least(1.0, stopword_ratio * 5)
                   + 0.3 * least(1.0, n_tokens / 100.0)
                   + 0.3 * (1.0 - least(1.0, punct_ratio * 10)), 4)
           ELSE 0.0 END AS quality
    FROM s
    """,
    "doc_fingerprint": f"""
    WITH n AS (SELECT doc_id, {_NORM_TEXT} AS norm FROM documents)
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(1, length(norm)),
                   i -> CAST(ascii(substring(norm, i, 1)) AS BIGINT))),
               (a, c) -> (a * 31 + c) % 1000000000000003) AS fingerprint
    FROM n
    """,
    "redact_pii": """
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'),
             '\\+?[0-9][0-9 ()-]{7,}[0-9]', '<PHONE>', 'g') AS redacted_text,
           -- coalesce mirrors the operator's NULL-text guard: a failed
           -- fetch carries zero PII, not NULL counts / NULL has_pii
           CAST(coalesce(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')), 0) AS INTEGER) AS n_emails,
           CAST(coalesce(len(regexp_extract_all(text, '\\+?[0-9][0-9 ()-]{7,}[0-9]')), 0) AS INTEGER) AS n_phones,
           CAST(coalesce(len(regexp_extract_all(text, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')), 0) AS INTEGER) AS n_ips,
           (coalesce(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')), 0)
            + coalesce(len(regexp_extract_all(text, '\\+?[0-9][0-9 ()-]{7,}[0-9]')), 0)
            + coalesce(len(regexp_extract_all(text, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')), 0)) > 0 AS has_pii
    FROM documents
    """,
    "hash_sample": """
    SELECT doc_id, n_chars
    FROM documents
    WHERE ((doc_id * 2654435761) % 1000000007) % 100 < 10
    """,
    "dataset_split": """
    SELECT CASE WHEN ((doc_id * 2654435761) % 1000000007) % 100 < 10 THEN 'test'
                WHEN ((doc_id * 2654435761) % 1000000007) % 100 < 20 THEN 'val'
                ELSE 'train' END AS split,
           count(*) AS n_docs
    FROM documents
    GROUP BY 1
    """,
    "embedding_quantize": """
    WITH q AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
        FROM embeddings
    ), c AS (
        SELECT vec_id, embedding, scale,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) / scale * 127 + 0.5) AS INTEGER)) AS codes
        FROM q
    )
    SELECT vec_id,
           round(scale, 4) AS scale,
           round(list_max(list_transform(generate_series(1, len(embedding)),
               i -> abs(CAST(embedding[i] AS DOUBLE) - CAST(codes[i] AS DOUBLE) * scale / 127))), 4) AS max_err,
           CAST(list_sum(codes) AS BIGINT) AS sum_codes,
           CAST(list_min(codes) AS INTEGER) AS min_code,
           CAST(list_max(codes) AS INTEGER) AS max_code
    FROM c
    """,
    "token_histogram": f"""
    WITH t AS (
        SELECT CAST(floor(len({_TOKS}) / 10) * 10 AS BIGINT) AS bin_start,
               len({_TOKS}) AS n
        FROM documents
    )
    SELECT bin_start, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens
    FROM t GROUP BY 1
    """,
    "stratified_sample": """
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE ((doc_id * 2654435761) % 1000000007) % 100 <
          CASE WHEN lang = 'en' THEN 25 ELSE 50 END
    """,
    "corpus_cube": """
    SELECT lang, source,
           CAST(GROUPING(lang) AS INTEGER) AS g_lang,
           CAST(GROUPING(source) AS INTEGER) AS g_source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
    FROM documents
    GROUP BY CUBE (lang, source)
    """,
    "decontaminate": f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS} AS t FROM documents
    ), grams AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS ngram
        FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
    ), bench AS (
        SELECT DISTINCT ngram FROM grams
        WHERE ((doc_id * 2654435761) % 1000000007) % 100 < 5
    ), hits AS (
        SELECT g.doc_id, CAST(count(*) AS BIGINT) AS ngram_hits
        FROM grams g JOIN bench b USING (ngram)
        GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(h.ngram_hits, 0) AS ngram_hits,
           coalesce(h.ngram_hits, 0) >= 5 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    """,
    "repetition_stats": f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_NN} AS t FROM documents
    ), ex AS (
        SELECT doc_id, t[i] || ' ' || t[i+1] AS ngram
        FROM toks, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS u(i)
    ), agg AS (
        SELECT doc_id, CAST(count(*) AS INTEGER) AS total_ngrams,
               CAST(count(DISTINCT ngram) AS INTEGER) AS distinct_ngrams
        FROM ex GROUP BY 1
    )
    SELECT k.doc_id,
           coalesce(a.total_ngrams, 0) AS total_ngrams,
           coalesce(a.distinct_ngrams, 0) AS distinct_ngrams,
           round(CASE WHEN coalesce(a.total_ngrams, 0) = 0 THEN 0.0
                      ELSE 1.0 - a.distinct_ngrams * 1.0 / a.total_ngrams END, 4)
               AS dup_ngram_ratio,
           round(CASE WHEN coalesce(len(k.t), 0) = 0 THEN 0.0
                      ELSE 1.0 - len(list_distinct(k.t)) * 1.0 / len(k.t) END, 4)
               AS dup_token_ratio,
           round(CASE WHEN coalesce(a.total_ngrams, 0) = 0 THEN 0.0
                      ELSE 1.0 - a.distinct_ngrams * 1.0 / a.total_ngrams END, 4)
               > 0.2 AS repetitive
    FROM toks k LEFT JOIN agg a USING (doc_id)
    """,
    "multimodal_meta": """
    WITH media AS (
        SELECT doc_id, octet_length(encode(text)) AS n_bytes,
               (['png', 'jpeg', 'webp'])[octet_length(encode(text)) % 3 + 1] AS format
        FROM documents
    )
    SELECT format, count(*) AS n_items,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           CAST(min(n_bytes) AS INTEGER) AS min_bytes,
           CAST(max(n_bytes) AS INTEGER) AS max_bytes
    FROM media
    GROUP BY 1
    """,
}

# lang_id oracle: per-language stopword-hit scores + first-match CASE
_lang_score = {
    lang: "len(list_filter(" + _TOKS + ", x -> x IN ("
    + ", ".join("'" + w + "'" for w in ws)
    + ")))"
    for lang, ws in STOPWORDS.items()
}
_lang_case = "CASE " + " ".join(
    "WHEN "
    + " AND ".join(
        f"({_lang_score[lang]}) >= ({_lang_score[other]})"
        for other in ["en", "de", "es", "fr", "zh"]
        if other != lang
    )
    + f" THEN '{lang}'"
    for lang in ["en", "de", "es", "fr", "zh"]
) + " END"
_lang_score_t = {
    lang: "len(list_filter(t, x -> x IN ("
    + ", ".join("'" + w + "'" for w in ws)
    + ")))"
    for lang, ws in STOPWORDS.items()
}
_lang_case_t = "CASE " + " ".join(
    "WHEN "
    + " AND ".join(
        f"({_lang_score_t[lang]}) >= ({_lang_score_t[other]})"
        for other in ["en", "de", "es", "fr", "zh"]
        if other != lang
    )
    + f" THEN '{lang}'"
    for lang in ["en", "de", "es", "fr", "zh"]
) + " END"
# shared funnel CTE chain (s -> m -> d), reused by the end-to-end
# curate_corpus oracle below
_FUNNEL_CTES = f"""s AS (
        SELECT doc_id, text, {_TOKS} AS t FROM documents
    ), m AS (
        SELECT doc_id,
               CAST(len(t) AS INTEGER) AS n_tokens,
               CASE WHEN len(t) > 0 THEN
                   round(0.4 * least(1.0, (len(list_filter(t, x -> x IN ({_STOP_EN}))) / len(t)) * 5)
                       + 0.3 * least(1.0, len(t) / 100.0)
                       + 0.3 * (1.0 - least(1.0, ((length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]{{}}-]', '', 'g'))) / length(text)) * 10)), 4)
               ELSE 0.0 END AS quality,
               round(CASE WHEN len(t) < 2 THEN 0.0
                          ELSE 1.0 - len(list_distinct(list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1]))) * 1.0
                                     / (len(t) - 1) END, 4) AS dup_ngram_ratio,
               {_lang_case_t} AS predicted_lang
        FROM s
    ), d AS (
        SELECT *,
               CASE WHEN n_tokens < 5 THEN 'too_short'
                    WHEN quality < 0.5 THEN 'low_quality'
                    WHEN dup_ngram_ratio > 0.2 THEN 'repetitive'
                    WHEN predicted_lang NOT IN ('en') THEN 'wrong_lang'
                    ELSE NULL END AS drop_reason
        FROM m
    )"""

_EXTENSION_ORACLES["filter_funnel"] = f"""
    WITH {_FUNNEL_CTES}
    SELECT doc_id, n_tokens, quality, dup_ngram_ratio, predicted_lang,
           drop_reason, drop_reason IS NULL AS keep
    FROM d
    """

_EXTENSION_ORACLES["curate_corpus"] = f"""
    WITH {_FUNNEL_CTES}, fv AS (
        SELECT doc_id, n_tokens, drop_reason IS NULL AS keep FROM d
    ), ded AS (
        SELECT doc_id,
               min(doc_id) OVER (PARTITION BY md5({_NORM_TEXT})) = doc_id AS is_canon
        FROM documents
        WHERE doc_id IN (SELECT doc_id FROM fv WHERE keep)
    )
    SELECT lang, source,
           count(*) AS n_docs,
           count(*) FILTER (WHERE keep) AS n_kept,
           count(*) FILTER (WHERE coalesce(is_canon, false)) AS n_final,
           CAST(coalesce(sum(n_tokens) FILTER (WHERE coalesce(is_canon, false)), 0) AS BIGINT)
             AS tokens_final
    FROM documents
    JOIN fv USING (doc_id)
    LEFT JOIN ded USING (doc_id)
    GROUP BY 1, 2
    """
_EXTENSION_ORACLES["lang_id"] = (
    "SELECT doc_id, "
    + ", ".join(
        f"CAST({_lang_score[lang]} AS INTEGER) AS score_{lang}"
        for lang in ["en", "de", "es", "fr", "zh"]
    )
    + f", {_lang_case} AS predicted_lang FROM documents"
)

_EXTENSION_ORACLES["gap_interpolation"] = _BASE_FIN + """
    , f AS (
        SELECT week, local_authority, transactions, price_mean,
               last_value(price_mean IGNORE NULLS) OVER (PARTITION BY local_authority ORDER BY week ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_val,
               last_value(CASE WHEN price_mean IS NOT NULL THEN week END IGNORE NULLS) OVER (PARTITION BY local_authority ORDER BY week ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_wk,
               first_value(price_mean IGNORE NULLS) OVER (PARTITION BY local_authority ORDER BY week ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_val,
               first_value(CASE WHEN price_mean IS NOT NULL THEN week END IGNORE NULLS) OVER (PARTITION BY local_authority ORDER BY week ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_wk
        FROM dense
    )
    SELECT week, local_authority, transactions,
           CASE WHEN price_mean IS NOT NULL THEN round(price_mean, 4)
                WHEN prev_val IS NULL OR next_val IS NULL THEN NULL
                ELSE round(prev_val + (next_val - prev_val) * ((epoch_us(week) - epoch_us(prev_wk)) / (epoch_us(next_wk) - epoch_us(prev_wk))), 4)
           END AS price_interp,
           (price_mean IS NULL AND prev_val IS NOT NULL AND next_val IS NOT NULL) AS is_interpolated
    FROM f
    """

_EXTENSION_ORACLES["repeat_customers"] = """
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
    INTERSECT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    """

_EXTENSION_ORACLES["supplier_percentile"] = """
    WITH rev AS (
        SELECT l_suppkey,
               round(CAST(sum(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) THEN CAST(round((l_extendedprice * (1 - l_discount)) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0, 4) AS revenue
        FROM lineitem
        GROUP BY 1
    )
    SELECT l_suppkey, revenue,
           round(percent_rank() OVER (ORDER BY revenue DESC, l_suppkey), 4) AS revenue_pct_rank,
           round(cume_dist() OVER (ORDER BY revenue DESC, l_suppkey), 4) AS revenue_cume_dist
    FROM rev
    """

_EXTENSION_ORACLES["source_cap"] = f"""
    WITH s AS (
        SELECT doc_id, source, text, {_TOKS} AS t FROM documents
    ), q AS (
        SELECT doc_id, source,
               CASE WHEN len(t) > 0 THEN
                   round(0.4 * least(1.0, (len(list_filter(t, x -> x IN ({_STOP_EN}))) / len(t)) * 5)
                       + 0.3 * least(1.0, len(t) / 100.0)
                       + 0.3 * (1.0 - least(1.0, ((length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]{{}}-]', '', 'g'))) / length(text)) * 10)), 4)
               ELSE 0.0 END AS quality
        FROM s
    ), r AS (
        SELECT doc_id, source, quality,
               CAST(row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS INTEGER) AS source_rank
        FROM q
    )
    SELECT doc_id, source, quality, source_rank FROM r WHERE source_rank <= 10
    """

_EXTENSION_ORACLES["weekly_unpivot"] = """
    WITH wk AS (
        SELECT date_trunc('week', ts) AS week, event_type FROM events
    ), weeks AS (
        SELECT DISTINCT week FROM wk
    ), types(event_type) AS (
        VALUES ('click'), ('error'), ('purchase'), ('signup'), ('view')
    ), cnt AS (
        SELECT week, event_type, count(*) AS transactions
        FROM wk GROUP BY 1, 2
    )
    SELECT w.week, t.event_type,
           CAST(coalesce(c.transactions, 0) AS BIGINT) AS transactions
    FROM weeks w
    CROSS JOIN types t
    -- NULL-safe week match (r13 sweep): a NULL-ts row forms a real
    -- NULL-week group in the pivot twin on BOTH engines, but a plain
    -- equi-join here dropped its counts to the zero-fill
    LEFT JOIN cnt c ON c.week IS NOT DISTINCT FROM w.week
                   AND c.event_type = t.event_type
    """

# ------------------------------------------------- behavior / stats batch


def q_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly new-user + running cumulative distinct-user adoption curve."""
    from uk_housing_dashboard_etl_spark.operators.behavior import cumulative_users

    return cumulative_users(read_table(spark, sf_dir, "events"))


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type bigram (Markov transition) counts across user journeys."""
    from uk_housing_dashboard_etl_spark.operators.behavior import event_transitions

    return event_transitions(read_table(spark, sf_dir, "events"))


def q_first_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user first/last-touch attribution summary (min_by/max_by)."""
    from uk_housing_dashboard_etl_spark.operators.behavior import first_last_touch

    out = first_last_touch(
        read_table(spark, sf_dir, "events"), deterministic_sum=True
    )
    return _round(out, ["total_value"])


def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dispersion/association stats per (returnflag, linestatus)."""
    from uk_housing_dashboard_etl_spark.operators.stats import corr_stats

    return _round(
        corr_stats(read_table(spark, sf_dir, "lineitem")),
        ["qty_price_corr", "qty_price_covar", "qty_stddev", "price_stddev"],
    )


def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (exact integer bucketing)."""
    from uk_housing_dashboard_etl_spark.operators.stats import price_histogram

    return price_histogram(read_table(spark, sf_dir, "orders"))


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS lattice ((rf,ls),(rf),()) with grouping_id."""
    from uk_housing_dashboard_etl_spark.operators.stats import grouping_sets_summary

    return grouping_sets_summary(read_table(spark, sf_dir, "lineitem"))


def q_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE rolling aggregates over the SPARSE weekly mart (no
    densification needed — the frame is on the time axis)."""
    from uk_housing_dashboard_etl_spark.operators.timeseries import rolling_time_range

    return rolling_time_range(_mart(spark, sf_dir)["weekly_by_la"], days=28)


def q_active_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI (EXISTS) shape: suppliers with recent shipments."""
    from uk_housing_dashboard_etl_spark.operators.relational import active_suppliers

    return active_suppliers(
        read_table(spark, sf_dir, "supplier"),
        read_table(spark, sf_dir, "nation"),
        read_table(spark, sf_dir, "lineitem"),
    )


RRF_TERM_SETS = [["spark", "filter", "window"], ["hash", "merge", "scan"]]


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two BM25 probe-query rankings (top-50,
    exact 1e-4-unit contributions, doc_id tie-break)."""
    from uk_housing_dashboard_etl_spark.operators.text_analysis import rrf_fusion

    return rrf_fusion(
        read_table(spark, sf_dir, "documents"), RRF_TERM_SETS, k=50
    )


def q_quality_calibrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile calibration of the quality score + keep
    flag at the 20th within-source percentile."""
    from uk_housing_dashboard_etl_spark.operators.text_analysis import (
        quality_calibrate,
    )

    return quality_calibrate(read_table(spark, sf_dir, "documents"))


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: cumulative distinct terms and
    tokens over 10 contiguous doc-id buckets."""
    from uk_housing_dashboard_etl_spark.operators.text_analysis import vocab_growth

    return vocab_growth(read_table(spark, sf_dir, "documents"), n_buckets=10)


def q_trimmed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority 5%-trimmed mean of order totals (exact rank cut,
    fixed-point mean)."""
    from uk_housing_dashboard_etl_spark.operators.relational import trimmed_stats

    return trimmed_stats(read_table(spark, sf_dir, "orders"))


def q_fuzzy_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage: each part's closest other part name within 2
    edits (blocked Levenshtein, ties to the smaller key). Runs the
    name-grain compressed plan; the oracle computes the same answer by
    brute record-grain enumeration."""
    from uk_housing_dashboard_etl_spark.operators.linkage import (
        best_fuzzy_match_compressed,
    )

    part = read_table(spark, sf_dir, "part")
    return best_fuzzy_match_compressed(part, part, max_dist=2)


def q_fuzzy_snm_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for the sorted-neighborhood linkage path: every SNM pair
    must be in the exact blocked set (subset property — SNM adds the
    rank-band cut but no new pairs), recall reported as a metric (it is
    data-dependent by design: this synthetic corpus forms dense
    near-dup cliques that bound any linear-candidate method)."""
    from uk_housing_dashboard_etl_spark.operators.linkage import (
        fuzzy_pair_histogram,
        sorted_neighborhood_pairs,
    )

    part = read_table(spark, sf_dir, "part")
    # exact-pair COUNT from the name-grain histogram (no key-pair
    # enumeration); each SNM pair is then re-validated against the
    # blocked criteria from its own names — n_hit counts the valid ones,
    # so a band-join bug that invented pairs would break subset here
    # exactly as the old materialized intersection did.

    n_exact = fuzzy_pair_histogram(part, max_dist=2).agg(
        F.sum("n_pairs").alias("n_exact")
    )
    names = part.select(
        F.col("p_partkey").alias("key"), F.col("p_name").alias("name")
    )
    snm = sorted_neighborhood_pairs(part, window=5, max_dist=2)
    na = names.alias("na")
    nb = names.alias("nb")
    # no forced broadcast: names is RECORD-grain (the whole catalog at
    # scale); AQE promotes when it fits, else these are key-equi joins
    snm_named = (
        snm.join(na, snm.key_a == F.col("na.key"))
        .join(nb, snm.key_b == F.col("nb.key"))
        .select(
            F.col("na.name").alias("name_a"), F.col("nb.name").alias("name_b")
        )
    )
    valid = (
        (
            F.split(F.col("name_a"), r"\s+")[0]
            == F.split(F.col("name_b"), r"\s+")[0]
        )
        & (F.levenshtein(F.col("name_a"), F.col("name_b")) <= F.lit(2))
    )
    counts = snm_named.agg(
        F.count(F.lit(1)).alias("n_snm"),
        F.count(F.when(valid, 1)).alias("n_hit"),
    )
    return counts.crossJoin(F.broadcast(n_exact)).select(
        "n_exact",
        "n_snm",
        "n_hit",
        round4(F.col("n_hit") / F.col("n_exact")).alias("recall"),
        (F.col("n_snm") == F.col("n_hit")).cast("int").alias("snm_subset"),
    )


def q_fuzzy_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance histogram of the blocked fuzzy-pair frame, computed at
    name grain (cnt_x·cnt_y per name pair); the oracle enumerates every
    key pair record-grain and must land on identical counts."""
    from uk_housing_dashboard_etl_spark.operators.linkage import (
        fuzzy_pair_histogram,
    )

    return fuzzy_pair_histogram(read_table(spark, sf_dir, "part"), max_dist=3)


def q_fuzzy_pair_stats_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`q_fuzzy_pair_stats` under composite (token, length-bucket)
    blocking — the dominant-token scale path (SCALE.md §4). The bucket
    fan-out is LOSSLESS (±1-cell probe, bucket width ≥ max_dist), so it
    shares the unbucketed record-grain oracle verbatim: any dropped or
    duplicated pair hash-mismatches."""
    from uk_housing_dashboard_etl_spark.operators.linkage import (
        fuzzy_pair_histogram,
    )

    return fuzzy_pair_histogram(
        read_table(spark, sf_dir, "part"), max_dist=3, length_bucket=4
    )


_EXTENSION_ORACLES["cumulative_users"] = """
    WITH fw AS (
        SELECT user_id, date_trunc('week', min(ts)) AS week
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        GROUP BY 1
    ), nw AS (
        SELECT week, count(*) AS new_users FROM fw GROUP BY 1
    )
    SELECT week, new_users,
           CAST(sum(new_users) OVER (ORDER BY week
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cumulative_users
    FROM nw
    """

_EXTENSION_ORACLES["event_transitions"] = """
    WITH seq AS (
        SELECT lag(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS prev_type,
               event_type AS next_type
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    )
    SELECT prev_type, next_type, count(*) AS transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """

_EXTENSION_ORACLES["first_last_touch"] = """
    WITH e AS (
        SELECT * FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), ranked AS (
        SELECT user_id, event_type, ts,
               row_number() OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS rn_asc,
               row_number() OVER (PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rn_desc
        FROM e
    ), agg AS (
        SELECT user_id,
               min(ts) AS first_ts, max(ts) AS last_ts,
               count(*) AS n_events,
               round(CAST(sum(CASE WHEN isfinite(value) THEN
                              CAST(round(value * 10000.0) AS BIGINT) END)
                          AS DOUBLE)
                     / 10000.0, 4) AS total_value
        FROM e GROUP BY 1
    )
    SELECT a.user_id,
           f.event_type AS first_type, l.event_type AS last_type,
           a.first_ts, a.last_ts, a.n_events, a.total_value
    FROM agg a
    JOIN ranked f ON f.user_id = a.user_id AND f.rn_asc = 1
    JOIN ranked l ON l.user_id = a.user_id AND l.rn_desc = 1
    """

_EXTENSION_ORACLES["corr_stats"] = """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           -- same post-agg op sequence as the Spark side (covar/(sq*sp)
           -- guarded on zero variance), not native corr(): identical
           -- float op order keeps 4dp half-boundary values in lockstep
           round(CASE WHEN stddev_samp(l_quantity) > 0 AND stddev_samp(l_extendedprice) > 0
                      THEN covar_samp(l_quantity, l_extendedprice)
                           / (stddev_samp(l_quantity) * stddev_samp(l_extendedprice)) END, 4) AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
           round(stddev_samp(l_quantity), 4) AS qty_stddev,
           round(stddev_samp(l_extendedprice), 4) AS price_stddev
    FROM lineitem
    -- both measures finite (r13: one ±Inf row NaN-poisons Spark's
    -- moments while DuckDB's STDDEV raises out-of-range)
    WHERE l_quantity IS NOT NULL AND isfinite(l_quantity)
      AND l_extendedprice IS NOT NULL AND isfinite(l_extendedprice)
    GROUP BY 1, 2
    """

_EXTENSION_ORACLES["price_histogram"] = """
    SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
           count(*) AS n_orders,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price,
           floor(o_totalprice / 25000.0) * 25000.0 AS bucket_lo
    FROM orders
    WHERE o_totalprice IS NOT NULL AND isfinite(o_totalprice)
    GROUP BY 1, 5
    """

_EXTENSION_ORACLES["grouping_sets"] = """
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag, l_linestatus) AS INTEGER) AS gid,
           count(*) AS n,
           CAST(sum(CASE WHEN isfinite(l_quantity) THEN
                    CAST(round(l_quantity * 10000.0) AS BIGINT) END) AS DOUBLE)
               / 10000.0 AS sum_qty,
           CAST(sum(CASE WHEN isfinite(l_extendedprice) THEN
                    CAST(round(l_extendedprice * 10000.0) AS BIGINT) END) AS DOUBLE)
               / 10000.0 AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """

_EXTENSION_ORACLES["range_rolling"] = _BASE_FIN + """
    SELECT week, local_authority, transactions,
           CAST(sum(transactions) OVER w AS BIGINT) AS range_trans,
           round((CAST(sum(CAST(round(price_mean * 10000.0) AS BIGINT))
                       OVER w AS DOUBLE) / 10000.0)
                 / count(price_mean) OVER w, 4) AS range_price_mean,
           count(*) OVER w AS weeks_present
    FROM weekly
    WINDOW w AS (PARTITION BY local_authority ORDER BY week
                 RANGE BETWEEN INTERVAL 28 DAYS PRECEDING AND CURRENT ROW)
    """

_EXTENSION_ORACLES["active_suppliers"] = """
    SELECT s.s_suppkey, s.s_name, n.n_name AS nation
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_suppkey = s.s_suppkey
          AND l.l_shipdate >= TIMESTAMP '1998-01-01'
    )
    """

_EXTENSION_ORACLES["temperature_mix"] = """
    WITH counts AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
    ), m AS (
        SELECT min(n_docs) AS n_min FROM counts
    ), rates AS (
        SELECT source, n_docs,
               power(CAST(n_min AS DOUBLE) / n_docs, 0.3) AS r
        FROM counts, m
    ), kept AS (
        SELECT d.source, count(*) AS n_kept
        FROM documents d JOIN rates USING (source)
        WHERE (((d.doc_id * 2654435761) % 1000000007) % 1000000)
              / 1000000.0 < r
        GROUP BY 1
    )
    SELECT source, n_docs, round(r, 4) AS rate,
           coalesce(n_kept, 0) AS n_kept
    FROM rates LEFT JOIN kept USING (source)
    """

_EXTENSION_ORACLES["pack_sequences"] = f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(
                        coalesce({_NORM_TEXT}, ''), ' '),
                                    x -> x <> '')) AS INTEGER)
                   AS n_tokens,
               CAST(((doc_id * 2654435761) % 1000000007) % 8 AS INTEGER)
                   AS shard,
               (doc_id * 2654435761) % 1000000007 AS h
        FROM documents
    )
    SELECT doc_id, shard,
           CAST(floor((sum(n_tokens) OVER w - n_tokens) / 512.0) AS INTEGER)
               AS bin_idx,
           n_tokens
    FROM t
    WINDOW w AS (PARTITION BY shard ORDER BY h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """

_EXTENSION_ORACLES["dedup_keep_best"] = f"""
    WITH s AS (
        SELECT doc_id,
               md5({_NORM_TEXT}) AS content_hash,
               CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
               CASE WHEN len({_TOKS}) > 0
                    THEN len(list_filter({_TOKS}, x -> x IN ({_STOP_EN})))
                         / len({_TOKS}) ELSE 0.0 END AS stopword_ratio,
               CASE WHEN length(text) > 0
                    THEN (length(text) - length(regexp_replace(text,
                        '[.,;:!?''"()\\[\\]{{}}-]', '', 'g')))
                        / length(text) ELSE 0.0 END AS punct_ratio
        FROM documents
    ), q AS (
        SELECT doc_id, content_hash,
               CASE WHEN n_tokens > 0 THEN
                   round(0.4 * least(1.0, stopword_ratio * 5)
                       + 0.3 * least(1.0, n_tokens / 100.0)
                       + 0.3 * (1.0 - least(1.0, punct_ratio * 10)), 4)
               ELSE 0.0 END AS quality
        FROM s
    )
    SELECT doc_id, content_hash, quality,
           first_value(doc_id) OVER w AS canonical_id,
           row_number() OVER w = 1 AS keep
    FROM q
    WINDOW w AS (PARTITION BY content_hash ORDER BY quality DESC, doc_id)
    """

_EXTENSION_ORACLES["streaming_enriched"] = """
    SELECT c.c_mktsegment AS segment, e.event_type,
           count(*) AS n_events,
           CAST(sum(CASE WHEN isfinite(e.value) THEN
                        CAST(floor(e.value * 10000.0 + 0.5) AS BIGINT)
                    END) AS DOUBLE) / 10000.0 AS value_sum
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.ts IS NOT NULL
    GROUP BY 1, 2
    """


_EXTENSION_ORACLES["streaming_attribution"] = """
    WITH v AS (
        SELECT user_id, ts AS view_ts FROM events
        WHERE event_type = 'view' AND ts IS NOT NULL AND user_id IS NOT NULL
    ), b AS (
        SELECT user_id, ts AS buy_ts, value FROM events
        WHERE event_type = 'purchase' AND ts IS NOT NULL AND user_id IS NOT NULL
    )
    SELECT v.user_id, view_ts, buy_ts, value
    FROM v JOIN b ON v.user_id = b.user_id
     AND buy_ts >= view_ts
     AND buy_ts <= view_ts + INTERVAL 1 HOUR
    """

_EXTENSION_ORACLES["streaming_funnel"] = """
    WITH s1 AS (
        SELECT user_id, min(ts) AS t FROM events
        WHERE event_type = 'signup' AND ts IS NOT NULL GROUP BY 1
    ), s2 AS (
        SELECT e.user_id, min(e.ts) AS t FROM events e
        JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1
    ), s3 AS (
        SELECT e.user_id, min(e.ts) AS t FROM events e
        JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY 1
    ), s4 AS (
        SELECT e.user_id, min(e.ts) AS t FROM events e
        JOIN s3 ON e.user_id = s3.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY 1
    )
    SELECT s1.user_id AS user,
           CAST(CASE WHEN s4.t IS NOT NULL THEN 4
                WHEN s3.t IS NOT NULL THEN 3
                WHEN s2.t IS NOT NULL THEN 2
                ELSE 1 END AS INTEGER) AS stage,
           coalesce(s4.t, s3.t, s2.t, s1.t) AS reached_at
    FROM s1
    LEFT JOIN s2 ON s1.user_id = s2.user_id
    LEFT JOIN s3 ON s1.user_id = s3.user_id
    LEFT JOIN s4 ON s1.user_id = s4.user_id
    """

_EXTENSION_ORACLES["streaming_dedup"] = f"""
    SELECT DISTINCT md5({_NORM_TEXT}) AS content_hash FROM documents
    """

_EXTENSION_ORACLES["dedup_ngram_capped"] = f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS} AS t FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
    ), rare AS (
        SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 5
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a
        JOIN rare r ON a.shingle = r.shingle
        JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common, sa.n AS size_a, sb.n AS size_b,
           round(n_common / (sa.n + sb.n - n_common), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(n_common / (sa.n + sb.n - n_common), 4) >= 0.2
    """

_EXTENSION_ORACLES["simjoin_prefix"] = f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS} AS t FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common, sa.n AS size_a, sb.n AS size_b,
           round(n_common / (sa.n + sb.n - n_common), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(n_common / (sa.n + sb.n - n_common), 4) >= 0.8
    """

_EXTENSION_ORACLES["dup_span_stats"] = f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_NN} AS t FROM documents
    ), lens AS (
        SELECT doc_id, len(t) AS n_tokens FROM toks
    ), grams AS (
        SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+4], ' ') AS shingle
        FROM toks, unnest(generate_series(1, len(t) - 4)) AS u(i)
        WHERE len(t) >= 5
    ), dup AS (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   count(*) OVER (PARTITION BY shingle) AS c
            FROM grams
        ) WHERE c >= 2
    ), contrib AS (
        SELECT doc_id,
               least(5, coalesce(
                   lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos,
                   5)) AS c
        FROM dup
    ), cov AS (
        SELECT doc_id, count(*) AS dup_starts, sum(c) AS covered_tokens
        FROM contrib GROUP BY doc_id
    )
    SELECT l.doc_id, CAST(l.n_tokens AS INT) AS n_tokens,
           coalesce(c.dup_starts, 0) AS dup_starts,
           CAST(coalesce(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
           CASE WHEN l.n_tokens > 0 THEN
               floor(CAST(coalesce(c.covered_tokens, 0) AS DOUBLE)
                     / l.n_tokens * 10000.0 + 0.5) / 10000.0
           ELSE 0.0 END AS dup_ratio
    FROM lens l LEFT JOIN cov c ON l.doc_id = c.doc_id
    """

_EXTENSION_ORACLES["streaming_sessions"] = """
    WITH base AS (
        SELECT user_id, ts, event_id, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS prev_us
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), marked AS (
        SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
                       THEN 1 ELSE 0 END AS is_start
        FROM base
    ), sess AS (
        SELECT user_id, ts,
               sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sidx
        FROM marked
    )
    SELECT min(ts) AS session_start, user_id, count(*) AS n_events
    FROM sess GROUP BY user_id, sidx
    """

_EXTENSION_ORACLES["streaming_weekly"] = """
    SELECT date_trunc('week', ts) AS week,
           event_type,
           count(*) AS transactions,
           round((CAST(sum(CASE WHEN isfinite(value) THEN
                               CAST(floor(value * 10000.0 + 0.5) AS BIGINT)
                           END) AS DOUBLE) / 10000.0)
                 / count(CASE WHEN isfinite(value) THEN value END),
                 4) AS value_mean
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """

_EXTENSION_ORACLES["salted_event_stats"] = """
    SELECT event_type,
           CAST(sum(CASE WHEN isfinite(value) THEN
                    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) END)
                AS DOUBLE) / 10000.0 AS total_value,
           count(value) AS n_events
    FROM events
    GROUP BY event_type
    """

# Multimodal: the corpus is ASCII (asserted across all SFs), so char
# offsets == byte offsets and DuckDB can recompute frame slices, pixel
# values (hex-extracted bytes / 256 — exact binary fractions) and the
# feature norm without any blob functions.
_EXTENSION_ORACLES["multimodal_frames"] = r"""
    WITH m AS (
        SELECT doc_id, text, octet_length(encode(text)) AS n_bytes
        FROM documents
    )
    SELECT doc_id,
           CAST(i - 1 AS INT) AS frame_idx,
           CAST(length(substr(text, (i - 1) * 64 + 1, 64)) AS INT) AS frame_len,
           md5(substr(text, (i - 1) * 64 + 1, 64)) AS frame_md5
    FROM m, unnest(generate_series(1,
             -- coalesce mirrors the operator's null-payload guard:
             -- DuckDB's least is null-ignoring too, so a NULL text
             -- would otherwise fan out into 8 phantom frames
             least(8, CAST(ceil(coalesce(n_bytes, 0) / 64.0) AS BIGINT)))) AS u(i)
    """

_EXTENSION_ORACLES["multimodal_audio_check"] = r"""
    WITH m AS (
        SELECT doc_id, encode(text) AS payload,
               octet_length(encode(text)) AS n
        FROM documents
    ), b AS (
        SELECT doc_id, n,
               list_transform(range(0, n), i ->
                   CAST(('0x' || substr(to_hex(payload), i * 2 + 1, 2))
                        AS INT) - 128) AS d
        FROM m
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_samples,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(d, x -> CAST(x * x AS BIGINT))),
                (a, v) -> a + v) AS BIGINT) AS sum_sq,
           CAST(CASE WHEN n < 2 THEN 0
                ELSE len(list_filter(range(0, n - 1), i ->
                     (d[i + 1] < 0) != (d[i + 2] < 0)))
                END AS BIGINT) AS crossings
    FROM b
    """

_EXTENSION_ORACLES["multimodal_decode_check"] = r"""
    WITH m AS (
        SELECT doc_id, encode(text) AS payload,
               octet_length(encode(text)) AS n_bytes
        FROM documents
    ), px AS (
        SELECT doc_id, n_bytes,
            CASE WHEN n_bytes = 0
                 THEN list_transform(range(0, 16), i -> CAST(0.0 AS DOUBLE))
                 ELSE list_transform(range(0, 16), i ->
                     CAST(('0x' || substr(to_hex(payload),
                          (i % n_bytes) * 2 + 1, 2)) AS INT) / 256.0)
            END AS pixels
        FROM m
    )
    SELECT doc_id,
           ['png', 'jpeg', 'webp'][(n_bytes % 3) + 1] AS format,
           CAST(4 AS INT) AS width,
           CAST(4 AS INT) AS height,
           round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), pixels),
                 (x, y) -> x + y), 4) AS pixel_checksum,
           round(pixels[1], 4) AS first_pixel,
           round(pixels[16], 4) AS last_pixel
    FROM px
    """

_EXTENSION_ORACLES["multimodal_features_check"] = r"""
    WITH m AS (
        SELECT doc_id, encode(text) AS payload,
               octet_length(encode(text)) AS n_bytes
        FROM documents
    ), bytes AS (
        SELECT doc_id, n_bytes,
               list_transform(range(0, n_bytes), i ->
                   CAST(('0x' || substr(to_hex(payload), i * 2 + 1, 2))
                        AS INT)) AS bs
        FROM m
    ), feat AS (
        SELECT doc_id, n_bytes,
            CASE WHEN n_bytes = 0
                 THEN list_transform(range(0, 16), j -> CAST(0.0 AS DOUBLE))
                 ELSE list_transform(range(0, 16), j ->
                     len(list_filter(bs, b -> b % 16 = j))
                     / CAST(n_bytes AS DOUBLE))
            END AS f
        FROM bytes
    )
    SELECT doc_id,
           ['png', 'jpeg', 'webp'][(n_bytes % 3) + 1] AS format,
           round(CAST(CAST(sqrt(list_reduce(
                 list_prepend(CAST(0.0 AS DOUBLE),
                              list_transform(f, x -> x * x)),
                 (a, b) -> a + b)) AS FLOAT) AS DOUBLE), 4) AS feat_norm
    FROM feat
    """

_EXTENSION_ORACLES["tfidf_top_terms"] = r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(
                   lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
                   AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM toks WHERE term <> '' GROUP BY 1, 2
    ), df AS (
        SELECT term, count(*) AS df FROM tf GROUP BY 1
    ), n AS (
        SELECT count(*) AS n_docs FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.term, tf.tf,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    ), ranked AS (
        SELECT doc_id, term, tf, tfidf,
               CAST(row_number() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, term) AS INT) AS rank
        FROM scored
    )
    SELECT doc_id, term, tf, tfidf, rank FROM ranked WHERE rank <= 5
    """

_EXTENSION_ORACLES["bm25_scores"] = r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(
                   lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
                   AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM toks WHERE term IN ('spark', 'filter', 'window') GROUP BY 1, 2
    ), lens AS (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(
                   lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
                   x -> x <> '')) AS doc_len
        FROM documents
    ), stats AS (
        SELECT count(*) AS n_docs,
               CAST(sum(doc_len) AS DOUBLE) / count(*) AS avglen
        FROM lens
    ), scored AS (
        SELECT tf.doc_id, tf.tf, doc_len, n_docs, avglen,
               count(*) OVER (PARTITION BY term) AS df
        FROM tf JOIN lens USING (doc_id) CROSS JOIN stats
    )
    SELECT doc_id, count(*) AS n_matched_terms,
           floor((CAST(sum(CAST(round((
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * tf * 2.2
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * doc_len / avglen))
             ) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0)
             * 10000.0 + 0.5) / 10000.0 AS bm25,
           CAST(row_number() OVER (
               ORDER BY floor((CAST(sum(CAST(round((
                   ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                   * tf * 2.2
                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * doc_len / avglen))
                 ) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0)
                 * 10000.0 + 0.5) / 10000.0 DESC, doc_id) AS INT) AS rank
    FROM scored GROUP BY doc_id, doc_len, n_docs, avglen
    QUALIFY rank <= 50
    """

_EXTENSION_ORACLES["source_overlap"] = r"""
    WITH toks AS (
        SELECT source,
               regexp_split_to_array(
                   lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        FROM documents
    ), vocab AS (
        SELECT DISTINCT source, shingle FROM (
            SELECT source,
                   unnest(list_transform(range(1, len(t) - 1),
                          i -> array_to_string(t[i:i+2], ' '))) AS shingle
            FROM toks WHERE len(t) >= 3
        )
    ), sizes AS (
        SELECT source, count(*) AS n_shingles FROM vocab GROUP BY 1
    ), shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS shared_ngrams
        FROM vocab a JOIN vocab b USING (shingle)
        WHERE a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b, shared_ngrams,
           sa.n_shingles AS n_a, sb.n_shingles AS n_b,
           round(shared_ngrams
                 / CAST(sa.n_shingles + sb.n_shingles - shared_ngrams
                        AS DOUBLE), 4) AS jaccard,
           round(shared_ngrams
                 / CAST(least(sa.n_shingles, sb.n_shingles) AS DOUBLE), 4)
               AS containment
    FROM shared
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    """

_EXTENSION_ORACLES["lm_scores"] = r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(
                   lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
                   AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM toks WHERE term <> '' GROUP BY 1, 2
    ), ctf AS (
        SELECT doc_id, term, tf,
               sum(tf) OVER (PARTITION BY term) AS ctf,
               sum(tf) OVER (PARTITION BY doc_id) AS doc_len,
               (SELECT sum(tf) FROM tf) AS total
        FROM tf
    )
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           count(*) AS n_terms,
           floor((CAST(sum(CAST(round((tf * ln(CAST(doc_len AS DOUBLE) / tf))
                   * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0
                  / CAST(sum(tf) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
               AS entropy,
           floor((CAST(sum(CAST(round((tf * ln(CAST(total AS DOUBLE) / ctf))
                   * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0
                  / CAST(sum(tf) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
               AS cross_entropy
    FROM ctf GROUP BY doc_id
    """

def _zorder_oracle() -> str:
    from uk_housing_dashboard_etl_spark.sources.layout import zorder_sql

    return f"""
    WITH base AS (
        SELECT user_id,
               datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
        FROM events WHERE ts IS NOT NULL AND user_id >= 0
    ), zed AS (
        SELECT {zorder_sql('user_id', 'd')} AS z FROM base
    )
    SELECT z >> 10 AS cell, count(*) AS n_rows,
           min(z) AS z_min, max(z) AS z_max
    FROM zed GROUP BY 1
    """


_EXTENSION_ORACLES["zorder_cells"] = _zorder_oracle()

_EXTENSION_ORACLES["incremental_dedup"] = f"""
    WITH newd AS (
        SELECT doc_id, md5({_NORM_TEXT}) AS content_hash
        FROM documents WHERE doc_id % 2 = 1
    ), idx AS (
        SELECT DISTINCT md5({_NORM_TEXT}) AS content_hash
        FROM documents WHERE doc_id % 2 = 0
    )
    SELECT n.doc_id, n.content_hash,
           (i.content_hash IS NOT NULL) AS exact_dup_in_index,
           n.doc_id <> min(n.doc_id) OVER (PARTITION BY n.content_hash)
               AS exact_dup_in_batch
    FROM newd n LEFT JOIN idx i ON n.content_hash = i.content_hash
    """

_EXTENSION_ORACLES["scd2_history"] = """
    WITH base AS (
        SELECT user_id, event_type, ts, event_id FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), marked AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev,
               row_number() OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS rn
        FROM base
    ), changed AS (
        -- null-safe change test, mirroring the operator's eqNullSafe:
        -- NULL is a legitimate state and rn=1 marks the first event
        -- (prev IS NULL alone can't tell it from a prior NULL state)
        SELECT user_id, event_type, ts, event_id FROM marked
        WHERE rn = 1 OR event_type IS DISTINCT FROM prev
    )
    SELECT user_id AS key, event_type AS attr, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to,
           (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               IS NULL) AS is_current,
           CAST(row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS INT) AS version
    FROM changed
    """

_EXTENSION_ORACLES["snapshot_diff"] = f"""
    WITH o AS (
        SELECT doc_id, md5({_NORM_TEXT}) AS old_hash
        FROM documents WHERE doc_id % 4 <> 3
    ), n AS (
        SELECT doc_id,
               md5(lower(trim(regexp_replace(
                   CASE WHEN doc_id % 10 = 5 THEN text || ' ' || lang
                        ELSE text END, '\\s+', ' ', 'g')))) AS new_hash
        FROM documents WHERE doc_id % 4 <> 0
    )
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           -- IS DISTINCT FROM mirrors the operator's eqNullSafe: a
           -- NULL-text doc present in both snapshots is changed/
           -- unchanged by content, never added/removed (r10 fix)
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.old_hash IS DISTINCT FROM n.new_hash THEN 'changed'
                ELSE 'unchanged' END AS status,
           o.old_hash, n.new_hash
    FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    """

_EXTENSION_ORACLES["bpe_merges"] = f"""
    WITH words AS (
        SELECT unnest({_TOKS}) AS word FROM documents
    ), wc AS (
        SELECT word, count(*) AS n_words FROM words
        WHERE length(word) >= 2 GROUP BY 1
    ), pairs AS (
        SELECT substr(word, i, 2) AS pair, n_words
        FROM wc, unnest(generate_series(1, length(word) - 1)) AS u(i)
    ), agg AS (
        SELECT pair, CAST(sum(n_words) AS BIGINT) AS n_occurrences
        FROM pairs GROUP BY 1
    )
    SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, pair)
               AS INT) AS rank,
           pair, n_occurrences
    FROM agg QUALIFY rank <= 50
    """

_EXTENSION_ORACLES["table_profile"] = " UNION ALL ".join(
    f"""
    SELECT '{c}' AS "column", count(*) AS n_rows,
           count(*) - count({c}) AS n_nulls,
           count(DISTINCT {c}) AS n_distinct,
           floor(CAST(count(*) - count({c}) AS DOUBLE) / count(*)
                 * 10000.0 + 0.5) / 10000.0 AS null_frac,
           floor(CAST(count(DISTINCT {c}) AS DOUBLE) / count(*)
                 * 10000.0 + 0.5) / 10000.0 AS distinct_frac
    FROM events
    """
    for c in ["event_id", "ts", "user_id", "event_type", "value", "props"]
)

_EXTENSION_ORACLES["twap"] = """
    WITH base AS (
        SELECT user_id AS key, value,
               epoch_us(lead(ts) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id)) - epoch_us(ts) AS dt
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
          AND isfinite(value)
    )
    SELECT key, count(*) AS n_obs,
           -- HUGEINT multiply: value-units x µs-gaps overflows INT64
           -- (5e6 units x 3e12 µs crosses 2^63; the Spark side
           -- accumulates in decimal(38) for the same reason), and a
           -- key whose observations are all timestamp-tied has
           -- sum(dt) = 0 -> NULL twap, matching the operator
           CASE WHEN sum(dt) > 0 THEN
               floor((CAST(sum(CAST(round(value * 10000.0) AS HUGEINT)
                               * dt)
                          AS DOUBLE) / 10000.0 / sum(dt))
                     * 10000.0 + 0.5) / 10000.0
           END AS twap
    FROM base GROUP BY key
    """

_EXTENSION_ORACLES["join_cardinality"] = """
    WITH cl AS (
        SELECT o_orderkey AS orderkey, count(*) AS nl FROM orders GROUP BY 1
    ), cr AS (
        SELECT l_orderkey AS orderkey, count(*) AS nr FROM lineitem GROUP BY 1
    ), m AS (
        SELECT count(*) AS matched_keys,
               CAST(sum(nl * nr) AS BIGINT) AS join_rows
        FROM cl JOIN cr USING (orderkey)
    )
    SELECT m.matched_keys, m.join_rows,
           (SELECT count(*) FROM orders) AS left_rows,
           (SELECT count(*) FROM lineitem) AS right_rows,
           floor(CAST(m.join_rows AS DOUBLE)
                 / greatest((SELECT count(*) FROM orders),
                            (SELECT count(*) FROM lineitem))
                 * 10000.0 + 0.5) / 10000.0 AS amplification
    FROM m
    """

_EXTENSION_ORACLES["semantic_decontaminate"] = f"""
    WITH c AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0
    ), e AS (
        SELECT vec_id AS eval_id, embedding AS ev FROM embeddings
        WHERE vec_id % 10 = 0
    ), scored AS (
        SELECT c.vec_id, e.eval_id,
               floor(({_cos_sql('c.embedding', 'e.ev')})
                     * 10000.0 + 0.5) / 10000.0 AS cos
        FROM c CROSS JOIN e
    )
    , ranked AS (
        SELECT vec_id, eval_id, cos,
               row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, eval_id) AS rn,
               max(cos) OVER (PARTITION BY vec_id) AS mx
        FROM scored
    )
    SELECT vec_id, mx AS max_eval_cosine, eval_id AS closest_eval_id,
           (mx >= 0.4) AS contaminated
    FROM ranked WHERE rn = 1
    """

_EXTENSION_ORACLES["embedding_health"] = f"""
    WITH base AS (
        SELECT vec_id, embedding AS cv,
               len(embedding) AS dim,
               (len(list_filter(embedding,
                    x -> x IS NULL
                         OR NOT isfinite(CAST(x AS DOUBLE)))) > 0)
                   AS has_nan,
               {_NORM_SQL.format(a='embedding')} AS nrm
        FROM embeddings
    )
    SELECT count(*) AS n_vectors,
           count(CASE WHEN cv IS NULL THEN 1 END) AS n_null,
           CAST(min(dim) AS INT) AS dims_min,
           CAST(max(dim) AS INT) AS dims_max,
           count(CASE WHEN has_nan THEN 1 END) AS n_nan,
           count(CASE WHEN NOT has_nan AND nrm = 0.0 THEN 1 END)
               AS n_zero_norm,
           floor(quantile_cont(CASE WHEN NOT has_nan THEN nrm END, 0.01)
                 * 10000.0 + 0.5) / 10000.0 AS norm_p1,
           floor(quantile_cont(CASE WHEN NOT has_nan THEN nrm END, 0.5)
                 * 10000.0 + 0.5) / 10000.0 AS norm_p50,
           floor(quantile_cont(CASE WHEN NOT has_nan THEN nrm END, 0.99)
                 * 10000.0 + 0.5) / 10000.0 AS norm_p99
    FROM base
    """

_EXTENSION_ORACLES["attribution_credit"] = """
    WITH rel AS (
        SELECT user_id, event_type, ts, event_id FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
          AND event_type IN ('purchase', 'view', 'click', 'signup')
    ), marked AS (
        SELECT user_id AS u, event_type AS etype,
               coalesce(sum(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS win,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS is_conv
        FROM rel
    ), touches AS (
        SELECT u, etype, win FROM marked WHERE is_conv = 0
    ), convs AS (
        SELECT u, win AS cwin FROM marked WHERE is_conv = 1
    ), sizes AS (
        SELECT u, win, count(*) AS n FROM touches GROUP BY 1, 2
    ), credited AS (
        SELECT t.etype, 1.0 / s.n AS credit
        FROM touches t
        JOIN convs c ON t.u = c.u AND t.win = c.cwin
        JOIN sizes s ON s.u = t.u AND s.win = t.win
    ), unattributed AS (
        SELECT 'purchase' AS etype, 1.0 AS credit
        FROM convs c ANTI JOIN sizes s ON c.u = s.u AND c.cwin = s.win
    )
    SELECT etype AS event_type, count(*) AS n_touches,
           floor((CAST(sum(CAST(round(credit * 10000.0) AS BIGINT))
                      AS DOUBLE) / 10000.0) * 10000.0 + 0.5) / 10000.0
               AS credit
    FROM (SELECT * FROM credited UNION ALL SELECT * FROM unattributed)
    GROUP BY 1
    """

_EXTENSION_ORACLES["psi_drift"] = """
    WITH tagged AS (
        SELECT event_type, value AS v,
               (ts < TIMESTAMP '2024-01-16') AS ref
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL AND isfinite(value)
    ), edges AS (
        SELECT event_type,
               quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5,
                                 0.6, 0.7, 0.8, 0.9]) AS e
        FROM tagged WHERE ref GROUP BY 1
    ), bucketed AS (
        SELECT t.event_type, t.ref,
               1 + len(list_filter(ed.e, x -> t.v > x)) AS b
        FROM tagged t JOIN edges ed USING (event_type)
    ), counts AS (
        SELECT event_type, b,
               sum(CASE WHEN ref THEN 1 ELSE 0 END) AS cr,
               sum(CASE WHEN ref THEN 0 ELSE 1 END) AS cc
        FROM bucketed GROUP BY 1, 2
    ), dense AS (
        SELECT ed.event_type, u.i AS b,
               coalesce(c.cr, 0) AS cr, coalesce(c.cc, 0) AS cc
        FROM edges ed
        CROSS JOIN unnest(generate_series(1, 10)) AS u(i)
        LEFT JOIN counts c ON c.event_type = ed.event_type AND c.b = u.i
    ), terms AS (
        SELECT event_type, cr, cc,
               ((cr + 1) / (sum(cr) OVER (PARTITION BY event_type) + 10.0)
                - (cc + 1) / (sum(cc) OVER (PARTITION BY event_type) + 10.0))
               * ln(((cr + 1)
                     / (sum(cr) OVER (PARTITION BY event_type) + 10.0))
                    / ((cc + 1)
                       / (sum(cc) OVER (PARTITION BY event_type) + 10.0)))
                   AS t
        FROM dense
    ), agg AS (
        SELECT event_type,
               CAST(sum(cr) AS BIGINT) AS n_ref,
               CAST(sum(cc) AS BIGINT) AS n_cur,
               floor((CAST(sum(CAST(round(t * 10000.0) AS BIGINT)) AS DOUBLE)
                      / 10000.0) * 10000.0 + 0.5) / 10000.0 AS psi
        FROM terms GROUP BY 1
    )
    SELECT event_type, n_ref, n_cur, psi, (psi >= 0.2) AS drifted FROM agg
    """

_EXTENSION_ORACLES["pmi_pairs"] = f"""
    WITH dw AS (
        SELECT DISTINCT doc_id, w AS word
        FROM (SELECT doc_id, unnest({_TOKS}) AS w FROM documents)
        WHERE w <> ''
    ), n AS (
        SELECT count(DISTINCT doc_id) AS n_docs FROM dw
    ), cw AS (
        SELECT word, count(*) AS c FROM dw GROUP BY 1
    ), pairs AS (
        SELECT a.word AS word_a, b.word AS word_b, count(*) AS n_docs_both
        FROM dw a JOIN dw b
          ON a.doc_id = b.doc_id AND a.word < b.word
        GROUP BY 1, 2 HAVING count(*) >= 5
    ), scored AS (
        SELECT word_a, word_b, n_docs_both,
               floor(ln((n.n_docs * n_docs_both)
                        / CAST(ca.c * cb.c AS DOUBLE))
                     * 10000.0 + 0.5) / 10000.0 AS pmi
        FROM pairs
        JOIN cw ca ON ca.word = word_a
        JOIN cw cb ON cb.word = word_b
        CROSS JOIN n
    )
    SELECT word_a, word_b, n_docs_both, pmi,
           CAST(row_number() OVER (ORDER BY pmi DESC, word_a, word_b)
               AS INT) AS rank
    FROM scored QUALIFY rank <= 50
    """

_EXTENSION_ORACLES["value_trend"] = """
    WITH base AS (
        SELECT event_type,
               datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
               CAST(round(value * 10000.0) AS BIGINT) AS yu
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL AND isfinite(value)
    ), agg AS (
        SELECT event_type, count(*) AS n, sum(x) AS sx, sum(yu) AS sy,
               sum(CAST(x AS HUGEINT) * yu) AS sxy,
               sum(CAST(x AS HUGEINT) * x) AS sxx
        FROM base GROUP BY 1
    ), su AS (
        SELECT event_type, n, sx, sy,
               CASE WHEN (n * sxx - sx * sx) <> 0 THEN
                   CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE)
               END AS s
        FROM agg
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_points,
           floor(s / 10000.0 * 10000.0 + 0.5) / 10000.0 AS slope,
           floor((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                  - s * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
                 / 10000.0 * 10000.0 + 0.5) / 10000.0 AS intercept
    FROM su
    """

_EXTENSION_ORACLES["funnel_timing"] = """
    WITH s1 AS (
        SELECT user_id, min(ts) AS t FROM events
        WHERE event_type = 'signup' AND ts IS NOT NULL GROUP BY 1
    ), s2 AS (
        SELECT e.user_id, min(e.ts) AS t FROM events e
        JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1
    ), s3 AS (
        SELECT e.user_id, min(e.ts) AS t FROM events e
        JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY 1
    ), s4 AS (
        SELECT e.user_id, min(e.ts) AS t FROM events e
        JOIN s3 ON e.user_id = s3.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY 1
    ), d AS (
        SELECT 1 AS stage_from, epoch_us(s2.t) - epoch_us(s1.t) AS dt_us
        FROM s1 JOIN s2 USING (user_id)
        UNION ALL
        SELECT 2, epoch_us(s3.t) - epoch_us(s2.t)
        FROM s2 JOIN s3 USING (user_id)
        UNION ALL
        SELECT 3, epoch_us(s4.t) - epoch_us(s3.t)
        FROM s3 JOIN s4 USING (user_id)
    )
    SELECT CAST(stage_from AS INT) AS stage_from,
           CAST(stage_from + 1 AS INT) AS stage_to,
           count(*) AS n_users,
           floor(quantile_cont(dt_us, 0.5) / 1000000.0 * 10000.0 + 0.5)
               / 10000.0 AS median_s,
           floor(quantile_cont(dt_us, 0.9) / 1000000.0 * 10000.0 + 0.5)
               / 10000.0 AS p90_s
    FROM d GROUP BY stage_from
    """

_EXTENSION_ORACLES["cohort_matrix"] = """
    WITH active AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS week
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), cohorts AS (
        SELECT user_id, min(week) AS cohort_week FROM active GROUP BY 1
    ), sizes AS (
        SELECT cohort_week, count(*) AS cohort_size FROM cohorts GROUP BY 1
    ), joined AS (
        SELECT c.cohort_week, a.user_id,
               CAST(datediff('day', c.cohort_week, a.week) / 7 AS INT)
                   AS week_offset
        FROM active a JOIN cohorts c ON a.user_id = c.user_id
    )
    SELECT j.cohort_week, j.week_offset, s.cohort_size,
           count(DISTINCT j.user_id) AS active_users,
           floor(CAST(count(DISTINCT j.user_id) AS DOUBLE) / s.cohort_size
                 * 10000.0 + 0.5) / 10000.0 AS retention
    FROM joined j JOIN sizes s ON j.cohort_week = s.cohort_week
    WHERE j.week_offset <= 8
    GROUP BY j.cohort_week, j.week_offset, s.cohort_size
    """

_EXTENSION_ORACLES["user_sequences"] = """
    WITH base AS (
        SELECT user_id, ts, event_id, event_type FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), agg AS (
        SELECT user_id AS key, count(*) AS n,
               list(event_type ORDER BY ts, event_id) AS seq
        FROM base GROUP BY 1
    )
    SELECT key, CAST(least(n, 32) AS INT) AS seq_len,
           (n > 32) AS truncated,
           array_to_string(seq[greatest(1, len(seq) - 31):len(seq)], ' ')
               AS sequence
    FROM agg
    """

_EXTENSION_ORACLES["doc_chunks"] = f"""
    -- coalesce mirrors the Spark-side null-text rule: NULL text is no
    -- content, so len(t) is 0 (not null) and chunk_len stays honest
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(
                   lower(trim(regexp_replace(coalesce(text, ''),
                                             '\\s+', ' ', 'g'))), '\\s+'),
                   x -> x <> '') AS t
        FROM documents
    ), base AS (
        SELECT doc_id, t, len(t) AS n,
               CAST(1 + greatest(0, ceil((len(t) - 64) / 48.0)) AS INT)
                   AS nch
        FROM toks
    )
    SELECT doc_id, CAST(i AS INT) AS chunk_idx,
           CAST(i * 48 AS INT) AS start_token,
           CAST(least(64, n - i * 48) AS INT) AS chunk_len,
           array_to_string(t[i * 48 + 1:i * 48 + 64], ' ') AS chunk_text,
           md5(array_to_string(t[i * 48 + 1:i * 48 + 64], ' '))
               AS chunk_md5
    FROM base, unnest(generate_series(0, nch - 1)) AS u(i)
    """

_EXTENSION_ORACLES["debounce_events"] = """
    SELECT event_id, user_id, event_type, ts,
           (prev IS NOT NULL AND epoch_us(ts) - epoch_us(prev) < 600000000)
               AS is_dup
    FROM (
        SELECT event_id, user_id, event_type, ts,
               lag(ts) OVER (PARTITION BY user_id, event_type
                   ORDER BY ts, event_id) AS prev
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    )
    """

_EXTENSION_ORACLES["cap_events"] = """
    SELECT event_id, user_id, ts, CAST(ts AS DATE) AS day,
           CAST(row_number() OVER (
               PARTITION BY user_id, CAST(ts AS DATE)
               ORDER BY ts, event_id) AS INT) AS day_seq,
           (row_number() OVER (
               PARTITION BY user_id, CAST(ts AS DATE)
               ORDER BY ts, event_id) <= 5) AS kept
    FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    """

_EXTENSION_ORACLES["heavy_hitters"] = """
    WITH c AS (
        SELECT user_id, count(*) AS n_rows FROM events GROUP BY 1
    ), t AS (
        SELECT sum(n_rows) AS total FROM c
    ), top AS (
        SELECT user_id, n_rows,
               CAST(row_number() OVER (ORDER BY n_rows DESC, user_id)
                    AS INT) AS rank
        FROM c QUALIFY rank <= 20
    )
    SELECT rank, user_id, n_rows,
           floor(n_rows / total * 10000.0 + 0.5) / 10000.0 AS share,
           floor(sum(n_rows) OVER (ORDER BY rank) / total * 10000.0 + 0.5)
               / 10000.0 AS cum_share
    FROM top CROSS JOIN t
    """

_EXTENSION_ORACLES["key_skew"] = """
    WITH c AS (
        SELECT user_id, count(*) AS n FROM events GROUP BY 1
    )
    SELECT count(*) AS n_keys,
           CAST(sum(n) AS BIGINT) AS n_rows,
           max(n) AS max_count,
           floor(quantile_cont(n, 0.5) * 10000.0 + 0.5) / 10000.0
               AS p50_count,
           floor(quantile_cont(n, 0.9) * 10000.0 + 0.5) / 10000.0
               AS p90_count,
           floor(quantile_cont(n, 0.99) * 10000.0 + 0.5) / 10000.0
               AS p99_count,
           floor(max(n) * count(*) / sum(n) * 10000.0 + 0.5) / 10000.0
               AS skew_factor
    FROM c
    """

_EXTENSION_ORACLES["perplexity_buckets"] = r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(
                   lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
                   AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM toks WHERE term <> '' GROUP BY 1, 2
    ), ctf AS (
        SELECT doc_id, term, tf,
               sum(tf) OVER (PARTITION BY term) AS ctf,
               (SELECT sum(tf) FROM tf) AS total
        FROM tf
    ), ce AS (
        SELECT doc_id,
               floor((CAST(sum(CAST(round((tf * ln(CAST(total AS DOUBLE) / ctf))
                       * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0
                      / CAST(sum(tf) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
                   AS cross_entropy
        FROM ctf GROUP BY doc_id
    ), ranked AS (
        SELECT d.doc_id, d.lang, ce.cross_entropy,
               CAST(ntile(3) OVER (PARTITION BY d.lang
                    ORDER BY ce.cross_entropy, d.doc_id) AS INT) AS bucket
        FROM documents d JOIN ce ON d.doc_id = ce.doc_id
    )
    SELECT doc_id, lang, cross_entropy, bucket,
           CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket_label
    FROM ranked
    """

_EXTENSION_ORACLES["dsir_scores"] = r"""
    WITH toks AS (
        SELECT doc_id, (source = 'src0') AS tgt,
               unnest(regexp_split_to_array(
                   lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
                   AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, tgt, term, count(*) AS tf
        FROM toks WHERE term <> '' GROUP BY 1, 2, 3
    ), tot AS (
        SELECT sum(tf) AS total,
               sum(CASE WHEN tgt THEN tf ELSE 0 END) AS tgt_total,
               count(DISTINCT term) AS vocab
        FROM tf
    ), ctf AS (
        SELECT doc_id, tgt, term, tf,
               sum(tf) OVER (PARTITION BY term) AS ctf,
               sum(CASE WHEN tgt THEN tf ELSE 0 END)
                   OVER (PARTITION BY term) AS ttf
        FROM tf
    )
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           max(tgt) AS is_target,
           floor((CAST(sum(CAST(round((tf *
                   (ln(CAST(ttf + 1 AS DOUBLE) / (tgt_total + vocab))
                    - ln(CAST(ctf AS DOUBLE) / total))) * 10000.0) AS BIGINT))
                   AS DOUBLE) / 10000.0
                  / CAST(sum(tf) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
               AS dsir_score
    FROM ctf CROSS JOIN tot GROUP BY doc_id
    """

_EXTENSION_ORACLES["ngram_novelty"] = r"""
    WITH toks AS (
        SELECT doc_id,
               regexp_split_to_array(
                   lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        FROM documents
    ), grams AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t) - 1),
                          i -> array_to_string(t[i:i+2], ' '))) AS shingle
            FROM toks WHERE len(t) >= 3
        )
    ), df AS (
        SELECT shingle, count(*) AS df FROM grams GROUP BY 1
    )
    SELECT g.doc_id,
           count(*) AS n_ngrams,
           CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS novel_ngrams,
           round(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS novelty
    FROM grams g JOIN df USING (shingle)
    GROUP BY 1
    """

# Sketch family: the oracle can't reproduce HLL/KLL estimates, but it CAN
# assert the exact side bit-for-bit and that Spark's within-bound flags all
# read TRUE — a sketch drifting outside its envelope now hash-mismatches.
_EXTENSION_ORACLES["sketch_cardinalities"] = """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_distinct,
           TRUE AS within_5pct
    FROM events
    GROUP BY event_type
    """

_EXTENSION_ORACLES["sketch_weekly_distinct"] = """
    SELECT date_trunc('week', ts) AS week,
           COUNT(DISTINCT user_id) AS exact_weekly_distinct,
           TRUE AS within_5pct
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1
    """

_EXTENSION_ORACLES["sketch_quantiles"] = """
    SELECT event_type,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 4)
               AS exact_median,
           round(percentile_cont(0.9) WITHIN GROUP (ORDER BY value), 4)
               AS exact_p90,
           TRUE AS median_in_rank_band,
           TRUE AS p90_in_rank_band
    FROM events
    WHERE value IS NULL OR isfinite(value)
    GROUP BY event_type
    """

# the streaming drain must equal the batch cap row-for-row
_EXTENSION_ORACLES["streaming_rate_cap"] = _EXTENSION_ORACLES["cap_events"]

# BM25 score expression shared by the bm25_scores and rrf_fusion oracles:
# per-term contributions snapped to 1e-4 units (dsum), 4dp-rounded total.
_BM25_SCORE_SQL = """floor((CAST(sum(CAST(round((
                   ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                   * tf * 2.2
                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * doc_len / avglen))
                 ) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0)
                 * 10000.0 + 0.5) / 10000.0"""


def _bm25_list_cte(i: int, terms: list[str], depth: int) -> str:
    """CTE block producing ``list{i}`` = (doc_id, rank): the top-``depth``
    BM25 ranking for one probe term set. Shares the ``lens``/``stats``
    CTEs of the enclosing statement."""
    tl = ", ".join(f"'{t}'" for t in terms)
    return f"""toks{i} AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(
                   lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))
                   AS term
        FROM documents
    ), tf{i} AS (
        SELECT doc_id, term, count(*) AS tf
        FROM toks{i} WHERE term IN ({tl}) GROUP BY 1, 2
    ), scored{i} AS (
        SELECT tf{i}.doc_id, tf{i}.tf, doc_len, n_docs, avglen,
               count(*) OVER (PARTITION BY term) AS df
        FROM tf{i} JOIN lens USING (doc_id) CROSS JOIN stats
    ), list{i} AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY {_BM25_SCORE_SQL} DESC,
                    doc_id) AS INT) AS rank
        FROM scored{i} GROUP BY doc_id, doc_len, n_docs, avglen
        QUALIFY rank <= {depth}
    )"""


_EXTENSION_ORACLES["rrf_fusion"] = f"""
    WITH lens AS (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(
                   lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
                   x -> x <> '')) AS doc_len
        FROM documents
    ), stats AS (
        SELECT count(*) AS n_docs,
               CAST(sum(doc_len) AS DOUBLE) / count(*) AS avglen
        FROM lens
    ), {_bm25_list_cte(0, RRF_TERM_SETS[0], 100)},
    {_bm25_list_cte(1, RRF_TERM_SETS[1], 100)},
    fused AS (
        SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
               coalesce(CAST(floor(10000.0 / (60.0 + a.rank) + 0.5)
                        AS BIGINT), 0)
             + coalesce(CAST(floor(10000.0 / (60.0 + b.rank) + 0.5)
                        AS BIGINT), 0) AS units,
               (CASE WHEN a.rank IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN b.rank IS NOT NULL THEN 1 ELSE 0 END) AS n_lists
        FROM list0 a FULL OUTER JOIN list1 b ON a.doc_id = b.doc_id
    )
    SELECT doc_id, CAST(n_lists AS INT) AS n_lists,
           CAST(units AS DOUBLE) / 10000.0 AS rrf,
           CAST(row_number() OVER (ORDER BY units DESC, doc_id) AS INT)
               AS rank
    FROM fused
    QUALIFY rank <= 50
    """

_EXTENSION_ORACLES["quality_calibrate"] = f"""
    WITH s AS (
        SELECT doc_id, source,
               CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
               CASE WHEN len({_TOKS}) > 0
                    THEN len(list_filter({_TOKS}, x -> x IN ({_STOP_EN})))
                         / len({_TOKS}) ELSE 0.0 END AS stopword_ratio,
               CASE WHEN length(text) > 0
                    THEN (length(text) - length(regexp_replace(text,
                        '[.,;:!?''"()\\[\\]{{}}-]', '', 'g')))
                        / length(text) ELSE 0.0 END AS punct_ratio
        FROM documents
    ), q AS (
        SELECT doc_id, source,
               CASE WHEN n_tokens > 0 THEN
                   round(0.4 * least(1.0, stopword_ratio * 5)
                       + 0.3 * least(1.0, n_tokens / 100.0)
                       + 0.3 * (1.0 - least(1.0, punct_ratio * 10)), 4)
               ELSE 0.0 END AS quality
        FROM s
    ), p AS (
        SELECT doc_id, source, quality,
               round(percent_rank() OVER (PARTITION BY source
                     ORDER BY quality, doc_id), 4) AS src_pctile
        FROM q
    )
    SELECT doc_id, source, quality, src_pctile,
           CAST(CASE WHEN src_pctile >= 0.2 THEN 1 ELSE 0 END AS INT) AS keep
    FROM p
    """

_EXTENSION_ORACLES["vocab_growth"] = f"""
    WITH m AS (SELECT max(doc_id) AS max_id FROM documents),
    d AS (
        SELECT doc_id,
               CAST(floor(doc_id * 10 / (max_id + 1)) AS INT) AS bucket,
               list_filter({_TOKS}, x -> x <> '') AS toks
        FROM documents CROSS JOIN m
    ), pb AS (
        SELECT bucket, count(*) AS n_docs, sum(len(toks)) AS tokens
        FROM d GROUP BY 1
    ), fs AS (
        SELECT term, min(bucket) AS bucket FROM (
            SELECT bucket, unnest(toks) AS term FROM d
        ) GROUP BY term
    ), nt AS (
        SELECT bucket, count(*) AS new_terms FROM fs GROUP BY 1
    )
    SELECT pb.bucket, pb.n_docs,
           CAST(sum(pb.tokens) OVER (ORDER BY pb.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS tokens_cum,
           CAST(sum(coalesce(nt.new_terms, 0)) OVER (ORDER BY pb.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS vocab_cum
    FROM pb LEFT JOIN nt USING (bucket)
    """

_EXTENSION_ORACLES["trimmed_stats"] = f"""
    WITH r AS (
        SELECT o_orderpriority AS grp, o_totalprice AS val,
               row_number() OVER (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders
        -- NULLs excluded like non-finite (r13: the engines rank NULL
        -- at opposite ends, shifting the trim band)
        WHERE o_totalprice IS NOT NULL AND isfinite(o_totalprice)
    ), kept AS (
        SELECT * FROM r
        WHERE rn > (n * 5) // 100 AND rn <= n - (n * 5) // 100
    )
    SELECT grp AS o_orderpriority,
           CAST(max(n) AS BIGINT) AS n_total,
           count(*) AS n_kept,
           round({dmean_sql('val')}, 4) AS trimmed_mean,
           min(val) AS kept_min, max(val) AS kept_max
    FROM kept GROUP BY grp
    """

def q_ewma_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LA EWMA smoothing of weekly transactions (α=0.5) — a
    recursive fold expressed as a pure F.aggregate column expression;
    dyadic α keeps every step exact in IEEE double, so the recursive-CTE
    oracle matches bit-for-bit with no rounding."""
    from uk_housing_dashboard_etl_spark.operators.timeseries import ewma_smooth

    return ewma_smooth(
        _mart(spark, sf_dir)["weekly_by_la"].select(
            "week", "local_authority", "transactions"
        )
    )


_EXTENSION_ORACLES["ewma_weekly"] = _BASE.replace(
    "WITH", "WITH RECURSIVE", 1
) + """
    , base AS (
        SELECT local_authority, week,
               CAST(transactions AS DOUBLE) AS x,
               row_number() OVER (PARTITION BY local_authority
                   ORDER BY week) AS rn
        FROM weekly
    ), e AS (
        SELECT local_authority, week, x, rn, x AS ewma
        FROM base WHERE rn = 1
        UNION ALL
        SELECT b.local_authority, b.week, b.x, b.rn,
               0.5 * b.x + 0.5 * e.ewma AS ewma
        FROM base b JOIN e ON b.local_authority = e.local_authority
                          AND b.rn = e.rn + 1
    )
    SELECT local_authority, week, x AS transactions, ewma FROM e
    """

_EXTENSION_ORACLES["fuzzy_matches"] = """
    WITH cand AS (
        SELECT a.p_partkey AS left_key, a.p_name AS left_name,
               b.p_partkey AS right_key, b.p_name AS right_name,
               CAST(levenshtein(a.p_name, b.p_name) AS INT) AS distance
        FROM part a JOIN part b
          ON split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
         AND a.p_partkey <> b.p_partkey
         AND abs(length(a.p_name) - length(b.p_name)) <= 2
        WHERE levenshtein(a.p_name, b.p_name) <= 2
    ), r AS (
        SELECT *, row_number() OVER (PARTITION BY left_key
                      ORDER BY distance, right_key) AS rn
        FROM cand
    )
    SELECT left_key, left_name, right_key AS match_key,
           right_name AS match_name, distance
    FROM r WHERE rn = 1
    """

_EXTENSION_ORACLES["fuzzy_snm_recall"] = """
    WITH base AS (
        SELECT p_partkey AS key, p_name AS name,
               split_part(p_name, ' ', 1) AS block,
               row_number() OVER (PARTITION BY split_part(p_name, ' ', 1)
                   ORDER BY p_name, p_partkey) AS rn
        FROM part
    ), snm AS (
        SELECT least(a.key, b.key) AS key_a,
               greatest(a.key, b.key) AS key_b
        FROM base a JOIN base b
          ON a.block = b.block AND b.rn > a.rn AND b.rn <= a.rn + 5
        WHERE levenshtein(a.name, b.name) <= 2
    ), ex AS (
        SELECT a.p_partkey AS key_a, b.p_partkey AS key_b
        FROM part a JOIN part b
          ON split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
         AND a.p_partkey < b.p_partkey
         AND abs(length(a.p_name) - length(b.p_name)) <= 2
        WHERE levenshtein(a.p_name, b.p_name) <= 2
    ), j AS (
        SELECT coalesce(e.key_a, s.key_a) AS key_a,
               e.key_a AS e_mark, s.key_a AS s_mark
        FROM ex e FULL OUTER JOIN snm s
          ON e.key_a = s.key_a AND e.key_b = s.key_b
    )
    SELECT count(e_mark) AS n_exact, count(s_mark) AS n_snm,
           count(CASE WHEN e_mark IS NOT NULL AND s_mark IS NOT NULL
                 THEN 1 END) AS n_hit,
           round(count(CASE WHEN e_mark IS NOT NULL AND s_mark IS NOT NULL
                 THEN 1 END) / count(e_mark), 4) AS recall,
           CAST(count(s_mark) = count(CASE WHEN e_mark IS NOT NULL
                 AND s_mark IS NOT NULL THEN 1 END) AS INT) AS snm_subset
    FROM j
    """

_EXTENSION_ORACLES["fuzzy_pair_stats"] = """
    SELECT CAST(levenshtein(a.p_name, b.p_name) AS INT) AS distance,
           count(*) AS n_pairs,
           count(DISTINCT least(a.p_name, b.p_name) || '||'
                 || greatest(a.p_name, b.p_name)) AS n_name_pairs
    FROM part a JOIN part b
      ON split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
     AND a.p_partkey < b.p_partkey
     AND abs(length(a.p_name) - length(b.p_name)) <= 3
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    GROUP BY 1
    """
# the composite-blocked variant is lossless, so the oracle is identical
_EXTENSION_ORACLES["fuzzy_pair_stats_bucketed"] = _EXTENSION_ORACLES[
    "fuzzy_pair_stats"
]
# pure-SQL twin of the flagship mart: same answer, same oracle
_EXTENSION_ORACLES["sql_weekly_by_la"] = ORACLES["weekly_by_la"]
_EXTENSION_ORACLES["asof_forward"] = _ASOF_FORWARD_ORACLE


def q_name_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over part names: blocked name-grain fuzzy
    edges → connected components (large-star/small-star) → canonical
    entity id per RECORD. Transitivity matters: names that never
    matched directly share an entity through a chain. The oracle walks
    the same edges with a recursive reachability CTE."""
    from uk_housing_dashboard_etl_spark.operators.linkage import (
        resolve_entities,
    )

    # the name-grain graph is dimension-sized (64 nodes at sf0.1), so
    # the CC fixpoint rounds are pure task-scheduling overhead at 32
    # shuffle partitions — scope them down exactly like the streaming
    # drains do (the eager contraction runs inside this scope; the
    # record-grain join afterwards keeps the session default)
    with _stream_state_partitions(spark, 4):
        return resolve_entities(
            read_table(spark, sf_dir, "part"), max_dist=3
        )


_EXTENSION_ORACLES["name_entities"] = """
    WITH RECURSIVE names AS (
        SELECT DISTINCT p_name AS name FROM part
    ), blocked AS (
        SELECT name, split_part(name, ' ', 1) AS block,
               length(name) AS len
        FROM names
    ), prs AS (
        SELECT a.name AS name_a, b.name AS name_b
        FROM blocked a JOIN blocked b
          ON a.block = b.block AND a.name < b.name
         AND abs(a.len - b.len) <= 3
        WHERE levenshtein(a.name, b.name) <= 3
    ), edges AS (
        SELECT name_a AS src, name_b AS dst FROM prs
        UNION
        SELECT name_b AS src, name_a AS dst FROM prs
    ), reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ), labeled AS (
        SELECT n.name,
               least(n.name,
                     coalesce((SELECT min(r.dst) FROM reach r
                               WHERE r.src = n.name), n.name)) AS entity_id
        FROM names n
    ), ecount AS (
        SELECT entity_id, count(*) AS n_names FROM labeled GROUP BY 1
    )
    SELECT p.p_partkey AS key, p.p_name AS name, l.entity_id, e.n_names,
           count(*) OVER (PARTITION BY l.entity_id) AS n_records
    FROM part p
    JOIN labeled l ON p.p_name = l.name
    JOIN ecount e ON l.entity_id = e.entity_id
    """


def q_ks_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS test between the click and purchase value
    distributions — binless drift statistic with the asymptotic
    Kolmogorov p-value, complementing psi_drift's binned PSI."""
    from uk_housing_dashboard_etl_spark.operators.stats import ks_two_sample

    return ks_two_sample(
        read_table(spark, sf_dir, "events"),
        "event_type",
        "value",
        "click",
        "purchase",
    )


_EXTENSION_ORACLES["ks_values"] = """
    WITH per_val AS (
        SELECT value AS v,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
        FROM events
        WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
        GROUP BY 1
    ), cdf AS (
        SELECT CAST(sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                        PRECEDING AND CURRENT ROW) AS DOUBLE)
                   / CAST(sum(ca) OVER () AS DOUBLE) AS fa,
               CAST(sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                        PRECEDING AND CURRENT ROW) AS DOUBLE)
                   / CAST(sum(cb) OVER () AS DOUBLE) AS fb,
               sum(ca) OVER () AS na,
               sum(cb) OVER () AS nb
        FROM per_val
    ), agg AS (
        SELECT na, nb, max(abs(fa - fb)) AS d FROM cdf GROUP BY 1, 2
    ), lamd AS (
        SELECT na, nb, d,
               (sqrt(ne) + 0.12 + 0.11 / sqrt(ne)) * d AS lam
        FROM (SELECT na, nb, d,
                     CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                         / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) AS ne
              FROM agg)
    ), pv AS (
        -- an absent group leaves the test undefined: p goes NULL with D,
        -- like the operator's guard (unguarded, NaN clamps to 1.0 here)
        SELECT na, nb, d,
               CASE WHEN na > 0 AND nb > 0 THEN
               greatest(0.0, least(1.0,
                   2.0 * (exp(-2.0 * lam * lam) - exp(-8.0 * lam * lam)
                          + exp(-18.0 * lam * lam)))) END AS p
        FROM lamd
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(d, 4) AS d_stat,
           round(p, 4) AS p_approx, (p < 0.05) AS shifted
    FROM pv
    """


def q_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on a deterministic user_id%2 split with
    high-value-purchase conversion (every user makes SOME purchase at
    contract scale, so plain purchase conversion is degenerate) — the
    experimentation primitive, exact integer counts into a mirrored
    single-row z projection."""
    from uk_housing_dashboard_etl_spark.operators.stats import (
        ab_proportions_ztest,
    )

    return ab_proportions_ztest(
        read_table(spark, sf_dir, "events"),
        convert_expr=(F.col("event_type") == "purchase")
        & (F.col("value") > 150.0),
    )


_EXTENSION_ORACLES["ab_ztest"] = """
    WITH per_user AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase' AND value > 150.0
                        THEN 1 ELSE 0 END) AS conv,
               CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS va
        FROM events WHERE user_id IS NOT NULL
        GROUP BY user_id
    ), agg AS (
        SELECT sum(va) AS n_a, sum(1 - va) AS n_b,
               sum(va * conv) AS c_a, sum((1 - va) * conv) AS c_b
        FROM per_user
    ), calc AS (
        SELECT n_a, n_b,
               CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
               CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
               (CAST(c_a AS DOUBLE) + CAST(c_b AS DOUBLE))
                   / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pool,
               CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd
        FROM agg
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(pa, 4) AS rate_a, round(pb, 4) AS rate_b,
           round(pa - pb, 4) AS uplift,
           CASE WHEN pool > 0.0 AND pool < 1.0 THEN
               round((pa - pb) / sqrt(pool * (1.0 - pool)
                     * (1.0 / nad + 1.0 / nbd)), 4) END AS z_stat,
           CASE WHEN pool > 0.0 AND pool < 1.0 THEN
               (abs((pa - pb) / sqrt(pool * (1.0 - pool)
                     * (1.0 / nad + 1.0 / nbd))) > 1.96) END AS significant
    FROM calc
    """


def q_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash per image (contract fake-decode mode):
    the decode crosses the sanctioned Arrow path, the 8×8 mean /
    threshold-bit / fold packing are pure column math, and the oracle
    recomputes the full 63-bit hash from the payload bytes."""
    from uk_housing_dashboard_etl_spark.operators.multimodal import (
        attach_binary_payload,
        image_phash,
    )

    media = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    return image_phash(media, fake=True)


_EXTENSION_ORACLES["multimodal_phash"] = r"""
    WITH m AS (
        SELECT doc_id, encode(text) AS payload,
               octet_length(encode(text)) AS n_bytes
        FROM documents
    ), px AS (
        SELECT doc_id, n_bytes,
            CASE WHEN n_bytes = 0
                 THEN list_transform(range(0, 64), i -> CAST(0.0 AS DOUBLE))
                 ELSE list_transform(range(0, 64), i ->
                     CAST(('0x' || substr(to_hex(payload),
                          (i % n_bytes) * 2 + 1, 2)) AS INT) / 256.0)
            END AS pixels
        FROM m
    ), withmean AS (
        SELECT doc_id, n_bytes, pixels,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE), pixels),
                   (a, b) -> a + b) / 64.0 AS mean
        FROM px
    )
    SELECT doc_id,
           ['png', 'jpeg', 'webp'][(n_bytes % 3) + 1] AS format,
           list_reduce(list_prepend(CAST(0 AS BIGINT), range(1, 64)),
               (acc, i) -> acc * 2
                   + CASE WHEN pixels[i] > mean THEN 1 ELSE 0 END) AS phash
    FROM withmean
    """


def q_multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs within 4 bits of perceptual-hash distance —
    pigeonhole-banded (chunk count derived from the radius, so the
    banded join is COMPLETE); the oracle brute-forces every pair's
    bit_count(xor) and must land on the identical set. Radius 4 is the
    conventional average-hash near-dup threshold AND the scale-sane
    one: 5 chunks of 13 bits give 8192-way bands (vs radius 8's 9×7-bit
    bands whose 128-way collisions fanned ~10^8 candidates at sf0.1)."""
    from uk_housing_dashboard_etl_spark.operators.multimodal import (
        attach_binary_payload,
        image_phash,
        phash_pairs,
    )

    media = attach_binary_payload(read_table(spark, sf_dir, "documents"))
    return phash_pairs(image_phash(media, fake=True), max_hamming=4)


_EXTENSION_ORACLES["multimodal_phash_pairs"] = (
    _EXTENSION_ORACLES["multimodal_phash"].replace(
        """
    SELECT doc_id,
           ['png', 'jpeg', 'webp'][(n_bytes % 3) + 1] AS format,
           list_reduce(list_prepend(CAST(0 AS BIGINT), range(1, 64)),
               (acc, i) -> acc * 2
                   + CASE WHEN pixels[i] > mean THEN 1 ELSE 0 END) AS phash
    FROM withmean
    """,
        """
    , h AS (
        SELECT doc_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT), range(1, 64)),
                   (acc, i) -> acc * 2
                       + CASE WHEN pixels[i] > mean THEN 1 ELSE 0 END)
                   AS phash
        FROM withmean
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 4
    """,
    )
)


def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 five-step user journey prefixes by user count — path
    analysis over the events stream, deterministic (count desc, path)
    cut on the aggregated path frame."""
    from uk_housing_dashboard_etl_spark.operators.behavior import top_paths

    return top_paths(read_table(spark, sf_dir, "events"))


_EXTENSION_ORACLES["top_paths"] = """
    WITH ordered AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS rn
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
          AND event_type IS NOT NULL
    ), prefix AS (
        SELECT user_id,
               string_agg(event_type, ' > ' ORDER BY rn) AS path
        FROM ordered WHERE rn <= 5 GROUP BY user_id
    ), counts AS (
        SELECT path, count(*) AS n_users FROM prefix GROUP BY 1
    )
    SELECT path, n_users,
           CAST(row_number() OVER (ORDER BY n_users DESC, path)
                AS INTEGER) AS rank
    FROM counts
    QUALIFY rank <= 20
    """


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the 10
    most-similar corpus vectors with a DIFFERENT label (the label
    filter runs before the rank cut, so the k-th row is the k-th
    hardest genuine negative). Query side broadcasts; corpus never
    shuffles."""
    from uk_housing_dashboard_etl_spark.operators.similarity import (
        hard_negative_mining,
    )

    emb = _emb_valid(spark, sf_dir)
    corpus = emb.where(F.col("vec_id") >= 5)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    return hard_negative_mining(corpus, queries, k=10)


_EXTENSION_ORACLES["hard_negatives"] = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe, label AS query_label
        FROM embeddings WHERE vec_id < 5
    ), c AS (
        SELECT vec_id, embedding AS ce, label AS neg_label
        FROM embeddings WHERE vec_id >= 5
    ), scored AS (
        SELECT query_id, query_label, vec_id, neg_label,
               round({_cos_sql('qe', 'ce')}, 4) AS score
        FROM c CROSS JOIN q
        WHERE neg_label <> query_label
    )
    SELECT query_id, query_label, vec_id, neg_label, score,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, vec_id) AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= 10
    """


# ---------------------------------------------------------------- round 4
def q_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival profile (mean gap, CV, Goh-Barabási
    burstiness) — exact integer moment sums, one keyed exchange."""
    from uk_housing_dashboard_etl_spark.operators.behavior import (
        interarrival_stats,
    )

    return interarrival_stats(read_table(spark, sf_dir, "events"))


_EXTENSION_ORACLES["interarrival_stats"] = """
    WITH gaps AS (
        SELECT user_id,
               us - lag(us) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS gap
        FROM (SELECT user_id, ts, event_id, epoch_us(ts) AS us
              FROM events
              WHERE ts IS NOT NULL AND user_id IS NOT NULL)
    ), m AS (
        SELECT user_id,
               count(*) AS n_gaps,
               CAST(count(*) AS DOUBLE) AS nd,
               CAST(sum(gap) AS DOUBLE) AS sd,
               CAST(sum(CAST(gap AS HUGEINT) * gap) AS DOUBLE) AS s2d
        FROM gaps WHERE gap IS NOT NULL GROUP BY 1
    )
    SELECT user_id, n_gaps,
           round(sd / nd / 1000000.0, 4) AS mean_gap_s,
           round(sqrt((s2d - sd * sd / nd) / (nd - 1.0))
                 / (sd / nd), 4) AS cv_gap,
           round((sqrt((s2d - sd * sd / nd) / (nd - 1.0)) / (sd / nd) - 1.0)
                 / (sqrt((s2d - sd * sd / nd) / (nd - 1.0)) / (sd / nd) + 1.0),
                 4) AS burstiness
    FROM m WHERE n_gaps >= 2
    """


def q_benford_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit profile of lineitem gross prices with
    chi-square contributions — data-quality screen, single fact scan."""
    from uk_housing_dashboard_etl_spark.operators.stats import benford_profile

    return benford_profile(
        read_table(spark, sf_dir, "lineitem"), "l_extendedprice"
    )


_EXTENSION_ORACLES["benford_prices"] = """
    WITH src AS (
        SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
        WHERE l_extendedprice IS NOT NULL
          AND isfinite(l_extendedprice)
          AND l_extendedprice >= 1.0
    ), e0s AS (
        SELECT x, CAST(floor(log10(x)) AS INT) AS e0 FROM src
    ), es AS (
        SELECT x, CASE WHEN x < pow(10.0, CAST(e0 AS DOUBLE)) THEN e0 - 1
                       WHEN x >= pow(10.0, CAST(e0 AS DOUBLE)) * 10.0
                            THEN e0 + 1
                       ELSE e0 END AS e
        FROM e0s
    ), counts AS (
        SELECT CAST(floor(x / pow(10.0, CAST(e AS DOUBLE))) AS INT) AS digit,
               count(*) AS n
        FROM es GROUP BY 1
    ), shares AS (
        SELECT digit, n,
               CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE) AS sh,
               log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS ex,
               CAST(sum(n) OVER () AS DOUBLE) AS t
        FROM counts
    )
    SELECT digit, n, round(sh, 4) AS share, round(ex, 4) AS benford,
           round(t * (sh - ex) * (sh - ex) / ex, 4) AS chi2_term
    FROM shares
    """


def q_cusum_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM level-shift detector over the weekly mart —
    recursive fold vs the oracle's recursive CTE (identical op
    sequence, like ewma_weekly)."""
    from uk_housing_dashboard_etl_spark.operators.timeseries import (
        cusum_changepoints,
    )

    return cusum_changepoints(
        _mart(spark, sf_dir)["weekly_by_la"].select(
            "week", "local_authority", "transactions"
        ),
        threshold=5.0,
    )


_EXTENSION_ORACLES["cusum_weekly"] = _BASE.replace(
    "WITH", "WITH RECURSIVE", 1
) + """
    , base AS (
        SELECT local_authority, week,
               CAST(transactions AS DOUBLE) AS x,
               row_number() OVER (PARTITION BY local_authority
                   ORDER BY week) AS rn
        FROM weekly
    ), mu AS (
        SELECT local_authority,
               CAST(sum(CAST(transactions AS BIGINT)) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS mu
        FROM weekly GROUP BY 1
    ), c AS (
        SELECT b.local_authority, b.week, b.x, b.rn,
               greatest(0.0, 0.0 + (b.x - m.mu - 0.0)) AS spos,
               least(0.0, 0.0 + (b.x - m.mu + 0.0)) AS sneg
        FROM base b JOIN mu m ON b.local_authority = m.local_authority
        WHERE b.rn = 1
        UNION ALL
        SELECT b.local_authority, b.week, b.x, b.rn,
               greatest(0.0, c.spos + (b.x - m.mu - 0.0)),
               least(0.0, c.sneg + (b.x - m.mu + 0.0))
        FROM base b
        JOIN c ON b.local_authority = c.local_authority
              AND b.rn = c.rn + 1
        JOIN mu m ON b.local_authority = m.local_authority
    )
    SELECT local_authority, week, x AS transactions,
           round(spos, 4) AS cusum_pos, round(sneg, 4) AS cusum_neg,
           (spos > 5.0 OR sneg < -5.0) AS changepoint
    FROM c
    """


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment (Broder): ordered doc pairs where
    ≥50% of doc_a's 3-gram set sits inside doc_b — the quote/nesting
    relation symmetric Jaccard misses."""
    from uk_housing_dashboard_etl_spark.operators.dedup import (
        containment_pairs,
    )

    return containment_pairs(
        read_table(spark, sf_dir, "documents"), n=3, threshold=0.5
    )


_EXTENSION_ORACLES["dedup_containment"] = f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS} AS t FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS doc_x, b.doc_id AS doc_y, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), directed AS (
        SELECT doc_x AS doc_a, doc_y AS doc_b, n_common FROM inter
        UNION ALL
        SELECT doc_y AS doc_a, doc_x AS doc_b, n_common FROM inter
    )
    SELECT doc_a, doc_b, n_common, s.n AS size_a,
           round(n_common / s.n, 4) AS containment
    FROM directed JOIN sizes s ON s.doc_id = doc_a
    WHERE round(n_common / s.n, 4) >= 0.5
    """


def q_rare_token_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance histogram of fuzzy pairs blocked on each name's RAREST
    df≥2 corpus token — higher recall than first-token blocking (edits
    in the first word no longer split a pair across blocks) with block
    sizes bounded by the blocking token's name frequency. Computed at
    name grain (the sf0.1 part table is 20k records over 64 distinct
    names — record-grain enumeration is 13M candidates, name-grain is
    64²); the oracle enumerates every record pair and must land on
    identical counts."""
    from uk_housing_dashboard_etl_spark.operators.linkage import (
        rare_token_pair_histogram,
    )

    return rare_token_pair_histogram(
        read_table(spark, sf_dir, "part"), max_dist=2, length_bucket=4
    )


_EXTENSION_ORACLES["rare_token_linkage"] = """
    WITH tok AS (
        SELECT DISTINCT p_name AS name, u.t AS tok
        FROM part, unnest(string_split_regex(p_name, '\\s+')) AS u(t)
    ), df AS (
        SELECT tok, count(*) AS df FROM tok GROUP BY 1 HAVING count(*) >= 2
    ), rar AS (
        SELECT name, tok AS block FROM (
            SELECT tok.name, tok.tok,
                   row_number() OVER (PARTITION BY tok.name
                       ORDER BY df.df, tok.tok) AS rn
            FROM tok JOIN df ON tok.tok = df.tok
        ) WHERE rn = 1
    ), named AS (
        SELECT p.p_partkey AS key, p.p_name AS name, r.block,
               length(p.p_name) AS len
        FROM part p JOIN rar r ON p.p_name = r.name
    )
    SELECT CAST(levenshtein(a.name, b.name) AS INT) AS distance,
           count(*) AS n_pairs,
           count(DISTINCT least(a.name, b.name) || '||'
                 || greatest(a.name, b.name)) AS n_name_pairs
    FROM named a JOIN named b
      ON a.block = b.block AND a.key < b.key AND abs(a.len - b.len) <= 2
    WHERE levenshtein(a.name, b.name) <= 2
    GROUP BY 1
    """


def q_theil_sen_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per LA over the weekly mart — median of
    all pairwise slopes; tolerant of ~29% outlier weeks where OLS
    (`value_trend`) is not."""
    from uk_housing_dashboard_etl_spark.operators.stats import theil_sen_slope

    return theil_sen_slope(
        _mart(spark, sf_dir)["weekly_by_la"].select(
            "week", "local_authority", "transactions"
        )
    )


_EXTENSION_ORACLES["theil_sen_weekly"] = _BASE + """
    , pts AS (
        SELECT local_authority,
               date_diff('day', DATE '1970-01-01', CAST(week AS DATE)) AS x,
               CAST(transactions AS BIGINT) AS y
        FROM weekly
    ), slopes AS (
        SELECT a.local_authority,
               CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
        FROM pts a JOIN pts b
          ON a.local_authority = b.local_authority AND a.x < b.x
    )
    SELECT local_authority, count(*) AS n_pairs,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY slope), 4)
               AS theil_sen_slope
    FROM slopes GROUP BY 1
    """


def q_holt_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential level+trend smoothing per LA — the
    coupled two-state recursive fold vs a recursive-CTE oracle."""
    from uk_housing_dashboard_etl_spark.operators.timeseries import holt_linear

    return holt_linear(
        _mart(spark, sf_dir)["weekly_by_la"].select(
            "week", "local_authority", "transactions"
        )
    )


_EXTENSION_ORACLES["holt_weekly"] = _BASE.replace(
    "WITH", "WITH RECURSIVE", 1
) + """
    , base AS (
        SELECT local_authority, week,
               CAST(transactions AS DOUBLE) AS x,
               row_number() OVER (PARTITION BY local_authority
                   ORDER BY week) AS rn
        FROM weekly
    ), h AS (
        SELECT local_authority, week, x, rn, x AS l,
               CAST(0.0 AS DOUBLE) AS b
        FROM base WHERE rn = 1
        UNION ALL
        SELECT b2.local_authority, b2.week, b2.x, b2.rn,
               0.5 * b2.x + 0.5 * (h.l + h.b) AS l,
               0.5 * ((0.5 * b2.x + 0.5 * (h.l + h.b)) - h.l)
                   + 0.5 * h.b AS b
        FROM base b2 JOIN h ON b2.local_authority = h.local_authority
                           AND b2.rn = h.rn + 1
    )
    SELECT local_authority, week, x AS transactions,
           round(l, 4) AS level, round(b, 4) AS trend,
           round(l + b, 4) AS forecast
    FROM h
    """


def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association over (user, day) baskets: support /
    confidence / lift per co-occurring event-type pair, row-local pair
    fan-out (no basket self-join)."""
    from uk_housing_dashboard_etl_spark.operators.behavior import basket_lift

    return basket_lift(read_table(spark, sf_dir, "events"))


_EXTENSION_ORACLES["basket_lift"] = """
    WITH baskets AS (
        SELECT user_id, CAST(ts AS DATE) AS day, event_type
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
          AND event_type IS NOT NULL
        GROUP BY 1, 2, 3
    ), prs AS (
        SELECT a.event_type AS item_a, b.event_type AS item_b
        FROM baskets a JOIN baskets b
          ON a.user_id = b.user_id AND a.day = b.day
         AND a.event_type < b.event_type
    ), pc AS (
        SELECT item_a, item_b, count(*) AS pair_baskets
        FROM prs GROUP BY 1, 2 HAVING count(*) >= 2
    ), singles AS (
        SELECT event_type AS item, count(*) AS c FROM baskets GROUP BY 1
    ), tot AS (
        SELECT count(*) AS n
        FROM (SELECT DISTINCT user_id, day FROM baskets)
    )
    SELECT item_a, item_b, pair_baskets,
           sa.c AS baskets_a, sb.c AS baskets_b,
           round(CAST(pair_baskets AS DOUBLE) / CAST(n AS DOUBLE), 4)
               AS support,
           round(CAST(pair_baskets AS DOUBLE) / CAST(sa.c AS DOUBLE), 4)
               AS confidence,
           round(CAST(pair_baskets * n AS DOUBLE)
                 / CAST(sa.c * sb.c AS DOUBLE), 4) AS lift
    FROM pc
    JOIN singles sa ON pc.item_a = sa.item
    JOIN singles sb ON pc.item_b = sb.item
    CROSS JOIN tot
    """


def q_streaming_distinct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL++ weekly distinct users under the driver gate:
    ``approx_count_distinct`` is the only distinct aggregate a stream
    can run (exact needs unbounded window-member state); the drain is
    joined against the exact batch distinct and every week must sit
    inside the 5% envelope (the streaming twin of
    ``sketch_weekly_distinct``). Exact values are emitted for the
    oracle's value hash; the flags must all read TRUE."""
    import hashlib
    import tempfile
    import uuid

    from uk_housing_dashboard_etl_spark.streaming.weekly_stream import (
        distinct_stream,
        run_stream_once,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    land = os.path.join(tempfile.gettempdir(), f"spark_graft_dstream_{tag}")
    os.makedirs(land, exist_ok=True)
    link = os.path.join(land, "events.parquet")
    try:
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    except FileExistsError:
        pass
    sdf = distinct_stream(spark, land)
    # DELIBERATE PROXY (r11 verdict item 7): the agg keys state on week
    # alone, but the sizing reuses the weekly drain's (week, event_type)
    # memo slot instead of paying a second approx_count_distinct scan
    # (~0.5 s/suite). The composite count is a small constant factor
    # (|event_type| ~5) over the true key count. Precise bound (r12
    # advice item 3): the proxy leaves the partition pick unchanged
    # only while both counts land on the same side of the JVM rule's
    # 25k-keys-per-shard divisor — true at sf0.1 (both pick the floor,
    # 4) and at production scale (both clamp to the cluster default),
    # but a corpus with ~5k-25k distinct weeks WOULD get up to 5× more
    # shards than measured-key sizing intends; week-grain keys make
    # that regime unreachable here (5k weeks ≈ a century of data).
    groups = _measured_groups(
        spark, sf_dir, "events", ("date_trunc('week', ts)", "event_type")
    )
    with _sized_state_partitions(spark, groups):
        approx = run_stream_once(
            sdf, query_name=f"dstr_{uuid.uuid4().hex[:10]}"
        )
    exact = (
        read_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .groupBy(F.date_trunc("week", F.col("ts")).alias("week"))
        .agg(F.count_distinct("user_id").alias("exact_weekly_distinct"))
    )
    return exact.join(approx, "week", "left").select(
        "week",
        "exact_weekly_distinct",
        (
            F.col("approx_users").isNotNull()
            & (
                F.abs(
                    F.col("approx_users") - F.col("exact_weekly_distinct")
                )
                <= F.col("exact_weekly_distinct") * F.lit(0.05)
            )
        ).alias("within_5pct"),
    )


_EXTENSION_ORACLES["streaming_distinct_check"] = """
    SELECT date_trunc('week', ts) AS week,
           COUNT(DISTINCT user_id) AS exact_weekly_distinct,
           TRUE AS within_5pct
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
    GROUP BY 1
    """


def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking near-dup pairs (FastCDC-style gear
    boundaries over token streams): edit-resistant chunk-grain overlap
    — an insertion shifts fixed chunks but CDC boundaries re-align.
    Exact int64 rolling hashes on both engines; the oracle re-derives
    boundaries, chunks and overlaps from scratch."""
    from uk_housing_dashboard_etl_spark.operators.dedup import (
        cdc_chunk_pairs,
    )

    return cdc_chunk_pairs(
        read_table(spark, sf_dir, "documents"),
        window=4,
        divisor=16,
        threshold=0.5,
    )


_EXTENSION_ORACLES["cdc_chunk_dedup"] = f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS} AS t FROM documents
    ), th AS (
        SELECT doc_id, t,
               list_transform(t, tok -> list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(generate_series(1, length(tok)),
                           i -> CAST(ascii(substring(tok, i, 1)) AS BIGINT))),
                   (a, c) -> (a * 31 + c) % 1000003)) AS th
        FROM toks
    ), bp AS (
        SELECT doc_id, t,
               list_sort(list_distinct(list_concat(list_concat(
                   [0],
                   list_filter(list_transform(generate_series(4, len(th)),
                       j -> CASE WHEN (th[j-3] * 2248091 + th[j-2] * 17161
                                       + th[j-1] * 131 + th[j]) % 16 = 0
                                 THEN j ELSE -1 END), p -> p > 0)),
                   [len(t)]))) AS bpos
        FROM th
    ), ch AS (
        SELECT DISTINCT doc_id,
               md5(array_to_string(t[(bpos[i] + 1):(bpos[i + 1])], ' '))
                   AS chunk_md5
        FROM bp, unnest(generate_series(1, len(bpos) - 1)) AS u(i)
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM ch GROUP BY 1
    ), shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(*) AS shared_chunks
        FROM ch a JOIN ch b
          ON a.chunk_md5 = b.chunk_md5 AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, shared_chunks, sa.n AS chunks_a, sb.n AS chunks_b,
           round(shared_chunks / least(sa.n, sb.n), 4) AS overlap
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(shared_chunks / least(sa.n, sb.n), 4) >= 0.5
    """


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact D×D covariance of the embedding table from integer moment
    sums — PCA/whitening prep and the representation-drift statistic;
    shuffle carries |dims|² rows, never vectors."""
    from uk_housing_dashboard_etl_spark.operators.similarity import (
        embedding_covariance,
    )

    return embedding_covariance(_emb_valid(spark, sf_dir))


_EXTENSION_ORACLES["embedding_covariance"] = """
    WITH u AS (
        SELECT list_transform(embedding, x ->
                   CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                        AS BIGINT)) AS u
        FROM embeddings WHERE embedding IS NOT NULL
    ), prods AS (
        SELECT i.i AS dim_i, j.j AS dim_j,
               CAST(sum(CAST(u[i.i] * u[j.j] AS HUGEINT)) AS DOUBLE) AS sxy
        FROM u, unnest(generate_series(1, len(u))) AS i(i),
                unnest(generate_series(i.i, len(u))) AS j(j)
        GROUP BY 1, 2
    ), singles AS (
        SELECT i.i AS dim, count(*) AS n, CAST(sum(u[i.i]) AS DOUBLE) AS s
        FROM u, unnest(generate_series(1, len(u))) AS i(i)
        GROUP BY 1
    )
    SELECT p.dim_i, p.dim_j, si.n,
           round(p.sxy / 1000000000000.0 / CAST(si.n AS DOUBLE)
                 - (si.s / 1000000.0 / CAST(si.n AS DOUBLE))
                   * (sj.s / 1000000.0 / CAST(si.n AS DOUBLE)), 4) AS cov
    FROM prods p
    JOIN singles si ON p.dim_i = si.dim
    JOIN singles sj ON p.dim_j = sj.dim
    """


def q_sql_weekly_by_la(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship weekly mart expressed in PURE Spark SQL over temp
    views — proving the engine's SQL surface produces the identical
    answer to the DataFrame composition (same oracle as
    ``weekly_by_la``). Catalyst compiles both to the same plan shape:
    broadcast dimension join, split count-distinct / percentile
    aggregates notwithstanding, identical rounding conventions."""
    read_table(spark, sf_dir, "events").createOrReplaceTempView(
        "__sql_events"
    )
    read_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "__sql_customer"
    )
    read_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "__sql_nation"
    )
    return spark.sql(
        """
        WITH lookup AS (
            SELECT CAST(c_custkey AS STRING) AS key,
                   n_name AS local_authority
            FROM __sql_customer JOIN __sql_nation
              ON c_nationkey = n_nationkey
            WHERE c_custkey % 7 <> 3
        ), enriched AS (
            -- non-finite prices leave the mart's mean/percentiles like
            -- NULLs (weekly_mart's r13 boundary, identical guard)
            SELECT e.ts AS date, e.event_id AS transaction_id,
                   CASE WHEN NOT isnan(e.value)
                        AND abs(e.value) < CAST('Infinity' AS DOUBLE)
                        THEN e.value END AS price,
                   l.local_authority
            FROM __sql_events e
            LEFT JOIN lookup l ON CAST(e.user_id AS STRING) = l.key
            WHERE e.ts IS NOT NULL
        ), weekly AS (
            SELECT date_trunc('week', date) AS week, local_authority,
                   count(DISTINCT transaction_id) AS transactions,
                   (CAST(sum(CAST(round(price * 10000.0) AS BIGINT))
                         AS DOUBLE) / 10000.0) / count(price) AS price_mean,
                   percentile(price, 0.5) AS price_median,
                   percentile(price, 0.1) AS price_p10,
                   percentile(price, 0.9) AS price_p90
            FROM enriched
            WHERE local_authority IS NOT NULL
            GROUP BY 1, 2
        )
        SELECT week, local_authority, transactions,
               floor(price_mean * 10000.0D + 0.5D) / 10000.0D
                   AS price_mean,
               floor(price_median * 10000.0D + 0.5D) / 10000.0D
                   AS price_median,
               floor(price_p10 * 10000.0D + 0.5D) / 10000.0D AS price_p10,
               floor(price_p90 * 10000.0D + 0.5D) / 10000.0D AS price_p90
        FROM weekly
        """
    )


def q_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate removal at 10-token chunk grain
    (CCNet-style line dedup for newline-free docs): chunks appearing in
    >2 distinct docs are dropped and survivors reassembled in order."""
    from uk_housing_dashboard_etl_spark.operators.text_analysis import (
        strip_boilerplate_chunks,
    )

    return strip_boilerplate_chunks(
        read_table(spark, sf_dir, "documents"),
        chunk_tokens=10,
        max_chunk_df=2,
    )


_EXTENSION_ORACLES["strip_boilerplate"] = f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS} AS t FROM documents
    ), chunks AS (
        SELECT doc_id, u.c AS pos,
               array_to_string(t[(u.c*10+1):(u.c*10+10)], ' ') AS chunk
        FROM toks, unnest(generate_series(0,
                 CAST(ceil(len(t) / 10.0) AS BIGINT) - 1)) AS u(c)
    ), df AS (
        SELECT chunk, count(DISTINCT doc_id) AS df FROM chunks GROUP BY 1
    ), kept AS (
        SELECT c.doc_id, c.pos, c.chunk
        FROM chunks c JOIN df ON c.chunk = df.chunk WHERE df.df <= 2
    ), agg AS (
        SELECT doc_id, count(*) AS n_kept,
               string_agg(chunk, ' ' ORDER BY pos) AS clean_text
        FROM kept GROUP BY 1
    ), tot AS (
        SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(t.n_chunks, 0) AS n_chunks,
           CAST(coalesce(t.n_chunks, 0) - coalesce(a.n_kept, 0) AS INT)
               AS n_removed,
           coalesce(a.clean_text, '') AS clean_text
    FROM documents d
    LEFT JOIN tot t ON d.doc_id = t.doc_id
    LEFT JOIN agg a ON d.doc_id = a.doc_id
    """

def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global profile of the part co-purchase graph (parts sharing an
    order, 1996 ship-year slice — a range predicate that reaches the
    parquet scan): nodes, canonical edges, triangles, wedges,
    transitivity. Triangles count via degree-ordered orientation
    (out-degree bounded by O(sqrt(m)) — the hub-safe plan); the oracle
    counts them with the canonical a<b<c three-way self-join and must
    agree exactly. The full-corpus graph is registry-reachable through
    the operator; the year slice keeps the bench honest about the
    wedge-join volume (the full sf0.1 graph has mean degree 120 and
    36M wedges — measured 13 s vs 5 s for the slice)."""
    from uk_housing_dashboard_etl_spark.operators.graph import (
        copurchase_edges,
        triangle_stats,
    )

    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    return triangle_stats(copurchase_edges(li))


_EXTENSION_ORACLES["copurchase_triangles"] = """
    WITH items AS (
        SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
    ), e AS (
        SELECT a.item AS src, b.item AS dst
        FROM items a JOIN items b ON a.g = b.g AND a.item < b.item
        GROUP BY 1, 2
    ), deg AS (
        SELECT node, count(*) AS deg FROM (
            SELECT src AS node FROM e UNION ALL SELECT dst FROM e
        ) GROUP BY node
    ), tri AS (
        SELECT count(*) AS n_triangles
        FROM e e1
        JOIN e e2 ON e1.dst = e2.src
        JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ), agg AS (
        SELECT count(*) AS n_nodes,
               CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges
        FROM deg
    ), ne AS (
        SELECT count(*) AS n_edges FROM e
    )
    SELECT n_nodes, n_edges, n_triangles, n_wedges,
           CASE WHEN n_wedges > 0
                THEN round(3.0 * n_triangles / n_wedges, 4)
           END AS transitivity
    FROM agg, ne, tri
    """


def q_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram + Clauset power-law MLE for the 1996-slice
    co-purchase graph (same edge CTE as copurchase_triangles); the
    oracle recomputes histogram, shares, and alpha exactly."""
    from uk_housing_dashboard_etl_spark.operators.graph import (
        copurchase_edges,
        degree_profile,
    )

    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    return degree_profile(copurchase_edges(li))


_EXTENSION_ORACLES["degree_profile"] = """
    WITH items AS (
        SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
    ), e AS (
        SELECT a.item AS src, b.item AS dst
        FROM items a JOIN items b ON a.g = b.g AND a.item < b.item
        GROUP BY 1, 2
    ), deg AS (
        SELECT node, count(*) AS degree FROM (
            SELECT src AS node FROM e UNION ALL SELECT dst FROM e
        ) GROUP BY node
    ), tot AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               sum(ln(degree / 0.5)) AS slog
        FROM deg
    )
    SELECT degree, count(*) AS n_nodes,
           round(count(*) / tot.n, 4) AS node_share,
           round(1.0 + tot.n / tot.slog, 4) AS alpha_hat
    FROM deg CROSS JOIN tot
    GROUP BY degree, tot.n, tot.slog
    """


def q_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (5 power iterations, d=0.85, no dangling
    redistribution) over the symmetrized customer<->supplier trade
    graph. The oracle unrolls the identical recurrence; ranks are
    normalized to mean 1 and 4dp-rounded so per-node inflow-sum
    ordering differences between engines cannot flip the hash."""
    from uk_housing_dashboard_etl_spark.operators.graph import (
        pagerank,
        trade_edges,
    )

    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    return pagerank(trade_edges(o, li), iters=5, damping=0.85)


def _pagerank_oracle_sql(iters: int = 5) -> str:
    """Unroll the PageRank recurrence into chained CTEs (standard SQL
    forbids aggregates in a recursive term, so fixed iterations unroll
    instead — same shape the Spark loop builds)."""
    steps = []
    for k in range(1, iters + 1):
        steps.append(
            f"""r{k} AS (
        SELECT nd.node, 0.15 / nn.n + 0.85 * coalesce(s.x, 0.0) AS r
        FROM nodes nd CROSS JOIN nn
        LEFT JOIN (
            SELECT e.dst AS node, sum(r{k - 1}.r * e.p) AS x
            FROM r{k - 1} JOIN e ON r{k - 1}.node = e.src
            GROUP BY e.dst
        ) s ON nd.node = s.node
    )"""
        )
    return (
        """
    WITH pairs AS (
        SELECT 'c:' || CAST(o.o_custkey AS VARCHAR) AS c,
               's:' || CAST(l.l_suppkey AS VARCHAR) AS s,
               CAST(count(*) AS DOUBLE) AS w
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ), e0 AS (
        SELECT c AS src, s AS dst, w FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst, w FROM pairs
    ), outw AS (
        SELECT src, sum(w) AS ow FROM e0 GROUP BY src
    ), e AS (
        SELECT e0.src, e0.dst, e0.w / outw.ow AS p
        FROM e0 JOIN outw ON e0.src = outw.src
    ), nodes AS (
        SELECT DISTINCT node FROM (
            SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0
        )
    ), nn AS (
        SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
    ), r0 AS (
        SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn
    ), """
        + ", ".join(steps)
        + f"""
    SELECT node, round(r * nn.n, 4) AS rank_norm
    FROM r{iters} CROSS JOIN nn
    """
    )


_EXTENSION_ORACLES["pagerank_trade"] = _pagerank_oracle_sql(5)

def q_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-round synchronous label propagation over the 1996 co-purchase
    slice: deterministic (most-frequent neighbour label, smallest-label
    ties), so the oracle can replay the identical recurrence with
    unrolled count/row_number CTEs and must land on the same labels."""
    from uk_housing_dashboard_etl_spark.operators.graph import (
        copurchase_edges,
        label_propagation,
    )

    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    return label_propagation(copurchase_edges(li), iters=5)


def _lpa_oracle_sql(iters: int = 5) -> str:
    """Unrolled synchronous LPA: per round one neighbour-label count
    and one smallest-label-wins argmax cut, identical to the Spark
    loop's two exchanges."""
    steps = []
    for k in range(1, iters + 1):
        steps.append(
            f"""c{k} AS (
        SELECT e.src AS node, l.label, count(*) AS c
        FROM e JOIN l{k - 1} l ON e.dst = l.node
        GROUP BY 1, 2
    ), p{k} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (
                       PARTITION BY node ORDER BY c DESC, label) AS rn
            FROM c{k}) WHERE rn = 1
    ), l{k} AS (
        SELECT n.node, coalesce(p.label, n.node) AS label
        FROM nodes n LEFT JOIN p{k} p ON n.node = p.node
    )"""
        )
    return (
        """
    WITH items AS (
        SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
    ), e0 AS (
        SELECT a.item AS src, b.item AS dst
        FROM items a JOIN items b ON a.g = b.g AND a.item < b.item
        GROUP BY 1, 2
    ), e AS (
        SELECT src, dst FROM e0
        UNION
        SELECT dst AS src, src AS dst FROM e0
    ), nodes AS (
        SELECT DISTINCT src AS node FROM e
    ), l0 AS (
        SELECT node, node AS label FROM nodes
    ), """
        + ", ".join(steps)
        + f"""
    SELECT l.node, l.label, s.community_size
    FROM l{iters} l
    JOIN (SELECT label, count(*) AS community_size
          FROM l{iters} GROUP BY label) s ON l.label = s.label
    """
    )


_EXTENSION_ORACLES["communities"] = _lpa_oracle_sql(5)

_EXTENSION_ORACLES["weighted_sample"] = """
    SELECT doc_id, n_chars
    FROM documents
    WHERE n_chars > 0
    ORDER BY pow(
        (CAST((doc_id * 2654435761) % 1000000007 AS DOUBLE) + 0.5)
            / 1000000007.0,
        1.0 / n_chars) DESC, doc_id
    LIMIT 500
    """

ORACLES.update(_EXTENSION_ORACLES)

# rewrite round(x, 4) into the engine-portable floor formula everywhere
ORACLES = {name: _rewrite_round4(sql) for name, sql in ORACLES.items()}

# Recall gates for the approximate families (built after the rewrite so
# they can embed the already-rewritten exact-pair oracles): the oracle
# recomputes the exact side and asserts every Spark-computed recall /
# subset flag is TRUE — an ANN or LSH regression flips a flag and fails
# the driver's value-hash comparison.
ORACLES["cluster_split"] = (
    "WITH assigned AS ("
    + ORACLES["dedup_clusters"]
    + """)
    SELECT doc_id, cluster_id, cluster_size,
           CASE WHEN (cluster_id * 2654435761) % 1000000007 % 100 < 10
                THEN 'test'
                WHEN (cluster_id * 2654435761) % 1000000007 % 100 < 20
                THEN 'val'
                ELSE 'train' END AS split
    FROM assigned
    """
)
ORACLES["similarity_ivfpq_recall"] = (
    "SELECT vec_id AS query_id, TRUE AS recall_ok FROM embeddings WHERE vec_id < 5"
)
ORACLES["similarity_ivfpq_res_recall"] = (
    "SELECT vec_id AS query_id, TRUE AS recall_ok FROM embeddings WHERE vec_id < 5"
)
ORACLES["similarity_pq_recall"] = (
    "SELECT vec_id AS query_id, TRUE AS recall_ok FROM embeddings WHERE vec_id < 5"
)
ORACLES["similarity_lsh_recall"] = (
    "SELECT vec_id AS query_id, TRUE AS recall_ok FROM embeddings WHERE vec_id < 5"
)
ORACLES["similarity_ivf_recall"] = (
    "SELECT vec_id AS query_id, TRUE AS recall_ok FROM embeddings WHERE vec_id < 5"
)
ORACLES["split_leakage"] = (
    "WITH pairs AS ("
    + ORACLES["dedup_ngram_jaccard"]
    + """)
    , assign AS (
        SELECT doc_id,
               CASE WHEN h < 10 THEN 'test' WHEN h < 20 THEN 'val'
                    ELSE 'train' END AS split
        FROM (SELECT doc_id,
                     (doc_id * 2654435761) % 1000000007 % 100 AS h
              FROM documents)
    ), crossed AS (
        SELECT CASE WHEN a.split = 'train' THEN p.doc_a ELSE p.doc_b END
                   AS train_id,
               CASE WHEN a.split = 'train' THEN p.doc_b ELSE p.doc_a END
                   AS eval_id,
               CASE WHEN a.split = 'train' THEN a.split ELSE b.split END
                   AS t
        FROM pairs p
        JOIN assign a ON p.doc_a = a.doc_id
        JOIN assign b ON p.doc_b = b.doc_id
        WHERE a.split <> b.split AND p.jaccard >= 0.5
    ), off AS (
        SELECT train_id AS doc_id, min(eval_id) AS leaks_to,
               count(*) AS n_eval_dups
        FROM crossed WHERE t = 'train' GROUP BY 1
    )
    SELECT t.doc_id, o.leaks_to,
           coalesce(o.n_eval_dups, 0) AS n_eval_dups,
           (o.leaks_to IS NOT NULL) AS leaky
    FROM (SELECT doc_id FROM assign WHERE split = 'train') t
    LEFT JOIN off o ON t.doc_id = o.doc_id
    """
)
ORACLES["importance_resample"] = (
    "WITH s AS ("
    + ORACLES["dsir_scores"]
    + """)
    , keyed AS (
        SELECT doc_id, dsir_score,
               floor((dsir_score / 1.0
                   + floor(-ln(-ln(((doc_id * 2654435761) % 1000000007
                       % 10000 + 0.5) / 10000.0)) * 10000.0 + 0.5)
                     / 10000.0) * 10000.0 + 0.5) / 10000.0 AS sample_key
        FROM s
    )
    SELECT doc_id, dsir_score, sample_key,
           CAST(row_number() OVER (ORDER BY sample_key DESC, doc_id)
               AS INT) AS rank
    FROM keyed QUALIFY rank <= 100
    """
)
ORACLES["incremental_near_gate"] = (
    "SELECT count(DISTINCT CASE WHEN doc_a % 2 = 1 THEN doc_a ELSE doc_b END)"
    " AS n_truth, TRUE AS recall_ok FROM ("
    + ORACLES["dedup_ngram_jaccard"]
    + ") WHERE (doc_a % 2) <> (doc_b % 2)"
)
ORACLES["dedup_minhash_recall"] = (
    "SELECT count(*) AS n_exact_pairs, TRUE AS recall_ok FROM ("
    + ORACLES["dedup_ngram_jaccard"]
    + ")"
)
ORACLES["embedding_near_dup_lsh_recall"] = (
    "SELECT count(*) AS n_exact_pairs, TRUE AS recall_ok,"
    " TRUE AS no_false_positives FROM ("
    + ORACLES["embedding_near_dup"]
    + ")"
)
ORACLES["semantic_dedup_check"] = (
    "SELECT count(*) AS n_exact_pairs, TRUE AS recall_ok,"
    " TRUE AS no_false_positives FROM ("
    + ORACLES["embedding_near_dup"]
    + ")"
)
ORACLES["dedup_simhash_complete"] = "SELECT TRUE AS banded_equals_exact"
ORACLES["decontaminate_bloom_check"] = (
    "SELECT CAST((SELECT count(*) FROM ("
    + ORACLES["decontaminate"]
    + ") WHERE contaminated) AS BIGINT) AS n_exact_contaminated,"
    " TRUE AS no_false_negatives, TRUE AS hits_superset_ok"
)
ORACLES["weekly_approx_check"] = (
    "SELECT week, local_authority,"
    " price_p10 AS exact_p10,"
    " price_median AS exact_median,"
    " price_p90 AS exact_p90,"
    " TRUE AS p10_rank_ok,"
    " TRUE AS median_rank_ok,"
    " TRUE AS p90_rank_ok"
    " FROM (" + ORACLES["weekly_by_la"] + ")"
)
ORACLES["session_summary"] = (
    "SELECT CAST(count(*) AS BIGINT) AS n_sessions,"
    " floor((CAST(sum(n_events) AS DOUBLE) / count(*)) * 10000.0 + 0.5)"
    " / 10000.0 AS events_mean,"
    " floor(percentile_cont(0.5) WITHIN GROUP (ORDER BY n_events)"
    " * 10000.0 + 0.5) / 10000.0 AS events_median,"
    " floor(percentile_cont(0.5) WITHIN GROUP (ORDER BY span_seconds)"
    " * 10000.0 + 0.5) / 10000.0 AS span_median FROM ("
    + ORACLES["sessionize"]
    + ")"
)
ORACLES["transition_probs"] = (
    "SELECT prev_type, next_type, transitions,"
    " floor((transitions / CAST(sum(transitions) OVER"
    " (PARTITION BY prev_type) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0"
    " AS prob FROM ("
    + ORACLES["event_transitions"]
    + ")"
)

def q_streaming_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL STREAMING CDC replay under the driver gate: per-key
    state holds only the current winning change (win-by-(ts,event_id),
    'error' = tombstone), each batch emits affected keys' new state,
    and the drained stream's latest emission per key — tombstones
    dropped — must equal batch ``apply_cdc`` bit-for-bit (same oracle
    as ``cdc_replay``). The incremental twin of the batch compaction:
    a daily delta touches its keys, not the full log."""
    import hashlib
    import tempfile
    import uuid

    from uk_housing_dashboard_etl_spark.streaming.cdc_stream import (
        cdc_replay_stream,
    )
    from uk_housing_dashboard_etl_spark.streaming.weekly_stream import (
        run_stream_once,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    land = os.path.join(tempfile.gettempdir(), f"spark_graft_stream_{tag}")
    os.makedirs(land, exist_ok=True)
    link = os.path.join(land, "events.parquet")
    try:  # concurrent callers may race the symlink; first one wins
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    except FileExistsError:
        pass
    sdf = cdc_replay_stream(spark, land)
    groups = _measured_groups(spark, sf_dir, "events", ("user_id",))
    with _sized_state_partitions(spark, groups, python_stateful=True):
        out = run_stream_once(
            sdf,
            query_name=f"cdc_{uuid.uuid4().hex[:10]}",
            output_mode="update",
        )
    from uk_housing_dashboard_etl_spark.operators.relational import (
        latest_by_key,
    )

    final = latest_by_key(out, ["user_id"], "ts", tie_cols=["event_id"])
    return final.where(~F.col("deleted")).select(
        "user_id", "event_id", "ts", "event_type", "value"
    )


_EXTENSION_ORACLES["streaming_cdc"] = """
    WITH ranked AS (
        SELECT user_id, event_id, ts, event_type, value,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    )
    SELECT user_id, event_id, ts, event_type, value
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """


def q_sketch_cms_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch per-user frequency estimates with the CMS
    guarantee as a gated column: est ≥ true always (``never_under``
    asserted TRUE by the oracle), overestimate surfaced. The portable
    multiplicative hash family lets DuckDB rebuild the IDENTICAL
    d×w sketch, so the compare is hash-exact — the frequency
    complement to the HLL/KLL sketch gates."""
    from uk_housing_dashboard_etl_spark.operators.sketches import (
        cms_frequency_estimates,
    )

    ev = read_table(spark, sf_dir, "events")
    probes = ev.where(F.col("user_id").isNotNull()).select(
        "user_id"
    ).distinct()
    return cms_frequency_estimates(ev, "user_id", probes)


_EXTENSION_ORACLES["sketch_cms_check"] = """
    WITH b AS (
        SELECT user_id, u.i,
               CAST((user_id * 2654435761 + u.i * 40503) % 1000003
                    % 2048 AS INT) AS bucket
        FROM events, unnest(generate_series(0, 3)) AS u(i)
        WHERE user_id IS NOT NULL
    ), sketch AS (
        SELECT i AS row, bucket, count(*) AS n FROM b GROUP BY 1, 2
    ), truth AS (
        SELECT user_id, count(*) AS true_n FROM events
        WHERE user_id IS NOT NULL GROUP BY 1
    ), pe AS (
        SELECT t.user_id, t.true_n, u.i,
               CAST((t.user_id * 2654435761 + u.i * 40503) % 1000003
                    % 2048 AS INT) AS bucket
        FROM truth t, unnest(generate_series(0, 3)) AS u(i)
    ), est AS (
        SELECT p.user_id, p.true_n, min(s.n) AS est_n
        FROM pe p JOIN sketch s ON s.row = p.i AND s.bucket = p.bucket
        GROUP BY 1, 2
    )
    SELECT user_id, true_n, CAST(est_n AS BIGINT) AS est_n,
           CAST(est_n - true_n AS BIGINT) AS overestimate,
           est_n >= true_n AS never_under
    FROM est
    """


def q_streaming_joined_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED STATEFUL streaming: a stream-stream interval join FED
    INTO a windowed streaming aggregate in the SAME query (Spark 4
    multiple-stateful-operator support) — per click-day attributed pair
    counts and value, end to end inside the engine. Append mode only
    emits a day window once the watermark passes it, so the typed
    far-future sentinel closes every real window inside one
    AvailableNow drain; the sentinel rows themselves vanish in the
    inner join (user -1 click never meets user -2 purchase). Oracle =
    batch join + calendar-day aggregate."""
    import hashlib
    import shutil
    import tempfile
    import uuid

    from uk_housing_dashboard_etl_spark.streaming.join_stream import (
        click_purchase_join_stream,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    land = os.path.join(tempfile.gettempdir(), f"spark_graft_ssjo_{tag}")
    os.makedirs(land, exist_ok=True)
    link = os.path.join(land, "0_events.parquet")
    try:  # concurrent callers may race the symlink; first one wins
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    except FileExistsError:
        pass
    sentinel = os.path.join(land, "zz_sentinel.parquet")
    if not os.path.exists(sentinel):
        spark.createDataFrame(
            [
                (999_999_998, "2100-01-01 00:00:00", -1, "click", 0.0, None),
                (
                    999_999_999,
                    "2100-01-01 00:00:00",
                    -2,
                    "purchase",
                    0.0,
                    None,
                ),
            ],
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).select(
            "event_id",
            F.to_timestamp("ts").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        ).write.mode("overwrite").parquet(sentinel)

    joined = click_purchase_join_stream(spark, land + "/*.parquet")
    agg = (
        joined.groupBy(F.window("click_ts", "1 day").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (
                # non-finite values leave the sum like NULLs (the
                # quantization saturates on Spark, raises on DuckDB —
                # r12 fuzz class)
                F.sum(
                    F.expr(
                        "CASE WHEN NOT isnan(purchase_value)"
                        " AND abs(purchase_value)"
                        " < CAST('Infinity' AS DOUBLE)"
                        " THEN CAST(floor(purchase_value * 10000.0 + 0.5)"
                        " AS BIGINT) END"
                    )
                ).cast("double")
                / 10000.0
            ).alias("attributed_value"),
        )
        .select(
            F.to_date(F.col("win.start")).alias("day"),
            "n_pairs",
            "attributed_value",
        )
    )
    name = f"ssja_{uuid.uuid4().hex[:10]}"
    ckpt = os.path.join(
        tempfile.gettempdir(), f"spark_graft_ssja_ckpt_{uuid.uuid4().hex}"
    )
    groups = _measured_groups(spark, sf_dir, "events", ("user_id",))
    with _sized_state_partitions(spark, groups):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.sql(f"SELECT * FROM {name}")


_EXTENSION_ORACLES["streaming_joined_agg"] = """
    WITH c AS (
        SELECT user_id, ts AS click_ts FROM events
        WHERE event_type = 'click' AND ts IS NOT NULL
          AND user_id IS NOT NULL
    ), p AS (
        SELECT user_id, ts AS purchase_ts, value FROM events
        WHERE event_type = 'purchase' AND ts IS NOT NULL
          AND user_id IS NOT NULL
    ), j AS (
        SELECT c.click_ts, p.value
        FROM c JOIN p ON c.user_id = p.user_id
         AND p.purchase_ts > c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
    )
    SELECT CAST(click_ts AS DATE) AS day,
           count(*) AS n_pairs,
           CAST(sum(CASE WHEN isfinite(value) THEN
                    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) END)
                AS DOUBLE) / 10000.0 AS attributed_value
    FROM j GROUP BY 1
    """


def q_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality per event type: event count, share of
    the type's weekly traffic, and deterministic mean value — the
    seasonal fingerprint a forecaster detrends with. Everything after
    the fact scan is (type × 7)-grain; the share is a window over that
    tiny frame."""
    ev = read_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    # non-finite values leave the mean like NULLs (the integer-unit
    # quantization saturates on Spark, raises on DuckDB — r12 fuzz)
    units = F.expr(
        "CASE WHEN NOT isnan(value)"
        " AND abs(value) < CAST('Infinity' AS DOUBLE)"
        " THEN CAST(floor(value * 10000.0 + 0.5) AS BIGINT) END"
    )
    cells = ev.groupBy(
        F.col("event_type"), F.dayofweek("ts").alias("dow")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(units).alias("__units"),
        F.count(units).alias("__nv"),
    )
    w = Window.partitionBy("event_type")
    return cells.select(
        "event_type",
        "dow",
        "n_events",
        round4(
            F.col("n_events").cast("double")
            / F.sum("n_events").over(w).cast("double")
        ).alias("share"),
        round4(
            F.col("__units").cast("double")
            / F.lit(10000.0)
            / F.col("__nv").cast("double")
        ).alias("value_mean"),
    )


_EXTENSION_ORACLES["seasonality_profile"] = """
    WITH cells AS (
        SELECT event_type, dayofweek(ts) + 1 AS dow,
               count(*) AS n_events,
               sum(CASE WHEN isfinite(value) THEN
                       CAST(floor(value * 10000.0 + 0.5) AS BIGINT)
                   END) AS units,
               count(CASE WHEN isfinite(value) THEN value END) AS nv
        FROM events WHERE ts IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT event_type, CAST(dow AS INTEGER) AS dow,
           n_events,
           floor(CAST(n_events AS DOUBLE)
                 / CAST(sum(n_events) OVER (PARTITION BY event_type)
                        AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS share,
           floor(CAST(units AS DOUBLE) / 10000.0 / CAST(nv AS DOUBLE)
                 * 10000.0 + 0.5) / 10000.0 AS value_mean
    FROM cells
    """


def q_weekly_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week churn: per week, the distinct users active the
    PREVIOUS week who produced no event this week (set difference), the
    retained count, and the churn rate — the EXCEPT-semantics
    companion to ``weekly_retention``'s intersection.

    Plan: NOT the self-join the set-difference semantics suggest
    (two executions of the distinct frame = two fact scans): each
    user's week sequence carries the answer row-locally — retained =
    lead(week) lands exactly 7 days later. One distinct, one
    user-keyed window, one aggregate; single linear lineage. The
    oracle computes the same numbers with the literal LEFT JOIN."""
    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    wu = ev.select(
        F.date_trunc("week", "ts").alias("week"), "user_id"
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("week")
    flagged = wu.select(
        (F.col("week") + F.expr("interval 7 days")).alias("week"),
        (
            F.lead("week").over(w)
            == F.col("week") + F.expr("interval 7 days")
        ).alias("__ret"),
    )
    return (
        flagged.groupBy("week")
        .agg(
            F.count(F.lit(1)).alias("prev_active"),
            F.sum(F.coalesce(F.col("__ret"), F.lit(False)).cast("long"))
            .alias("retained"),
            F.sum(
                (~F.coalesce(F.col("__ret"), F.lit(False))).cast("long")
            ).alias("churned"),
        )
        .select(
            "week",
            "prev_active",
            "retained",
            "churned",
            round4(
                F.col("churned").cast("double")
                / F.col("prev_active").cast("double")
            ).alias("churn_rate"),
        )
    )


_EXTENSION_ORACLES["weekly_churn"] = """
    WITH wu AS (
        SELECT DISTINCT date_trunc('week', ts) AS week, user_id
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), shifted AS (
        SELECT week + INTERVAL 7 DAY AS week, user_id FROM wu
    ), joined AS (
        SELECT s.week, s.user_id,
               CASE WHEN n.user_id IS NULL THEN 0 ELSE 1 END AS active
        FROM shifted s LEFT JOIN wu n
          ON n.week = s.week AND n.user_id = s.user_id
    )
    SELECT week,
           count(*) AS prev_active,
           CAST(sum(active) AS BIGINT) AS retained,
           CAST(sum(1 - active) AS BIGINT) AS churned,
           floor(CAST(sum(1 - active) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
               AS churn_rate
    FROM joined GROUP BY 1
    """


def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split hash is taken
    at near-dup CLUSTER grain (connected components over the exact-
    Jaccard graph), so every member of a duplicate cluster lands in the
    same split — the GroupShuffleSplit discipline ``split_leakage``
    measures the absence of. Output is doc-grain:
    (doc_id, cluster_id, cluster_size, split). The labeling comes from
    the shared ``_clusters02_labels`` artifact — computed once per
    suite, probed here and by ``dedup_clusters``."""
    clusters = _clusters02_labels(spark, sf_dir)
    pct = (
        F.col("cluster_id") * F.lit(2654435761)
    ) % F.lit(1_000_000_007) % F.lit(100)
    split = (
        F.when(pct < 10, F.lit("test"))
        .when(pct < 20, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return clusters.select(
        "doc_id", "cluster_id", "cluster_size", split.alias("split")
    )


def _ivfpq(spark: SparkSession, sf_dir: str):
    """Shared-fit IVF-PQ assembly (round-7 dedup): the coarse quantizer
    is ONE unit-sphere k-means (`ivfpq_coarse`) shared with the
    residual variant — fitting it on the L2-normalized corpus also
    fixes a geometry mismatch where probes measured normalized queries
    against raw-space centroids — and the deterministic index artifacts
    (PQ codes, cell assignment) are fit-cached alongside the codebooks,
    so repeat calls pay only probe + ADC scan + rerank, never a corpus
    re-encode."""
    from uk_housing_dashboard_etl_spark.operators.ivf import (
        ivf_index,
        kmeans_fit,
    )
    from uk_housing_dashboard_etl_spark.operators.pq import (
        _norm_vectors,
        ivfpq_topk,
        pq_encode,
        pq_fit,
    )

    emb = _emb_valid(spark, sf_dir)
    corpus = emb.where(F.col("vec_id") >= 5)
    unit = _norm_vectors(corpus, "vec_id", "embedding")
    cents = _cached_fit(
        spark, sf_dir, "ivfpq_coarse",
        lambda: kmeans_fit(
            unit, k=8, iterations=4, id_col="vec_id", vec_col="vec"
        ),
    )
    codebooks = _cached_fit(
        spark, sf_dir, "pq32", lambda: pq_fit(corpus, m=32, k=16, iterations=2)
    )
    codes = _cached_fit_large(
        spark, sf_dir, "pq32_codes",
        lambda: pq_encode(corpus, codebooks),
    )
    cells = _cached_fit_large(
        spark, sf_dir, "ivfpq_cells",
        lambda: ivf_index(
            unit, cents, id_col="vec_id", vec_col="vec"
        ).select("vec_id", "cell"),
    )
    return ivfpq_topk(
        codes,
        codebooks,
        cells,
        cents,
        corpus,
        _query_vectors(spark, sf_dir),
        k=10,
        n_probes=3,
        oversample=5,
    ), corpus


def q_similarity_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ two-level ANN: coarse cells prune the scan (3/8 probed),
    PQ codes compress it (ADC table lookups), exact rerank on the 5×
    shortlist — the billion-scale index shape, composed from the
    engine's own kmeans/ivf/pq primitives. Rows-only; recall gated by
    ``similarity_ivfpq_recall`` in the same window."""
    return _ivfpq(spark, sf_dir)[0]


def q_similarity_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle gate for the IVF-PQ path: per-query recall vs exact brute
    force ≥ 0.3 (measured 0.4-0.7 — bounded by the same 3/8-cell probe
    set as plain IVF; the PQ stage costs no recall after rerank)."""
    approx, corpus = _ivfpq(spark, sf_dir)
    return _topk_recall_gate(
        brute_force_topk(corpus, _query_vectors(spark, sf_dir), k=10),
        approx,
        min_recall=0.3,
    )


def _ivfpq_res(spark: SparkSession, sf_dir: str):
    """Residual-encoded IVF-PQ (IVFADC) at the SAME m/k/probe/oversample
    as ``_ivfpq``, so the two recall gates measure exactly the encoding
    difference. Coarse centroids and the shared residual codebook are
    fit-cached; the assignment/residual/encode frames are row-local
    projections rebuilt per call."""
    from uk_housing_dashboard_etl_spark.operators.ivf import (
        ivf_index,
        kmeans_fit,
    )
    from uk_housing_dashboard_etl_spark.operators.pq import (
        _norm_vectors,
        ivfpq_residual_build,
        ivfpq_topk,
    )

    emb = _emb_valid(spark, sf_dir)
    corpus = emb.where(F.col("vec_id") >= 5)
    unit = _norm_vectors(corpus, "vec_id", "embedding")
    # `ivfpq_coarse` and `ivfpq_cells` are the SAME cache kinds _ivfpq
    # uses: both families probe one unit-sphere coarse quantizer and one
    # cell assignment, so the triplet fits it once (round-7 fit dedup)
    cents = _cached_fit(
        spark, sf_dir, "ivfpq_coarse",
        lambda: kmeans_fit(
            unit, k=8, iterations=4, id_col="vec_id", vec_col="vec"
        ),
    )
    codebooks = _cached_fit(
        spark, sf_dir, "pq32_res",
        lambda: ivfpq_residual_build(
            corpus, m=32, k=16, pq_iterations=2, centroids=cents
        )[2],
    )
    cells = _cached_fit_large(
        spark, sf_dir, "ivfpq_cells",
        lambda: ivf_index(
            unit, cents, id_col="vec_id", vec_col="vec"
        ).select("vec_id", "cell"),
    )
    codes = _cached_fit_large(
        spark, sf_dir, "ivfpq_res_codes",
        lambda: ivfpq_residual_build(
            corpus, m=32, k=16, centroids=cents, codebooks=codebooks
        )[3],
    )
    return ivfpq_topk(
        codes, codebooks, cells, cents, corpus,
        _query_vectors(spark, sf_dir),
        k=10, n_probes=3, oversample=5, residual=True,
    ), corpus


def q_similarity_ivfpq_res(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with per-cell RESIDUAL encoding (Jégou et al.'s IVFADC):
    codes quantize ``vector − coarse centroid`` with one shared
    codebook, and each probe's ADC table measures the query's residual
    in that cell's frame — tighter compressed distances than
    full-vector PQ at identical index economics. Rows-only; gated by
    ``similarity_ivfpq_res_recall`` in the same window."""
    return _ivfpq_res(spark, sf_dir)[0]


def q_similarity_ivfpq_res_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle gate for residual IVF-PQ: per-query recall vs exact brute
    force ≥ 0.3 at the SAME probe set and oversample as
    ``similarity_ivfpq_recall`` — the measured recall delta between the
    two modes is the residual-encoding payoff recorded in SCALE.md."""
    approx, corpus = _ivfpq_res(spark, sf_dir)
    return _topk_recall_gate(
        brute_force_topk(corpus, _query_vectors(spark, sf_dir), k=10),
        approx,
        min_recall=0.3,
    )


def q_streaming_joined_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM LEFT OUTER join under the driver gate: like
    ``streaming_joined`` but clicks with no purchase in their window
    are ALSO emitted (NULL purchase columns) once the watermark passes
    ``click_ts + window`` — the timeout-emission path the inner join
    never exercises. The far-future sentinel + ``maxFilesPerTrigger=1``
    advances the watermark inside one AvailableNow drain (the session-
    window trick); the trailing no-data batch flushes every timed-out
    click. Oracle = the identical batch LEFT join."""
    import hashlib
    import shutil
    import tempfile
    import uuid

    from uk_housing_dashboard_etl_spark.streaming.join_stream import (
        click_purchase_join_stream,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    land = os.path.join(tempfile.gettempdir(), f"spark_graft_ssjo_{tag}")
    os.makedirs(land, exist_ok=True)
    link = os.path.join(land, "0_events.parquet")
    try:  # concurrent callers may race the symlink; first one wins
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    except FileExistsError:
        pass
    # far-future sentinel rows typed as REAL click/purchase events
    # (negative user ids, excluded from the output below): Catalyst
    # pushes each side's event-type filter BELOW its EventTimeWatermark
    # operator, so a 'sentinel'-typed row would be dropped before ever
    # advancing the watermark — each side needs a row of ITS OWN type
    # to reach its watermark operator. Distinct user ids keep the two
    # sentinel rows from pairing with each other.
    sentinel = os.path.join(land, "zz_sentinel.parquet")
    if not os.path.exists(sentinel):
        spark.createDataFrame(
            [
                (999_999_998, "2100-01-01 00:00:00", -1, "click", 0.0, None),
                (
                    999_999_999,
                    "2100-01-01 00:00:00",
                    -2,
                    "purchase",
                    0.0,
                    None,
                ),
            ],
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).select(
            "event_id",
            F.to_timestamp("ts").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        ).write.mode("overwrite").parquet(sentinel)

    # no maxFilesPerTrigger: the sentinel can share batch 0 — the
    # watermark commits AFTER the batch, and Spark's trailing no-data
    # batch then evicts + emits every timed-out click (2 micro-batches
    # total instead of 4; sessions needs the per-file split only
    # because session-window APPEND holds rows back a full batch)
    sdf = click_purchase_join_stream(
        spark,
        land + "/*.parquet",
        join_type="left_outer",
    )
    name = f"ssjo_{uuid.uuid4().hex[:10]}"
    ckpt = os.path.join(
        tempfile.gettempdir(), f"spark_graft_ssjo_ckpt_{uuid.uuid4().hex}"
    )
    groups = _measured_groups(spark, sf_dir, "events", ("user_id",))
    with _sized_state_partitions(spark, groups):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
    # drop the sentinel click if the trailing batch emitted it
    pairs = spark.sql(f"SELECT * FROM {name}").where(
        F.col("user_id") >= 0
    )
    return (
        pairs.groupBy(F.to_date("click_ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("purchase_id").alias("n_pairs"),
            F.sum(
                F.col("purchase_id").isNull().cast("long")
            ).alias("n_unmatched_clicks"),
            (
                # non-finite values leave the sum like NULLs (the
                # quantization saturates on Spark, raises on DuckDB —
                # r12 fuzz class)
                F.sum(
                    F.expr(
                        "CASE WHEN NOT isnan(purchase_value)"
                        " AND abs(purchase_value)"
                        " < CAST('Infinity' AS DOUBLE)"
                        " THEN CAST(floor(purchase_value * 10000.0 + 0.5)"
                        " AS BIGINT) END"
                    )
                ).cast("double")
                / 10000.0
            ).alias("attributed_value"),
        )
    )


_EXTENSION_ORACLES["streaming_joined_outer"] = """
    WITH c AS (
        SELECT user_id, ts AS click_ts, event_id AS click_id FROM events
        WHERE event_type = 'click' AND ts IS NOT NULL
          AND user_id IS NOT NULL
    ), p AS (
        SELECT user_id, ts AS purchase_ts, event_id AS purchase_id,
               value FROM events
        WHERE event_type = 'purchase' AND ts IS NOT NULL
          AND user_id IS NOT NULL
    ), j AS (
        SELECT c.click_ts, p.purchase_id, p.value
        FROM c LEFT JOIN p ON c.user_id = p.user_id
         AND p.purchase_ts > c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
    )
    SELECT CAST(click_ts AS DATE) AS day,
           count(*) AS n_rows,
           count(purchase_id) AS n_pairs,
           CAST(sum(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unmatched_clicks,
           CAST(sum(CASE WHEN isfinite(value) THEN
                    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) END)
                AS DOUBLE) / 10000.0 AS attributed_value
    FROM j GROUP BY 1
    """


# Deterministic-fit cache: the PQ/IVF-PQ query + recall-gate twins each
# need the SAME codebooks/centroids (hash-seeded init, fixed iteration
# count — bit-identical on refit), and the driver runs them as
# independent callables in one process. The cache stores DRIVER-LOCAL
# rows (schema + collect of the ≤ m·k-row fit frame), not live
# DataFrames: a pinned localCheckpoint would hold executor blocks for
# the whole process lifetime (round-5 advice — cross-application
# entries were never evicted) and would not survive a ``clearCache()``.
# Rebuilding via ``createDataFrame`` from a few hundred local rows is
# negligible next to the fit it avoids, and is valid across sessions
# (the rows are plain data). Entries are keyed by ``sf_dir``'s input
# version too, so a table rewritten in place is refitted instead of
# served the old fit; the dict is bounded by |sf_dirs| × |fit kinds| ×
# |input versions seen|.
_FIT_CACHE: dict[tuple, tuple] = {}


def _cached_fit(spark: SparkSession, sf_dir: str, kind: str, builder):
    key = (sf_dir, kind, _input_version(os.path.abspath(sf_dir)))
    if key not in _FIT_CACHE:
        fitted = builder()
        _FIT_CACHE[key] = (fitted.schema, fitted.collect())
    schema, rows = _FIT_CACHE[key]
    return spark.createDataFrame(rows, schema)


# On-disk artifact kind -> the root units (module suffix, function)
# whose TRACED static call closure defines the artifact's validity.
# tools/rotation.py's AST code-closure tracer closes over everything a
# root calls transitively, so cross-module helpers (pq_encode →
# similarity's norm expr, kmeans_fit → functions.topk,
# ngram_jaccard_pairs → functions.rounding) are covered automatically:
# the r8/r9 module-bytes salt's blind spot, which needed a byte-pinning
# tripwire meanwhile.
#
# Roots are the CONTRACT-SIDE BUILDER HELPERS that enclose each
# ``_cached_fit_large`` call site (every one, for kinds built from more
# than one function), NOT the operator units they call (r10 advice):
# the builder lambdas carry literal parameters (exact_substr min_len=30,
# embedding_near_dup threshold=0.4, pq m=32/k=16) that shape artifact
# bytes but sat OUTSIDE an operator-rooted closure — editing such a
# literal would have silently served the stale artifact, green-lighting
# recall gates against an outdated truth set. Rooting at the builder
# puts the lambda's literals inside the hash, and the operator closure
# (plus VALUE dependencies the lambda names: _jaccard02_truth for
# clusters02, pq_fit's codebooks for pq32_codes, kmeans_fit's centroids
# for the ivfpq kinds) comes along automatically because the tracer
# resolves function-local imports and plain name references.
# read_table is appended to every kind (the scan path — nanos handling
# — shapes artifact bytes too). tests/test_fit_salt.py asserts every
# call-site kind roots at its enclosing builder and that the closures
# still span the formerly-pinned modules AND the builder literals.
_FIT_SALT_ROOTS: dict[str, tuple[tuple[str, str], ...]] = {
    "emb_valid": (("contract", "_emb_valid"),),
    "simhash_sigs": (("contract", "_simhash_sigs"),),
    "jaccard02_pairs": (("contract", "_jaccard02_truth"),),
    "clusters02": (("contract", "_clusters02_labels"),),
    "embexact04_pairs": (("contract", "_embexact04_truth"),),
    "exsub_spans30": (("contract", "_exsub_spans30"),),
    "pq32_codes": (
        ("contract", "_ivfpq"),
        ("contract", "q_similarity_pq"),
        ("contract", "q_similarity_pq_recall"),
    ),
    "ivfpq_cells": (
        ("contract", "_ivfpq"),
        ("contract", "_ivfpq_res"),
    ),
    "ivfpq_res_codes": (("contract", "_ivfpq_res"),),
}


def _salt_from_units(units: dict[tuple[str, str], str]) -> str:
    """Pure hashing step of the fit salt: md5 over the sorted
    (module, unit) names and their normalized sources. Split out so a
    unit test can prove sensitivity — any one source change must change
    the digest — without touching the filesystem."""
    import hashlib

    h = hashlib.md5()
    for (m, u), src in sorted(units.items()):
        h.update(f"{m}.{u}\n".encode())
        h.update(src.encode())
        h.update(b"\x00")
    return h.hexdigest()[:8]


_FIT_SALT_MEMO: dict[str, str] = {}  # per-process; code is fixed per run


def _fit_code_salt(kind: str) -> str:
    """Salt for one artifact kind = hash of every repo unit in the
    traced closure of its declared roots (``_FIT_SALT_ROOTS``), so the
    on-disk cache invalidates the moment ANY code the fit transitively
    executes changes — no manual version bump, no hand-listed module
    set to forget. An undeclared kind raises (a new artifact must
    declare its roots); a missing root raises (a renamed operator must
    update the registry). If the repo tooling isn't importable (package
    used outside the repo checkout), fall back to hashing every package
    module — over-invalidates, never serves stale."""
    if kind in _FIT_SALT_MEMO:
        return _FIT_SALT_MEMO[kind]
    pkg = __name__.rsplit(".", 1)[0]
    roots = _FIT_SALT_ROOTS[kind] + (("sources.readers", "read_table"),)
    try:
        from tools import rotation  # repo-root tooling (driver cwd)
    except ImportError:
        import glob
        import hashlib

        h = hashlib.md5()
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        for p in sorted(
            glob.glob(os.path.join(pkg_dir, "**", "*.py"), recursive=True)
        ):
            with open(p, "rb") as fh:
                h.update(fh.read())
        return h.hexdigest()[:8]
    mods = rotation._modules()
    closure: set[tuple[str, str]] = set()
    for mod_suffix, unit in roots:
        full = f"{pkg}.{mod_suffix}"
        if full not in mods or unit not in mods[full].units:
            raise KeyError(
                f"fit-salt root {full}.{unit} (kind {kind!r}) does not "
                "resolve — update _FIT_SALT_ROOTS to the renamed unit"
            )
        closure |= rotation._closure(full, unit)
    _FIT_SALT_MEMO[kind] = _salt_from_units(
        {(m, u): mods[m].units[u] for m, u in closure if m in mods}
    )
    return _FIT_SALT_MEMO[kind]


def _cached_fit_large(spark: SparkSession, sf_dir: str, kind: str, builder):
    """CORPUS-SIZED deterministic fit artifacts (PQ code frames, IVF
    cell assignments — one row per corpus vector) cached as LOCAL
    PARQUET, not driver rows. ``_cached_fit``'s collect-and-reship is
    right for m·k-row codebooks but wrong here (round-7 advice): a
    corpus-scale collect holds the whole artifact in driver memory for
    the process lifetime and pays a driver→executor serialization on
    every reuse — at a 100 TB corpus that is a driver OOM. Write-once
    parquet keeps the artifact executor-side, costs one scan to reuse,
    survives a ``clearCache()`` and process restarts, and is the same
    artifact-reuse pattern a production index build ships (encode
    once, every probe job reads the codes table). The path is
    salted with the traced-closure hash of the fitting code
    (``_fit_code_salt``) and with ``sf_dir``'s input version
    (``_input_version``), so stale artifacts can never outlive a change
    to ANY code the fit executes or a rewrite of the tables it reads
    (superseded artifacts stay on disk until ``clear_large_fit_cache``);
    the write is tmp+rename so a crashed
    fit never leaves a readable half-artifact, and the tmp dir is
    cleaned in a ``finally`` so a failed builder can't leak it. A lost
    rename race (another process published the same artifact first)
    serves the winner's artifact."""
    import hashlib

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "spark-warehouse",
        "_fit_cache",
    )
    root_dir = os.path.abspath(sf_dir)
    digest = hashlib.md5(
        root_dir.encode()
        + _fit_code_salt(kind).encode()
        + repr(_input_version(root_dir)).encode()
    ).hexdigest()[:12]
    path = os.path.join(root, f"{digest}_{kind}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        try:
            builder().write.mode("overwrite").parquet(tmp)
            try:
                os.rename(tmp, path)
            except OSError:
                if not os.path.isdir(path):  # lost race: other writer won
                    raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(path)


def clear_large_fit_cache() -> None:
    """Drop every on-disk fit artifact, superseded ones included: each
    code or input change leaves its old artifacts behind, so sweep the
    cache by hand to reclaim the space. The next reader refits."""
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "spark-warehouse",
        "_fit_cache",
    )
    shutil.rmtree(root, ignore_errors=True)


def q_similarity_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011), the
    compressed-domain scale path IVF doesn't cover: 32 subspace
    codebooks trained in ONE joint Lloyd's loop, corpus encoded to
    m byte-codes row-locally, ADC table-lookup scan, exact rerank on
    the 5× shortlist only. Rows-only (iterative k-means is the
    non-SQL-expressible category); recall gated by
    ``similarity_pq_recall`` in the same window."""
    from uk_housing_dashboard_etl_spark.operators.pq import (
        pq_encode,
        pq_fit,
        pq_topk_rerank,
    )

    emb = _emb_valid(spark, sf_dir)
    corpus = emb.where(F.col("vec_id") >= 5)
    codebooks = _cached_fit(
        spark, sf_dir, "pq32", lambda: pq_fit(corpus, m=32, k=16, iterations=2)
    )
    codes = _cached_fit_large(
        spark, sf_dir, "pq32_codes",
        lambda: pq_encode(corpus, codebooks),
    )
    return pq_topk_rerank(
        codes,
        codebooks,
        corpus,
        _query_vectors(spark, sf_dir),
        k=10,
        oversample=5,
    )


def q_similarity_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle gate for the PQ+rerank ANN path: per-query recall vs
    exact brute force ≥ 0.5 (measured 0.9-1.0 per query on this
    data; pure-ADC without rerank measures 0.4-0.8)."""
    from uk_housing_dashboard_etl_spark.operators.pq import (
        pq_encode,
        pq_fit,
        pq_topk_rerank,
    )

    emb = _emb_valid(spark, sf_dir)
    corpus = emb.where(F.col("vec_id") >= 5)
    qs = _query_vectors(spark, sf_dir)
    codebooks = _cached_fit(
        spark, sf_dir, "pq32", lambda: pq_fit(corpus, m=32, k=16, iterations=2)
    )
    codes = _cached_fit_large(
        spark, sf_dir, "pq32_codes",
        lambda: pq_encode(corpus, codebooks),
    )
    approx = pq_topk_rerank(
        codes, codebooks, corpus, qs, k=10,
        oversample=5,
    )
    return _topk_recall_gate(
        brute_force_topk(corpus, qs, k=10), approx, min_recall=0.5
    )


def q_streaming_joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join under the driver gate: clicks and
    purchases read as two independent streams, inner-joined on user
    within a 30-minute attribution window (watermarks bound state on
    both sides), drained with AvailableNow, then batch-aggregated per
    click-day for a stable small output. Oracle = the identical batch
    join — inner stream-stream joins must produce exactly the batch
    answer on a bounded backlog."""
    import hashlib
    import tempfile
    import uuid

    from uk_housing_dashboard_etl_spark.streaming.join_stream import (
        click_purchase_join_stream,
    )
    from uk_housing_dashboard_etl_spark.streaming.weekly_stream import (
        run_stream_once,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    land = os.path.join(tempfile.gettempdir(), f"spark_graft_stream_{tag}")
    os.makedirs(land, exist_ok=True)
    link = os.path.join(land, "events.parquet")
    try:  # concurrent callers may race the symlink; first one wins
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    except FileExistsError:
        pass
    sdf = click_purchase_join_stream(spark, land)
    groups = _measured_groups(spark, sf_dir, "events", ("user_id",))
    with _sized_state_partitions(spark, groups):
        pairs = run_stream_once(
            sdf,
            query_name=f"jn_{uuid.uuid4().hex[:10]}",
            output_mode="append",
        )
    delay_us = F.unix_micros(F.col("purchase_ts")) - F.unix_micros(
        F.col("click_ts")
    )
    return (
        pairs.groupBy(F.to_date("click_ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.count_distinct("user_id").alias("n_users"),
            (
                # non-finite values leave the sum like NULLs (the
                # quantization saturates on Spark, raises on DuckDB —
                # r12 fuzz class)
                F.sum(
                    F.expr(
                        "CASE WHEN NOT isnan(purchase_value)"
                        " AND abs(purchase_value)"
                        " < CAST('Infinity' AS DOUBLE)"
                        " THEN CAST(floor(purchase_value * 10000.0 + 0.5)"
                        " AS BIGINT) END"
                    )
                ).cast("double")
                / 10000.0
            ).alias("attributed_value"),
            F.sum(delay_us).alias("__delay_us"),
        )
        .select(
            "day",
            "n_pairs",
            "n_users",
            "attributed_value",
            round4(
                (
                    F.col("__delay_us").cast("double")
                    / F.col("n_pairs").cast("double")
                )
                / F.lit(1000000.0)
            ).alias("mean_delay_s"),
        )
    )


_EXTENSION_ORACLES["streaming_joined"] = """
    WITH c AS (
        SELECT user_id, ts AS click_ts FROM events
        WHERE event_type = 'click' AND ts IS NOT NULL
          AND user_id IS NOT NULL
    ), p AS (
        SELECT user_id, ts AS purchase_ts, value FROM events
        WHERE event_type = 'purchase' AND ts IS NOT NULL
          AND user_id IS NOT NULL
    ), j AS (
        SELECT c.user_id, c.click_ts, p.purchase_ts, p.value
        FROM c JOIN p ON c.user_id = p.user_id
         AND p.purchase_ts > c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
    )
    SELECT CAST(click_ts AS DATE) AS day,
           count(*) AS n_pairs,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN isfinite(value) THEN
                    CAST(floor(value * 10000.0 + 0.5) AS BIGINT) END)
                AS DOUBLE) / 10000.0 AS attributed_value,
           floor((CAST(sum(date_diff('microsecond', click_ts,
                               purchase_ts)) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE)) / 1000000.0
                 * 10000.0 + 0.5) / 10000.0 AS mean_delay_s
    FROM j GROUP BY 1
    """


def q_mannwhitney_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test between click and purchase value
    distributions — the rank-based (outlier-robust) drift statistic
    next to ``ks_values``; normal approximation with exact midrank tie
    correction, mirrored operation-for-operation by the oracle."""
    from uk_housing_dashboard_etl_spark.operators.stats import (
        mannwhitney_two_sample,
    )

    return mannwhitney_two_sample(
        read_table(spark, sf_dir, "events"),
        "event_type",
        "value",
        "click",
        "purchase",
    )


_EXTENSION_ORACLES["mannwhitney_values"] = """
    WITH per_val AS (
        SELECT value AS v,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
        FROM events
        WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
        GROUP BY 1
    ), ranked AS (
        SELECT ca, cb, ca + cb AS t,
               coalesce(sum(ca + cb) OVER (ORDER BY v ROWS BETWEEN
                   UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        FROM per_val
    ), agg AS (
        SELECT CAST(sum(ca) AS BIGINT) AS n_a,
               CAST(sum(cb) AS BIGINT) AS n_b,
               sum(CAST(ca AS DOUBLE) * (CAST(below AS DOUBLE)
                   + (CAST(t AS DOUBLE) + 1.0) / 2.0)) AS r_a,
               sum(CAST(t AS DOUBLE) * CAST(t AS DOUBLE)
                   * CAST(t AS DOUBLE) - CAST(t AS DOUBLE)) AS tie_sum
        FROM ranked
    ), calc AS (
        SELECT n_a, n_b,
               r_a - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0)
                   / 2.0 AS u,
               CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0 AS mu,
               CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
                   * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
                      - tie_sum / ((CAST(n_a AS DOUBLE)
                                    + CAST(n_b AS DOUBLE))
                          * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
                             - 1.0))) AS var,
               CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd
        FROM agg
    )
    SELECT n_a, n_b,
           floor(u * 10000.0 + 0.5) / 10000.0 AS u_stat,
           CASE WHEN nad > 0 AND nbd > 0 AND nad + nbd > 1.0
                     AND var > 0.0
                THEN floor((u - mu) / sqrt(var) * 10000.0 + 0.5)
                     / 10000.0 END AS z_stat,
           CASE WHEN nad > 0 AND nbd > 0 AND nad + nbd > 1.0
                     AND var > 0.0
                THEN abs((u - mu) / sqrt(var)) > 1.96 END AS significant
    FROM calc
    """


def q_chi2_type_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test between event type and the
    deterministic ``user_id % 2`` segment, with Cramér's V effect size
    — the categorical complement to the numeric drift tests (PSI / KS /
    MWU). Everything after the fact scan is contingency-table-grain."""
    from uk_housing_dashboard_etl_spark.operators.stats import (
        chi2_independence,
    )

    return chi2_independence(
        read_table(spark, sf_dir, "events").where(
            F.col("user_id").isNotNull()
        ),
        "event_type",
        (F.col("user_id") % 2).cast("int"),
    )


_EXTENSION_ORACLES["chi2_type_split"] = """
    WITH cells AS (
        SELECT event_type AS r, CAST(user_id % 2 AS INT) AS c,
               count(*) AS o
        FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2
    ), rowm AS (
        SELECT r, sum(o) AS row_tot FROM cells GROUP BY 1
    ), colm AS (
        SELECT c, sum(o) AS col_tot FROM cells GROUP BY 1
    ), tot AS (
        SELECT sum(o) AS n FROM cells
    ), terms AS (
        SELECT n,
               CAST(round(pow(CAST(o AS DOUBLE)
                       - CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                         / CAST(n AS DOUBLE), 2.0)
                   / (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
                      / CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT)
                   AS units,
               r, c
        FROM cells JOIN rowm USING (r) JOIN colm USING (c)
        CROSS JOIN tot
    ), agg AS (
        SELECT CAST(max(n) AS BIGINT) AS n,
               CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT c) AS BIGINT) AS n_cols,
               CAST(sum(units) AS DOUBLE) / 1000000.0 AS chi2
        FROM terms
    )
    SELECT n, n_rows, n_cols,
           CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS dof,
           floor(chi2 * 10000.0 + 0.5) / 10000.0 AS chi2,
           CASE WHEN n > 0 AND least(n_rows, n_cols) - 1 > 0
                THEN floor(sqrt(chi2 / (CAST(n AS DOUBLE)
                         * CAST(least(n_rows, n_cols) - 1 AS DOUBLE)))
                     * 10000.0 + 0.5) / 10000.0 END AS cramers_v
    FROM agg
    """


def q_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline of the part catalog: parts where no other part is
    both cheaper (retail price) and larger (size) — the Pareto
    frontier, computed as the strictly-decreasing envelope over
    price-grain maxima (one groupBy + one bounded window + one join
    back), NOT the quadratic NOT-EXISTS self-join the oracle uses."""
    from uk_housing_dashboard_etl_spark.operators.relational import (
        pareto_skyline,
    )

    part = read_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_retailprice", "p_size"
    )
    return pareto_skyline(part, "p_retailprice", "p_size")


_EXTENSION_ORACLES["pareto_parts"] = """
    SELECT p.p_partkey, p.p_name, p.p_retailprice, p.p_size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice
          AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice
               OR q.p_size > p.p_size)
    )
    """


def q_peak_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line concurrency profile: per day, intervals started and
    the peak simultaneously-active count, over synthetic sessions
    (each event opens a slot for ``1 + floor(value) % 3600`` seconds).
    The Spark plan is the distributed two-phase prefix sum (within-day
    windows + a day-grain carry); the oracle is the single global
    running sum — they must agree exactly, midnight-crossers included.

    Non-finite values are excluded: a session length derived from
    NaN/±Inf is meaningless, and the engines SILENTLY DIVERGE on it —
    Spark's ``floor(double)`` returns LONG and saturates (+Inf →
    maxlong → 1807 s after the modulo, NaN → 0) while DuckDB's floor
    stays DOUBLE and its bigint cast raises (r12 fuzz finding).
    """
    from uk_housing_dashboard_etl_spark.operators.timeseries import (
        peak_concurrency,
    )

    ev = read_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
        & F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") < F.lit(float("inf")))
    )
    iv = ev.select(
        F.col("ts").alias("start_ts"),
        F.expr(
            "ts + make_interval(0, 0, 0, 0, 0, 0,"
            " 1 + CAST(floor(value) AS BIGINT) % 3600)"
        ).alias("end_ts"),
    )
    return peak_concurrency(iv)


_EXTENSION_ORACLES["peak_sessions"] = """
    WITH iv AS (
        SELECT ts AS s,
               ts + (1 + CAST(floor(value) AS BIGINT) % 3600)
                   * INTERVAL 1 SECOND AS e
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL AND isfinite(value)
    ), pts AS (
        SELECT t, sum(ns) AS ns, sum(ne) AS ne
        FROM (SELECT s AS t, 1 AS ns, 0 AS ne FROM iv
              UNION ALL
              SELECT e AS t, 0 AS ns, 1 AS ne FROM iv)
        GROUP BY 1
    ), run AS (
        SELECT CAST(t AS DATE) AS day, ns,
               sum(ns) OVER w - sum(ne) OVER w AS act
        FROM pts
        WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    )
    SELECT day, CAST(sum(ns) AS BIGINT) AS n_started,
           CAST(max(act) AS BIGINT) AS peak_active
    FROM run GROUP BY 1
    """


def q_cdc_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-INTO semantics over a change log: treat each user's event
    stream as CDC (error = tombstone, everything else = upsert) and
    replay it to final state — one row per surviving user, the row
    with the highest (ts, event_id) sequence, users whose LAST change
    is a delete dropped entirely."""
    from uk_housing_dashboard_etl_spark.operators.incremental import (
        apply_cdc,
    )

    ev = read_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    changes = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        "value",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    return apply_cdc(
        changes, ["user_id"], ["ts", "event_id"], "op"
    ).drop("op")


_EXTENSION_ORACLES["cdc_replay"] = """
    WITH ranked AS (
        SELECT user_id, event_id, ts, event_type, value,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    )
    SELECT user_id, event_id, ts, event_type, value
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """


# the round-5 oracles above land after the global _EXTENSION_ORACLES
# merge at module mid-point, so merge them explicitly (their rounding is
# already written as explicit floor(), but run the rewriter for parity
# with every other oracle)
for _r5q in (
    "streaming_cdc",
    "sketch_cms_check",
    "streaming_joined_agg",
    "seasonality_profile",
    "weekly_churn",
    "streaming_joined_outer",
    "streaming_joined",
    "mannwhitney_values",
    "chi2_type_split",
    "pareto_parts",
    "peak_sessions",
    "cdc_replay",
):
    ORACLES[_r5q] = _rewrite_round4(_EXTENSION_ORACLES[_r5q])


# The registry: query name -> builder. Later sections add their queries
# with ``QUERIES[name] = ...``; nothing reorders it, and no caller relies
# on its order.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "streaming_cdc": q_streaming_cdc,
    "sketch_cms_check": q_sketch_cms_check,
    "streaming_joined_agg": q_streaming_joined_agg,
    "seasonality_profile": q_seasonality_profile,
    "weekly_churn": q_weekly_churn,
    "cluster_split": q_cluster_split,
    "similarity_ivfpq": q_similarity_ivfpq,
    "similarity_ivfpq_recall": q_similarity_ivfpq_recall,
    "similarity_ivfpq_res": q_similarity_ivfpq_res,
    "similarity_ivfpq_res_recall": q_similarity_ivfpq_res_recall,
    "streaming_joined_outer": q_streaming_joined_outer,
    "similarity_pq": q_similarity_pq,
    "similarity_pq_recall": q_similarity_pq_recall,
    "streaming_joined": q_streaming_joined,
    "mannwhitney_values": q_mannwhitney_values,
    "chi2_type_split": q_chi2_type_split,
    "pareto_parts": q_pareto_parts,
    "peak_sessions": q_peak_sessions,
    "cdc_replay": q_cdc_replay,
    # --- slots 1-20: never driver-checked in round 1 OR round 2 ---
    "streaming_weekly": q_streaming_weekly,
    "streaming_sessions": q_streaming_sessions,
    "streaming_dedup": q_streaming_dedup,
    "streaming_funnel": q_streaming_funnel,
    "multimodal_decode_check": q_multimodal_decode_check,
    "multimodal_features_check": q_multimodal_features_check,
    "multimodal_audio": q_multimodal_audio,
    "multimodal_audio_check": q_multimodal_audio_check,
    "dedup_minhash_recall": q_dedup_minhash_recall,
    "dedup_simhash_complete": q_dedup_simhash_complete,
    "embedding_near_dup_lsh_recall": q_embedding_near_dup_lsh_recall,
    "dedup_keep_best": q_dedup_keep_best,
    "tfidf_top_terms": q_tfidf_top_terms,
    "ngram_novelty": q_ngram_novelty,
    "pack_sequences": q_pack_sequences,
    "salted_event_stats": q_salted_event_stats,
    "session_summary": q_session_summary,
    "temperature_mix": q_temperature_mix,
    "transition_probs": q_transition_probs,
    "weekly_approx_check": q_weekly_approx_check,
    # --- r2 ERR rows: raw arrays now projected to md5 digests ---
    "multimodal_decode": q_multimodal_decode,
    "multimodal_features": q_multimodal_features,
    # --- new in round 3 (placed inside the window) ---
    "decontaminate_bloom_check": q_decontaminate_bloom_check,
    "dedup_ngram_capped": q_dedup_ngram_capped,
    "simjoin_prefix": q_simjoin_prefix,
    "lm_scores": q_lm_scores,
    "dsir_scores": q_dsir_scores,
    "importance_resample": q_importance_resample,
    "semantic_dedup": q_semantic_dedup,
    "semantic_dedup_check": q_semantic_dedup_check,
    "source_overlap": q_source_overlap,
    "bm25_scores": q_bm25_scores,
    "dup_span_stats": q_dup_span_stats,
    "perplexity_buckets": q_perplexity_buckets,
    "heavy_hitters": q_heavy_hitters,
    "key_skew": q_key_skew,
    "zorder_cells": q_zorder_cells,
    "incremental_dedup": q_incremental_dedup,
    "incremental_near_gate": q_incremental_near_gate,
    "scd2_history": q_scd2_history,
    "debounce_events": q_debounce_events,
    "cap_events": q_cap_events,
    "snapshot_diff": q_snapshot_diff,
    "user_sequences": q_user_sequences,
    "doc_chunks": q_doc_chunks,
    "streaming_attribution": q_streaming_attribution,
    # --- §2 core re-confirm (green in CORRECTNESS_r01.json) ---
    "clean_transactions": q_clean_transactions,
    # the seven dashboard panels, each a rounded HousingPipeline output
    "weekly_by_la": _panel("weekly_by_la", WEEKLY_ROUND),  # J1 + W1 + A1-A4
    "rolling_windows": _panel("windows", WINDOW_ROUND),  # W2-W4
    "anomalies": _panel(  # W5/A6: pooled per-LA z-scores + anomaly flags
        "anomalies", WINDOW_ROUND + ["z_transactions", "z_rolling_trans"]
    ),
    "latest_snapshot": _panel("latest", WINDOW_ROUND),  # P10/A7
    "type_breakdown": _panel("type_breakdown", []),  # A5 + P9
    "coverage_report": _panel("coverage", ["coverage_pct"]),  # A9/A10
    "grid_weekly": q_grid_weekly,
    "qa_metrics": _panel("qa", ["coverage_pct"]),  # A8/A10
    "week_over_week": q_week_over_week,
    "props_json": q_props_json,
    "rollup_lineitem": q_rollup_lineitem,
    "quality_checks": q_quality_checks,
    "latest_by_key": q_latest_by_key,
    "revenue_filter": q_revenue_filter,
    "shipping_priority": q_shipping_priority,
    "pricing_summary": q_pricing_summary,
    "revenue_by_nation": q_revenue_by_nation,
    "top_customers": q_top_customers,
    "order_priority": q_order_priority,
    "customers_without_orders": q_customers_without_orders,
    "brand_revenue": q_brand_revenue,
    "promo_revenue": q_promo_revenue,
    "large_orders": q_large_orders,
    "idle_capital": q_idle_capital,
    "top_supplier": q_top_supplier,
    "nation_pair_trade": q_nation_pair_trade,
    "market_share": q_market_share,
    "product_profit": q_product_profit,
    "late_shipments": q_late_shipments,
    "order_count_distribution": q_order_count_distribution,
    "supplier_variety": q_supplier_variety,
    "small_qty_revenue": q_small_qty_revenue,
    "disjunctive_revenue": q_disjunctive_revenue,
    "slow_suppliers": q_slow_suppliers,
    "important_parts": q_important_parts,
    "min_cost_supplier": q_min_cost_supplier,
    "weekly_type_pivot": q_weekly_type_pivot,
    "asof_join": q_asof_join,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_clusters": q_dedup_clusters,
    "top_ngrams": q_top_ngrams,
    "dedup_minhash": q_dedup_minhash,
    "dedup_simhash": q_dedup_simhash,
    # --- sketches (error-envelope oracles; rows-only + gate queries) ---
    "sketch_cardinalities": q_sketch_cardinalities,
    "sketch_weekly_distinct": q_sketch_weekly_distinct,
    "sketch_quantiles": q_sketch_quantiles,
    # --- green in r2 (NTZ-crash retries) ---
    "sessionize": q_sessionize,
    "range_join": q_range_join,
    # --- green in CORRECTNESS_r02.json (rotate back in round 4) ---
    "similarity_topk": q_similarity_topk,
    "similarity_lsh": q_similarity_lsh,
    "similarity_ivf": q_similarity_ivf,
    "similarity_lsh_recall": q_similarity_lsh_recall,
    "similarity_ivf_recall": q_similarity_ivf_recall,
    "embedding_near_dup": q_embedding_near_dup,
    "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
    "text_stats": q_text_stats,
    "quality_score": q_quality_score,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "redact_pii": q_redact_pii,
    "hash_sample": q_hash_sample,
    "dataset_split": q_dataset_split,
    "stratified_sample": q_stratified_sample,
    "corpus_cube": q_corpus_cube,
    "decontaminate": q_decontaminate,
    "repetition_stats": q_repetition_stats,
    "filter_funnel": q_filter_funnel,
    "embedding_quantize": q_embedding_quantize,
    "token_histogram": q_token_histogram,
    "robust_anomalies": q_robust_anomalies,
    "price_deciles": q_price_deciles,
    "lapsed_parts": q_lapsed_parts,
    "source_cap": q_source_cap,
    "weekly_unpivot": q_weekly_unpivot,
    "repeat_customers": q_repeat_customers,
    "supplier_percentile": q_supplier_percentile,
    "gap_interpolation": q_gap_interpolation,
    "top_parts_per_nation": q_top_parts_per_nation,
    "modal_type": q_modal_type,
    "curate_corpus": q_curate_corpus,
    "knn_classify": q_knn_classify,
    "embedding_centroids": q_embedding_centroids,
    "conversion_funnel": q_conversion_funnel,
    "weekly_retention": q_weekly_retention,
    "cohort_matrix": q_cohort_matrix,
    "funnel_timing": q_funnel_timing,
    "value_trend": q_value_trend,
    "pmi_pairs": q_pmi_pairs,
    "semantic_decontaminate": q_semantic_decontaminate,
    "psi_drift": q_psi_drift,
    "attribution_credit": q_attribution_credit,
    "embedding_health": q_embedding_health,
    "bpe_merges": q_bpe_merges,
    "split_leakage": q_split_leakage,
    "table_profile": q_table_profile,
    "twap": q_twap,
    "join_cardinality": q_join_cardinality,
    "streaming_rate_cap": q_streaming_rate_cap,
    "streaming_anomaly": q_streaming_anomaly,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_frames": q_multimodal_frames,
    "cumulative_users": q_cumulative_users,
    "event_transitions": q_event_transitions,
    "first_last_touch": q_first_last_touch,
    "corr_stats": q_corr_stats,
    "price_histogram": q_price_histogram,
    "grouping_sets": q_grouping_sets,
    "range_rolling": q_range_rolling,
    "active_suppliers": q_active_suppliers,
    "rrf_fusion": q_rrf_fusion,
    "quality_calibrate": q_quality_calibrate,
    "vocab_growth": q_vocab_growth,
    "trimmed_stats": q_trimmed_stats,
    "fuzzy_matches": q_fuzzy_matches,
    "fuzzy_pair_stats": q_fuzzy_pair_stats,
    "fuzzy_pair_stats_bucketed": q_fuzzy_pair_stats_bucketed,
    "fuzzy_snm_recall": q_fuzzy_snm_recall,
    "ewma_weekly": q_ewma_weekly,
    "interarrival_stats": q_interarrival_stats,
    "benford_prices": q_benford_prices,
    "cusum_weekly": q_cusum_weekly,
    "dedup_containment": q_dedup_containment,
    "rare_token_linkage": q_rare_token_linkage,
    "strip_boilerplate": q_strip_boilerplate,
    "theil_sen_weekly": q_theil_sen_weekly,
    "holt_weekly": q_holt_weekly,
    "basket_lift": q_basket_lift,
    "streaming_distinct_check": q_streaming_distinct_check,
    "sql_weekly_by_la": q_sql_weekly_by_la,
    "cdc_chunk_dedup": q_cdc_chunk_dedup,
    "embedding_covariance": q_embedding_covariance,
    "asof_forward": q_asof_forward,
    "hard_negatives": q_hard_negatives,
    "name_entities": q_name_entities,
    "top_paths": q_top_paths,
    "ks_values": q_ks_values,
    "ab_ztest": q_ab_ztest,
    "multimodal_phash": q_multimodal_phash,
    "multimodal_phash_pairs": q_multimodal_phash_pairs,
    # --- round-4b: graph analytics family + budget sampler ---
    "copurchase_triangles": q_copurchase_triangles,
    "pagerank_trade": q_pagerank_trade,
    "degree_profile": q_degree_profile,
    "communities": q_communities,
    "weighted_sample": q_weighted_sample,
    "streaming_enriched": q_streaming_enriched,
}

# ---------------------------------------------------------------------------
# Round-6 additions beyond the reference surface: multi-source k-hop
# BFS (recursive-CTE oracle — a new oracle family), Bloom-pruned
# runtime-filter join (result ≡ the plain join, so the oracle is the
# plain join), and PCA fit/project with a distributed spectral gate.


def q_khop_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances (≤ 2 hops) over the 1996
    co-purchase slice, from the 3 smallest node ids. Iterative
    frontier-join BFS on the Spark side; the DuckDB oracle replays it
    as a recursive CTE with UNION-dedup'd states and a min-dist
    aggregate — both must land on identical (root, node, dist) sets."""
    from uk_housing_dashboard_etl_spark.operators.graph import (
        copurchase_edges,
        khop_distances,
    )

    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    edges = copurchase_edges(li)
    nodes = (
        edges.select(F.col("src").alias("n"))
        .union(edges.select(F.col("dst").alias("n")))
        .distinct()
    )
    roots = nodes.orderBy("n").limit(3).select(F.col("n").alias("root"))
    return khop_distances(edges, roots, max_hops=2)


ORACLES["khop_distances"] = """
    WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
    ), e0 AS (
        SELECT a.item AS src, b.item AS dst
        FROM items a JOIN items b ON a.g = b.g AND a.item < b.item
        GROUP BY 1, 2
    ), e AS (
        SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
    ), roots AS (
        SELECT DISTINCT src AS r FROM e ORDER BY 1 LIMIT 3
    ), bfs AS (
        SELECT r AS root, r AS node, 0 AS dist FROM roots
        UNION
        SELECT b.root, e.dst, b.dist + 1
        FROM bfs b JOIN e ON b.node = e.src
        WHERE b.dist < 2
    )
    SELECT root, node, CAST(min(dist) AS INT) AS dist
    FROM bfs GROUP BY 1, 2
"""
QUERIES["khop_distances"] = q_khop_distances


def q_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join: 1996 urgent orders (selective dim) joined
    to lineitem with the fact side Bloom-pruned INSIDE its scan stage
    before the exact join — monthly order count + revenue. The result
    is identical to the plain join (Bloom has no false negatives; the
    exact join removes false positives), so the oracle is simply the
    plain join — the correctness gate proves the pruning is invisible.
    """
    from uk_housing_dashboard_etl_spark.operators.relational import (
        _dsum,
        bloom_pruned_join,
    )

    dim = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    fact = read_table(spark, sf_dir, "lineitem")
    joined = bloom_pruned_join(fact, dim, "l_orderkey", "o_orderkey")
    return (
        joined.groupBy(F.month("o_orderdate").alias("month"))
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            _dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
        )
        .orderBy("month")
    )


ORACLES["bloom_join_prune"] = """
    SELECT CAST(month(o_orderdate) AS INT) AS month,
           count(DISTINCT o_orderkey) AS n_orders,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY 1
"""
QUERIES["bloom_join_prune"] = q_bloom_join_prune


def _pca_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit-cached top-4 PCA components of the embeddings table (the
    fit is deterministic — exact integer-moment covariance + numpy
    eigh + canonical sign — so the scores/check twins share it)."""
    from uk_housing_dashboard_etl_spark.operators.pca import pca_fit

    emb = _emb_valid(spark, sf_dir)
    return _cached_fit(
        spark, sf_dir, "pca4", lambda: pca_fit(emb, n_components=4)
    )


def q_pca_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector scores on the top-4 principal components: the
    distributed part is one covariance pass (D²-key combinable
    aggregate) + a zero-shuffle broadcast projection; the D×D
    eigenproblem is driver-sized by construction. Rows-only (no SQL
    eigensolver); gated by ``pca_check`` in the same window."""
    from uk_housing_dashboard_etl_spark.operators.pca import pca_project

    emb = _emb_valid(spark, sf_dir)
    return pca_project(emb, _pca_components(spark, sf_dir))


def q_pca_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed spectral gate for the PCA family: per component,
    the measured score variance must equal the eigenvalue (vᵀΣv = λ)
    within 5%, and eigenvalues must be non-increasing. A sign error,
    mean-centering bug, or misaligned projection fails this on real
    data; the oracle expects every row TRUE."""
    from uk_housing_dashboard_etl_spark.operators.pca import pca_project

    emb = _emb_valid(spark, sf_dir)
    comps = _pca_components(spark, sf_dir)
    scores = pca_project(emb, comps)
    measured = scores.groupBy("component").agg(
        F.var_pop("score").alias("__var")
    )
    lam = comps.select(
        "component",
        "eigenvalue",
        F.lead("eigenvalue")
        .over(Window.orderBy("component"))
        .alias("__next"),
    )
    return (
        measured.join(F.broadcast(lam), "component")
        .select(
            "component",
            (
                (
                    F.abs(F.col("__var") - F.col("eigenvalue"))
                    <= 0.05
                    * F.greatest(F.col("eigenvalue"), F.lit(1e-12))
                )
                & F.coalesce(
                    F.col("eigenvalue") >= F.col("__next"), F.lit(True)
                )
            ).alias("ok"),
        )
        .orderBy("component")
    )


ORACLES["pca_check"] = """
    SELECT CAST(c AS INT) AS component, TRUE AS ok
    FROM (VALUES (1), (2), (3), (4)) AS t(c)
"""
QUERIES["pca_scores"] = q_pca_scores
QUERIES["pca_check"] = q_pca_check


def q_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters over the event value buckets
    (floor(value) — ~300-400 distinct keys, 9 genuinely above the N/60
    bar at both driver scales, so the capacity-60 sketch REALLY prunes).
    The registry exposes only the ``is_heavy`` survivors: their exact
    counts are deterministic, and the oracle's exact GROUP BY/HAVING
    must produce the identical set — which IS the MG completeness
    guarantee, driver-verified."""
    from uk_housing_dashboard_etl_spark.operators.sketches import (
        mg_heavy_hitters,
    )

    ev = read_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
        & ~F.isnan("value")
        & (F.abs("value") < F.lit(float("inf")))
    )
    keyed = ev.select(F.floor("value").cast("bigint").alias("vbucket"))
    return (
        mg_heavy_hitters(keyed, "vbucket", k=60)
        .where(F.col("is_heavy"))
        .orderBy("vbucket")
    )


# non-finite values have no bucket: Spark's floor(double) returns LONG
# and silently saturates them (+Inf -> maxlong, NaN -> 0) while
# DuckDB's cast raises — both engines filter to finite (r12 fuzz)
ORACLES["mg_heavy_hitters"] = """
    WITH t AS (
        SELECT CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS vbucket
        FROM events WHERE value IS NOT NULL AND isfinite(value)
    ), tot AS (SELECT count(*) AS n_rows FROM t)
    SELECT vbucket, count(*) AS n,
           (SELECT n_rows FROM tot) AS n_rows,
           TRUE AS is_heavy
    FROM t GROUP BY 1
    HAVING count(*) > (SELECT n_rows FROM tot) / 60.0
"""
QUERIES["mg_heavy_hitters"] = q_mg_heavy_hitters


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbour link prediction on the 1996 co-purchase slice:
    top-30 NON-adjacent part pairs by neighbour-set Jaccard
    (deterministic total order jaccard desc, src, dst). The oracle
    replays the wedge join + anti-join + rounded Jaccard rank in SQL."""
    from uk_housing_dashboard_etl_spark.operators.graph import (
        copurchase_edges,
        link_prediction,
    )

    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    return link_prediction(copurchase_edges(li), top_n=30)


ORACLES["link_prediction"] = """
    WITH items AS (
        SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
    ), canon AS (
        SELECT a.item AS src, b.item AS dst
        FROM items a JOIN items b ON a.g = b.g AND a.item < b.item
        GROUP BY 1, 2
    ), sym AS (
        SELECT src, dst FROM canon UNION ALL SELECT dst, src FROM canon
    ), deg AS (
        SELECT src AS node, count(*) AS deg FROM sym GROUP BY 1
    ), cand AS (
        SELECT a.src AS u, b.src AS v, count(*) AS common_neighbors
        FROM sym a JOIN sym b ON a.dst = b.dst AND a.src < b.src
        WHERE NOT EXISTS (
            SELECT 1 FROM canon c WHERE c.src = a.src AND c.dst = b.src
        )
        GROUP BY 1, 2
    ), scored AS (
        SELECT u AS src, v AS dst, common_neighbors,
               floor((CAST(common_neighbors AS DOUBLE)
                      / (du.deg + dv.deg - common_neighbors))
                     * 10000.0 + 0.5) / 10000.0 AS jaccard
        FROM cand
        JOIN deg du ON du.node = u
        JOIN deg dv ON dv.node = v
    )
    SELECT src, dst, common_neighbors, jaccard, CAST(rank AS INT) AS rank
    FROM (
        SELECT *, row_number() OVER (ORDER BY jaccard DESC, src, dst)
                  AS rank
        FROM scored
    )
    WHERE rank <= 30
"""
QUERIES["link_prediction"] = q_link_prediction


def q_acf_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation (lags 1-6) of the global weekly event-count
    series — the seasonality fingerprint behind ``seasonality_profile``
    and the sanity input to ``holt_weekly``'s trend assumption. The
    fact-grain work is one groupBy; the ACF itself runs on the bounded
    |weeks|-row series with dsum-quantized sums, so both engines land
    on identical 4dp values."""
    from uk_housing_dashboard_etl_spark.operators.timeseries import (
        autocorrelation,
    )

    series = (
        read_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("week", F.col("ts")).alias("week"))
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
    )
    return autocorrelation(series, "week", "x", max_lag=6)


def _acf_oracle_sql(max_lag: int = 6) -> str:
    """Unrolled per-lag aggregates mirroring ``autocorrelation``: one
    lagged CTE, one SELECT per lag, dsum-rule quantized sums."""
    lags = ", ".join(
        f"lag(x, {lag}) OVER (ORDER BY week) AS l{lag}"
        for lag in range(1, max_lag + 1)
    )
    parts = []
    for lag in range(1, max_lag + 1):
        num = (
            f"CAST(sum(CAST(round(((l{lag} - mean) * (x - mean))"
            " * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0"
        )
        den = (
            "CAST(sum(CAST(round(((x - mean) * (x - mean))"
            " * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0"
        )
        parts.append(
            f"SELECT {lag} AS lag, count(l{lag}) AS n_pairs,"
            f" floor((({num}) / ({den})) * 10000.0 + 0.5) / 10000.0"
            " AS acf FROM lagged"
        )
    union = " UNION ALL ".join(parts)
    return f"""
    WITH s AS (
        SELECT date_trunc('week', ts) AS week,
               CAST(count(*) AS DOUBLE) AS x
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ), m AS (
        SELECT CAST(sum(CAST(round(x * 10000.0) AS BIGINT)) AS DOUBLE)
               / 10000.0 / count(*) AS mean
        FROM s
    ), lagged AS (
        SELECT x, mean, {lags} FROM s CROSS JOIN m
    )
    {union}
    """


ORACLES["acf_weekly"] = _acf_oracle_sql(6)
QUERIES["acf_weekly"] = q_acf_weekly


def q_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band join: 1996-Q1 order pairs whose totals differ by ≤ 25.0 —
    the |Δvalue| ≤ ε theta join as a LINEAR bucketed equi-join
    (floor(val/ε) buckets, 3-way neighbour probe, exact filter) where
    the naive plan is a cross join. The oracle IS the naive theta join,
    so the gate proves the bucketing admits exactly the right pairs."""
    from uk_housing_dashboard_etl_spark.operators.relational import band_join

    ords = (
        read_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1996-04-01"))
        )
        .select("o_orderkey", "o_totalprice")
    )
    a = ords.select(
        F.col("o_orderkey").alias("order_a"),
        F.col("o_totalprice").alias("price_a"),
    )
    b = ords.select(
        F.col("o_orderkey").alias("order_b"),
        F.col("o_totalprice").alias("price_b"),
    )
    return (
        band_join(a, b, "price_a", "price_b", 25.0)
        .where(F.col("order_a") < F.col("order_b"))
        .select(
            "order_a",
            "order_b",
            round4(F.abs(F.col("price_a") - F.col("price_b"))).alias(
                "price_diff"
            ),
        )
    )


ORACLES["band_join"] = """
    WITH o AS (
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1996-04-01'
    )
    SELECT a.o_orderkey AS order_a, b.o_orderkey AS order_b,
           floor(abs(a.o_totalprice - b.o_totalprice) * 10000.0 + 0.5)
               / 10000.0 AS price_diff
    FROM o a JOIN o b
      ON a.o_orderkey < b.o_orderkey
     AND abs(a.o_totalprice - b.o_totalprice) <= 25.0
"""
QUERIES["band_join"] = q_band_join


def q_streaming_mg_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Misra-Gries trending keys under the driver gate: the
    capacity-60 per-shard summaries live in applyInPandasWithState and
    fold each micro-batch incrementally (state persistence makes the
    multi-batch fold identical to one-pass MG, so the superset
    guarantee holds over the whole drain). The drained candidates are
    exact-counted in one batch pass and cut at > N/60 — the result
    must equal the exact batch heavy-hitter set, so the oracle is the
    SAME exact GROUP BY/HAVING as ``mg_heavy_hitters``: the streaming
    and batch sketches are interchangeable by construction."""
    import hashlib
    import tempfile
    import uuid

    from uk_housing_dashboard_etl_spark.streaming.topk_stream import (
        mg_candidate_stream,
    )
    from uk_housing_dashboard_etl_spark.streaming.weekly_stream import (
        EVENTS_STREAM_SCHEMA,
        run_stream_once,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    land = os.path.join(tempfile.gettempdir(), f"spark_graft_mgstream_{tag}")
    os.makedirs(land, exist_ok=True)
    link = os.path.join(land, "events.parquet")
    try:
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    except FileExistsError:
        pass
    # non-finite values yield a NULL key (dropped by the candidate
    # stream) so phantom maxlong/0 buckets never inflate the fold's N —
    # the MG completeness bar must be measured over the same finite
    # population the exact recount below uses (r12 fuzz)
    sdf = mg_candidate_stream(
        spark,
        land,
        "CASE WHEN NOT isnan(value)"
        " AND abs(value) < CAST('Infinity' AS DOUBLE)"
        " THEN CAST(floor(value) AS BIGINT) END",
        EVENTS_STREAM_SCHEMA,
        k=60,
        n_shards=8,
    )
    # the MG state key space is the 8 explicit shards, not the data
    with _sized_state_partitions(spark, 8, python_stateful=True):
        cand = run_stream_once(
            sdf,
            query_name=f"mgstr_{uuid.uuid4().hex[:10]}",
            output_mode="append",
        )
    # every emitted candidate across batches: the FINAL per-shard
    # summaries are the guaranteed superset, and earlier batches'
    # since-evicted survivors only widen it (≤ k·shards·batches keys,
    # sketch-grain) — the exact N/k cut below removes every extra, so
    # the union avoids a memory-sink self-join for zero correctness cost
    latest = cand.select("key")
    keyed = (
        read_table(spark, sf_dir, "events")
        .where(
            F.col("value").isNotNull()
            & ~F.isnan("value")
            & (F.abs("value") < F.lit(float("inf")))
        )
        .select(F.floor("value").cast("bigint").cast("string").alias("vbucket"))
    )
    n_total = keyed.count()  # 1-row digest, fixes N for the N/k cut
    return (
        keyed.join(
            F.broadcast(latest.distinct()),
            keyed["vbucket"] == F.col("key"),
            "left_semi",
        )
        .groupBy("vbucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > F.lit(n_total) / F.lit(60))
        .select(
            "vbucket",
            "n",
            F.lit(n_total).cast("long").alias("n_rows"),
            F.lit(True).alias("is_heavy"),
        )
        .orderBy("vbucket")
    )


ORACLES["streaming_mg_topk"] = ORACLES["mg_heavy_hitters"]
QUERIES["streaming_mg_topk"] = q_streaming_mg_topk


def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation curve: per (prefix-dim, query) recall of
    truncated-vector cosine top-10 vs the full 64-dim exact top-10 —
    the quality-vs-cost measurement for shrinking an embedding index.
    Each dim is one zero-shuffle broadcast scan; the oracle replays
    every truncated ranking with prefix-bounded dot products."""
    from uk_housing_dashboard_etl_spark.operators.similarity import (
        matryoshka_recall,
    )

    emb = _emb_valid(spark, sf_dir)
    return matryoshka_recall(
        emb.where(F.col("vec_id") >= 5),
        _query_vectors(spark, sf_dir),
        dims=(8, 16, 32),
        k=10,
    )


def _matryoshka_oracle_sql(dims: tuple = (8, 16, 32), k: int = 10) -> str:
    """Per-dim truncated rankings as unioned CTEs, each intersected
    with the full-dim top-k (the same prefix-slice cosine the Spark
    operator scores, dim-bounded ``generate_series`` dot products)."""

    def nonzero_d(d: int) -> str:
        """Mirror of the Spark side's zero-prefix exclusion (round-6
        advice): a vector whose first-d prefix is all zeros has no
        cosine at this dim and must not be ranked by either engine."""
        sq = (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
            f" list_transform(generate_series(1, {d}),"
            " i -> CAST({v}[i] AS DOUBLE) * CAST({v}[i] AS DOUBLE))),"
            " (x, y) -> x + y)"
        )
        return (
            f"({sq.format(v='ce')}) > 0 AND ({sq.format(v='qe')}) > 0"
        )

    def cos_d(d: int) -> str:
        dot = (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
            f" list_transform(generate_series(1, {d}),"
            " i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))),"
            " (x, y) -> x + y)"
        )
        nq = (
            "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
            f" list_transform(generate_series(1, {d}),"
            " i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))),"
            " (x, y) -> x + y))"
        )
        nc = (
            "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
            f" list_transform(generate_series(1, {d}),"
            " i -> CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))),"
            " (x, y) -> x + y))"
        )
        return f"({dot}) / (({nq}) * ({nc}))"

    parts = []
    for d in sorted(dims):
        parts.append(f"""
    SELECT {d} AS dim, g.query_id,
           coalesce(h.n_hit, 0) AS n_hit,
           CAST(coalesce(h.n_hit, 0) AS DOUBLE) / {k} AS recall
    FROM (SELECT DISTINCT query_id FROM full_topk) g
    LEFT JOIN (
        SELECT t.query_id, count(*) AS n_hit
        FROM (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY floor(({cos_d(d)}) * 10000.0 + 0.5)
                                    / 10000.0 DESC, vec_id) AS r
                FROM c CROSS JOIN q
                WHERE {nonzero_d(d)}
            ) WHERE r <= {k}
        ) t
        JOIN full_topk f
          ON f.query_id = t.query_id AND f.vec_id = t.vec_id
        GROUP BY 1
    ) h ON h.query_id = g.query_id""")
    union = " UNION ALL ".join(parts)
    return f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe FROM embeddings
        WHERE vec_id < 5
    ), c AS (
        SELECT vec_id, embedding AS ce FROM embeddings WHERE vec_id >= 5
    ), full_topk AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY floor(({cos_d(64)}) * 10000.0 + 0.5)
                                / 10000.0 DESC, vec_id) AS r
            FROM c CROSS JOIN q
            WHERE {nonzero_d(64)}
        ) WHERE r <= {k}
    )
    {union}
    """


ORACLES["matryoshka_recall"] = _matryoshka_oracle_sql((8, 16, 32), 10)
QUERIES["matryoshka_recall"] = q_matryoshka_recall


def _bpe_applied(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit-cached 40-merge BPE table applied to the documents corpus
    (the trainer is deterministic — count-desc/pair tie-break over the
    exact word-count table — so the encode/check twins share one fit)."""
    from uk_housing_dashboard_etl_spark.operators.text_analysis import (
        bpe_apply,
        bpe_train,
    )

    docs = read_table(spark, sf_dir, "documents")
    merges = _cached_fit(
        spark, sf_dir, "bpe40", lambda: bpe_train(docs, n_merges=40)
    )
    return bpe_apply(docs, merges)


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE tokenization stats under a trained 40-merge
    table: token counts and the chars→tokens compression ratio. The
    token counts depend on the learned merges (no SQL equivalent), so
    this is rows-only; its invariants are hash-verified by
    ``bpe_encode_check`` in the same window."""
    out = _bpe_applied(spark, sf_dir)
    return out.select(
        "doc_id",
        "n_symbols_after",
        round4(
            F.col("n_symbols_after")
            / F.greatest(F.col("n_symbols_before"), F.lit(1)).cast("double")
        ).alias("compression"),
    )


def q_bpe_encode_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle gate for the BPE family: per doc, the word and character
    counts must match the SQL-computed truth exactly, the tokenization
    must round-trip (concatenating each word's tokens rebuilds the
    word — lossless by construction), and token counts must sit in
    [words, characters]. A merge-application bug breaks roundtrip or
    the bounds on real data."""
    return _bpe_applied(spark, sf_dir).select(
        "doc_id",
        "n_words",
        "n_symbols_before",
        "roundtrip_ok",
        "compressed_ok",
    )


ORACLES["bpe_encode_check"] = """
    -- word segmentation uses the SAME explicit ASCII whitespace class
    -- as _bpe_words (Spark train+apply): \\s differs across RE2 / Java
    -- / Python re on non-ASCII whitespace (round-6 advice)
    WITH w AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(
                       lower(text), '[ \\t\\n\\r\\f\\x0B]+'),
                   x -> x <> '') AS words
        FROM documents
    )
    SELECT doc_id,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(coalesce(list_sum(list_transform(words, x -> len(x))), 0)
                AS BIGINT) AS n_symbols_before,
           TRUE AS roundtrip_ok,
           TRUE AS compressed_ok
    FROM w
"""
QUERIES["bpe_encode"] = q_bpe_encode
QUERIES["bpe_encode_check"] = q_bpe_encode_check


def q_salted_join_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join under the driver gate: lineitem ⋈ 1996
    orders on (orderkey, per-row salt) with the dim replicated 16× —
    identical result to the plain join (which IS the oracle), hot fact
    keys spread over 16 reducers. The explicit form of what AQE's
    skew-join split does when runtime stats reveal the skew."""
    from uk_housing_dashboard_etl_spark.functions.guards import (
        finite_or_null,
    )
    from uk_housing_dashboard_etl_spark.functions.skew import salted_join
    from uk_housing_dashboard_etl_spark.operators.relational import _dsum

    dim = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    ).select("o_orderkey", "o_orderpriority")
    fact = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        salted_join(fact, dim, "l_orderkey", "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            # r14 sweep (price_infilter reached through the 1996 join):
            # non-finite revenue terms leave the sum like NULLs
            _dsum(
                finite_or_null(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                )
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


ORACLES["salted_join_stats"] = """
    SELECT o_orderpriority,
           count(*) AS n_lines,
           CAST(sum(CASE WHEN isfinite(l_extendedprice * (1 - l_discount)) THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000.0) AS BIGINT) END) AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY 1
"""
QUERIES["salted_join_stats"] = q_salted_join_stats


def q_sketch_intersection_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL inclusion-exclusion set overlap under the driver gate:
    |clickers ∩ purchasers| estimated from three mergeable sketches,
    emitted next to the exact counts with a 3-standard-error bound flag
    (error scales with |A ∪ B| — surfaced, not hidden). The oracle
    recomputes the exact side and asserts the flag; the raw estimate is
    engine-specific and stays out of the hashed columns."""
    from uk_housing_dashboard_etl_spark.operators.sketches import (
        hll_intersection_estimate,
    )

    ev = read_table(spark, sf_dir, "events")
    return hll_intersection_estimate(
        ev, "event_type", "user_id", "click", "purchase", lg_k=12
    ).select(
        "exact_a", "exact_b", "exact_union", "exact_inter", "within_bound"
    )


def q_embedding_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension rank (quantile) normalization of the embedding
    matrix — distribution-free feature scaling before quantization or
    mixed-model ensembling. One posexplode + ONE window partitioned by
    dimension (D parallel bounded sorts); the documented 100 TB
    degradation path is KLL-bucketed mapping (no per-dim sort)."""
    from uk_housing_dashboard_etl_spark.operators.similarity import (
        quantile_normalize,
    )

    return quantile_normalize(read_table(spark, sf_dir, "embeddings"))


ORACLES["embedding_quantile_norm"] = """
    SELECT vec_id,
           CAST(pos AS INT) AS dim,
           floor(CAST(v AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS value,
           floor(percent_rank() OVER (PARTITION BY pos ORDER BY v)
                 * 10000.0 + 0.5) / 10000.0 AS q
    FROM (
        SELECT vec_id, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
        WHERE embedding IS NOT NULL
    )
    WHERE isfinite(CAST(v AS DOUBLE))
"""
QUERIES["embedding_quantile_norm"] = q_embedding_quantile_norm


def q_winsorized_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized order totals per priority: exact [p5, p95] fences,
    row-local clip, dsum-disciplined mean next to the raw mean — the
    bounded-influence robust aggregate that keeps every row's vote."""
    from uk_housing_dashboard_etl_spark.operators.stats import (
        winsorized_stats,
    )

    return winsorized_stats(
        read_table(spark, sf_dir, "orders"),
        "o_orderpriority",
        "o_totalprice",
    ).orderBy("o_orderpriority")


ORACLES["winsorized_prices"] = """
    WITH fences AS (
        SELECT o_orderpriority AS grp,
               count(*) AS n,
               floor(quantile_cont(o_totalprice, 0.05) * 10000.0 + 0.5)
                   / 10000.0 AS p_lo,
               floor(quantile_cont(o_totalprice, 0.95) * 10000.0 + 0.5)
                   / 10000.0 AS p_hi,
               floor((CAST(sum(CAST(round(o_totalprice * 10000.0) AS BIGINT)) AS DOUBLE)
                      / 10000.0 / count(o_totalprice)) * 10000.0 + 0.5)
                   / 10000.0 AS raw_mean
        FROM orders
        WHERE o_totalprice IS NULL OR isfinite(o_totalprice)
        GROUP BY 1
    )
    SELECT f.grp AS o_orderpriority, f.n, f.p_lo, f.p_hi, f.raw_mean,
           -- NULL values stay NULL so the dsum/count mean skips them
           -- exactly like raw_mean does: DuckDB's least/greatest are
           -- null-ignoring, so a bare least(NULL, p_hi) would clip a
           -- null row to the upper fence (r9 verdict items 2/8 — this
           -- oracle moves in the same commit as the operator fix).
           floor((CAST(sum(CAST(round(
                      CASE WHEN o.o_totalprice IS NOT NULL THEN
                          greatest(least(o.o_totalprice, f.p_hi), f.p_lo)
                      END * 10000.0) AS BIGINT)) AS DOUBLE)
                  / 10000.0 / count(o.o_totalprice)) * 10000.0 + 0.5)
               / 10000.0 AS winsorized_mean
    FROM orders o JOIN fences f ON o.o_orderpriority = f.grp
    WHERE o.o_totalprice IS NULL OR isfinite(o.o_totalprice)
    GROUP BY 1, 2, 3, 4, 5
"""
QUERIES["winsorized_prices"] = q_winsorized_prices


def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-contract suite over lineitem: five named
    row-level expectations evaluated in ONE scan (every check is a
    conditional sum inside a single combinable aggregate — checks scale
    on expression budget, never extra scans). NULL predicate results
    count as violations."""
    from uk_housing_dashboard_etl_spark.functions.guards import is_finite
    from uk_housing_dashboard_etl_spark.operators.stats import (
        expectation_suite,
    )

    li = read_table(spark, sf_dir, "lineitem")
    # range checks are EXPLICITLY finite-and-in-band on both engines: a
    # NaN quantity is out of range semantically, but DuckDB's columnar
    # BETWEEN admits NaN while its constant fold rejects it (r14 sweep,
    # price_reach axis) — the isfinite conjunct pins one answer
    return expectation_suite(
        li,
        [
            (
                "qty_in_range",
                is_finite(F.col("l_quantity"))
                & F.col("l_quantity").between(1, 50),
            ),
            (
                "discount_in_range",
                is_finite(F.col("l_discount"))
                & F.col("l_discount").between(0.0, 0.1),
            ),
            ("shipdate_complete", F.col("l_shipdate").isNotNull()),
            ("orderkey_positive", F.col("l_orderkey") > 0),
            (
                "returnflag_in_domain",
                F.col("l_returnflag").isin("A", "N", "R"),
            ),
        ],
    ).orderBy("check_name")


ORACLES["expectations"] = """
    WITH t AS (
        SELECT count(*) AS n_rows,
            sum(CASE WHEN coalesce(isfinite(l_quantity)
                              AND l_quantity BETWEEN 1 AND 50, FALSE)
                THEN 0 ELSE 1 END) AS qty_in_range,
            sum(CASE WHEN coalesce(isfinite(l_discount)
                              AND l_discount BETWEEN 0.0 AND 0.1, FALSE)
                THEN 0 ELSE 1 END) AS discount_in_range,
            sum(CASE WHEN l_shipdate IS NOT NULL
                THEN 0 ELSE 1 END) AS shipdate_complete,
            sum(CASE WHEN coalesce(l_orderkey > 0, FALSE)
                THEN 0 ELSE 1 END) AS orderkey_positive,
            sum(CASE WHEN coalesce(l_returnflag IN ('A', 'N', 'R'), FALSE)
                THEN 0 ELSE 1 END) AS returnflag_in_domain
        FROM lineitem
    )
    SELECT u.check_name, t.n_rows,
           CAST(u.n_violations AS BIGINT) AS n_violations,
           u.n_violations = 0 AS passed
    FROM t, (
        SELECT 'qty_in_range' AS check_name, qty_in_range AS n_violations FROM t
        UNION ALL SELECT 'discount_in_range', discount_in_range FROM t
        UNION ALL SELECT 'shipdate_complete', shipdate_complete FROM t
        UNION ALL SELECT 'orderkey_positive', orderkey_positive FROM t
        UNION ALL SELECT 'returnflag_in_domain', returnflag_in_domain FROM t
    ) u
"""
QUERIES["expectations"] = q_expectations


ORACLES["sketch_intersection_check"] = """
    WITH ids AS (
        SELECT event_type AS s, user_id AS id FROM events
        WHERE event_type IN ('click', 'purchase') AND user_id IS NOT NULL
    )
    SELECT
        (SELECT count(DISTINCT id) FROM ids WHERE s = 'click') AS exact_a,
        (SELECT count(DISTINCT id) FROM ids WHERE s = 'purchase') AS exact_b,
        (SELECT count(DISTINCT id) FROM ids) AS exact_union,
        (SELECT count(*) FROM (
            SELECT DISTINCT id FROM ids WHERE s = 'click'
            INTERSECT
            SELECT DISTINCT id FROM ids WHERE s = 'purchase')) AS exact_inter,
        TRUE AS within_bound
"""
QUERIES["sketch_intersection_check"] = q_sketch_intersection_check


# ------------------------------------------------- round-7 additions


def _exsub_spans30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr cut list (min_len=30, string-exact), shared by
    all four exact_substr queries — each previously re-ran the
    corpus-sized gram exchange. Deterministic and corpus-grain, so it
    lives in the salted parquet artifact cache: derive the cut list
    once, roll up stats/trim/audits from the same table (the
    production shape)."""
    from uk_housing_dashboard_etl_spark.operators.dedup import (
        exact_substr_spans,
    )

    docs = read_table(spark, sf_dir, "documents")
    return _cached_fit_large(
        spark, sf_dir, "exsub_spans30",
        lambda: exact_substr_spans(docs, min_len=30, hash_grams=False),
    )


def q_dedup_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup stats (Lee et al. 2022), EXACT character
    grain: per doc, the characters covered by maximal duplicated spans
    of length >= 30 — the suffix-grain formulation (sorted 30-char
    suffix prefixes + within-doc extension) of the suffix-array
    algorithm, complementing ``dup_span_stats``'s word-k-gram coverage.
    String-exact (``hash_grams=False``) so the DuckDB oracle matches
    bit-for-bit."""
    from uk_housing_dashboard_etl_spark.operators.dedup import (
        exact_substr_stats,
    )

    return exact_substr_stats(
        read_table(spark, sf_dir, "documents"), min_len=30,
        hash_grams=False, spans=_exsub_spans30(spark, sf_dir),
    )


def q_dedup_exact_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr CUT LIST: every maximal duplicated char span
    (doc_id, span_id, span_start, span_end, span_len) a span-level
    trimmer would remove — the byte ranges themselves, not just
    coverage ratios."""
    from uk_housing_dashboard_etl_spark.operators.dedup import (
        exact_substr_spans,
    )

    return _exsub_spans30(spark, sf_dir)


def q_dedup_exact_substr_agree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement gate between the two ExactSubstr formulations: docs
    flagged >= 0.3 duplicated by EXACT char-grain spans (min_len=30)
    vs by word-5-gram positional coverage (``dup_span_stats``) —
    corpus-level flag counts + Jaccard, ok = Jaccard >= 0.8 (measured
    1.0 at sf0.01, 0.92 at sf0.1: the word approximation misses only
    span-boundary slivers)."""
    from uk_housing_dashboard_etl_spark.operators.dedup import (
        dup_span_stats,
        exact_substr_stats,
    )

    docs = read_table(spark, sf_dir, "documents")
    cs = exact_substr_stats(
        docs, min_len=30, hash_grams=False,
        spans=_exsub_spans30(spark, sf_dir),
    ).select(
        "doc_id", (F.col("dup_frac") >= 0.3).alias("__cf")
    )
    ws = dup_span_stats(docs, k=5, hash_shingles=False).select(
        "doc_id", (F.col("dup_ratio") >= 0.3).alias("__wf")
    )
    j = cs.join(ws, "doc_id")
    agg = j.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("__cf").cast("long")).alias("char_flagged"),
        F.sum(F.col("__wf").cast("long")).alias("word_flagged"),
        F.sum((F.col("__cf") & F.col("__wf")).cast("long")).alias(
            "both_flagged"
        ),
    )
    jac = round4(
        F.col("both_flagged").cast("double")
        / F.greatest(
            F.col("char_flagged") + F.col("word_flagged")
            - F.col("both_flagged"),
            F.lit(1),
        ).cast("double")
    )
    return agg.select(
        "n_docs", "char_flagged", "word_flagged", "both_flagged",
        jac.alias("jaccard"),
        (jac >= 0.8).alias("ok"),
    )


_EXACT_SUBSTR_SQL = """
    WITH g AS (
        SELECT doc_id, unnest(generate_series(0, length(text) - 30))
                   AS pos, text
        FROM documents WHERE length(text) >= 30
    ), grams AS (
        SELECT doc_id, pos, substring(text, pos + 1, 30) AS gram FROM g
    ), dup AS (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS c
            FROM grams
        ) WHERE c >= 2
    ), marked AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL
                      OR pos - lag(pos) OVER w > 30
                    THEN 1 ELSE 0 END AS is_start
        FROM dup
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), isl AS (
        SELECT doc_id, pos,
               sum(is_start) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS UNBOUNDED PRECEDING) AS span_id
        FROM marked
    ), spans AS (
        SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
               min(pos) AS span_start,
               max(pos) + 30 AS span_end
        FROM isl GROUP BY 1, 2
    )
"""

ORACLES["dedup_exact_substr"] = _EXACT_SUBSTR_SQL + """
    , per_doc AS (
        SELECT doc_id, count(*) AS n_spans,
               sum(span_end - span_start) AS dup_chars
        FROM spans GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(length(d.text) AS BIGINT) AS n_chars,
           CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(p.dup_chars, 0) AS BIGINT) AS dup_chars,
           floor(CAST(coalesce(p.dup_chars, 0) AS DOUBLE)
                 / greatest(length(d.text), 1) * 10000.0 + 0.5)
               / 10000.0 AS dup_frac
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""

ORACLES["dedup_exact_substr_spans"] = _EXACT_SUBSTR_SQL + """
    SELECT doc_id, span_id, span_start, span_end,
           span_end - span_start AS span_len
    FROM spans
"""

ORACLES["dedup_exact_substr_agree"] = _EXACT_SUBSTR_SQL + f"""
    , per_doc AS (
        SELECT doc_id, sum(span_end - span_start) AS dup_chars
        FROM spans GROUP BY 1
    ), cs AS (
        SELECT d.doc_id,
               (floor(CAST(coalesce(p.dup_chars, 0) AS DOUBLE)
                      / greatest(length(d.text), 1) * 10000.0 + 0.5)
                    / 10000.0) >= 0.3 AS cf
        FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    ), toks AS (
        SELECT doc_id, {_TOKS} AS t FROM documents
    ), wg AS (
        SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+4], ' ') AS sh
        FROM toks, unnest(generate_series(1, len(t) - 4)) AS u(i)
        WHERE len(t) >= 5
    ), wdup AS (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos, count(*) OVER (PARTITION BY sh) AS c
            FROM wg
        ) WHERE c >= 2
    ), wcontrib AS (
        SELECT doc_id,
               least(5, coalesce(lead(pos) OVER (PARTITION BY doc_id
                   ORDER BY pos) - pos, 5)) AS c
        FROM wdup
    ), wcov AS (
        SELECT doc_id, sum(c) AS ct FROM wcontrib GROUP BY 1
    ), ws AS (
        SELECT t.doc_id,
               (floor(CAST(coalesce(w.ct, 0) AS DOUBLE) / len(t.t)
                      * 10000.0 + 0.5) / 10000.0) >= 0.3 AS wf
        FROM toks t LEFT JOIN wcov w ON t.doc_id = w.doc_id
    ), agg AS (
        SELECT count(*) AS n_docs,
               CAST(sum(CASE WHEN cs.cf THEN 1 ELSE 0 END) AS BIGINT)
                   AS char_flagged,
               CAST(sum(CASE WHEN ws.wf THEN 1 ELSE 0 END) AS BIGINT)
                   AS word_flagged,
               CAST(sum(CASE WHEN cs.cf AND ws.wf THEN 1 ELSE 0 END)
                   AS BIGINT) AS both_flagged
        FROM cs JOIN ws ON cs.doc_id = ws.doc_id
    )
    SELECT n_docs, char_flagged, word_flagged, both_flagged,
           floor(CAST(both_flagged AS DOUBLE)
                 / greatest(char_flagged + word_flagged - both_flagged, 1)
                 * 10000.0 + 0.5) / 10000.0 AS jaccard,
           (floor(CAST(both_flagged AS DOUBLE)
                  / greatest(char_flagged + word_flagged - both_flagged, 1)
                  * 10000.0 + 0.5) / 10000.0) >= 0.8 AS ok
    FROM agg
"""

QUERIES["dedup_exact_substr"] = q_dedup_exact_substr


def q_dedup_exact_substr_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the ExactSubstr cut list: per doc, lengths before/after
    removing every maximal duplicated span plus the md5 of the rebuilt
    text — the operator that actually PRODUCES the deduplicated corpus
    (the span-level trim of Lee et al. 2022), not just its statistics.
    The md5 makes the rebuilt string itself hash-verified against the
    DuckDB reconstruction."""
    from uk_housing_dashboard_etl_spark.operators.dedup import (
        exact_substr_trim,
    )

    return exact_substr_trim(
        read_table(spark, sf_dir, "documents"), min_len=30,
        hash_grams=False, spans=_exsub_spans30(spark, sf_dir),
    )


ORACLES["dedup_exact_substr_trim"] = _EXACT_SUBSTR_SQL + """
    , segs AS (
        SELECT doc_id,
               coalesce(lag(span_end) OVER (PARTITION BY doc_id
                   ORDER BY span_start), 0) AS a,
               span_start AS b
        FROM spans
        UNION ALL
        SELECT doc_id, max(span_end) AS a, NULL AS b
        FROM spans GROUP BY doc_id
    ), pieces AS (
        SELECT s.doc_id,
               substring(d.text, CAST(s.a AS INT) + 1,
                   CAST(coalesce(s.b, length(d.text)) - s.a AS INT))
                   AS piece,
               s.a
        FROM segs s JOIN documents d USING (doc_id)
    ), rebuilt AS (
        SELECT doc_id, string_agg(piece, '' ORDER BY a) AS t,
               count(*) - 1 AS n_cuts
        FROM pieces GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(length(d.text) AS BIGINT) AS n_chars,
           CAST(length(coalesce(r.t, d.text)) AS BIGINT) AS trimmed_chars,
           CAST(coalesce(r.n_cuts, 0) AS BIGINT) AS n_cuts,
           md5(coalesce(r.t, d.text)) AS trimmed_md5
    FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
"""
QUERIES["dedup_exact_substr_trim"] = q_dedup_exact_substr_trim
QUERIES["dedup_exact_substr_spans"] = q_dedup_exact_substr_spans
QUERIES["dedup_exact_substr_agree"] = q_dedup_exact_substr_agree


def q_epoch_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-epoch dataloader plan over the documents
    corpus (2 epochs × 8 shards): for every (epoch, doc), the shard a
    reader worker streams it from and its position within that shard.
    Order and shard both derive from an epoch-mixed multiplicative hash
    (no rand()), so a crashed training run re-derives byte-identical
    epoch schedules from nothing but the id set — and the DuckDB oracle
    computes the exact same BIGINT sequence, which is the point of
    keeping every intermediate under 2^63."""
    from uk_housing_dashboard_etl_spark.operators.curation import (
        epoch_shards,
    )

    docs = read_table(spark, sf_dir, "documents")
    return epoch_shards(docs, n_epochs=2, n_shards=8)


QUERIES["epoch_shards"] = q_epoch_shards
ORACLES["epoch_shards"] = """
    WITH keyed AS (
        SELECT d.doc_id,
               CAST(e.epoch AS INT) AS epoch,
               ((d.doc_id % 1000000007) + (e.epoch + 1) * 2654435761)
                   % 1000000007 * 2654435761 % 1000000007 AS h
        FROM documents d
        CROSS JOIN (SELECT unnest([0, 1]) AS epoch) e
    )
    SELECT doc_id,
           epoch,
           CAST(h % 8 AS INT) AS shard,
           CAST(row_number() OVER (
               PARTITION BY epoch, h % 8 ORDER BY h, doc_id
           ) - 1 AS BIGINT) AS pos
    FROM keyed
"""


# ---------------------------------------------------------------------------
# Round 11: batch-equivalence oracle gate for the stateful anomaly
# drain. Window SQL mirror of the drain's prequential semantics — the
# identical frame spec on both engines, z 4dp-quantized via round4 /
# round4_sql (the engine-portable floor rounding).
#
# QUANTIZATION-BOUNDARY ASSUMPTION (r11 advice): hash-exactness relies
# on Spark and DuckDB producing prefix-window avg/stddev_samp whose
# difference stays below the 4dp floor's step. Both engines fold the
# SAME (ts, event_id)-ordered sequence (the frame spec pins the order,
# unlike a groupBy avg whose combine order is free — the reason dsum/
# dmean exist elsewhere), so the residual risk is only implementation-
# level accumulation differences (e.g. a pairwise-summation engine
# upgrade), which could flip a z-score sitting within an ulp of a
# .00005 boundary. Verified hash-exact on the shipped corpus at sf0.01
# and sf0.1; if a regenerated corpus or engine upgrade ever trips it,
# pre-quantize `value` to 1e-4 integer units on both sides (dsum-style)
# before the window instead of loosening the gate.
ORACLES["streaming_anomaly_check"] = f"""
WITH e AS (
    SELECT CAST(event_type AS VARCHAR) AS key, event_id, ts, value,
           -- NULL/NaN/±Inf score unknown and never enter the prefix
           -- stats, mirroring the drain's state-poisoning guard
           CASE WHEN value IS NOT NULL AND isfinite(value) THEN value
           END AS fv
    FROM events
    WHERE ts IS NOT NULL AND event_type IS NOT NULL
), s AS (
    SELECT key, event_id, ts, value, fv,
           count(fv) OVER wp AS n_prior,
           avg(fv) OVER wp AS mean_prior,
           stddev_samp(fv) OVER wp AS std_prior,
           count(fv) OVER wc AS n_seen
    FROM e
    WINDOW wp AS (PARTITION BY key ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           wc AS (PARTITION BY key ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT key, event_id, ts, value,
       CASE WHEN fv IS NULL THEN NULL
            WHEN n_prior >= 2 AND std_prior > 0
                 THEN {round4_sql('(value - mean_prior) / std_prior')}
            ELSE 0.0 END AS zscore,
       CASE WHEN fv IS NULL THEN NULL
            WHEN n_prior >= 2 AND std_prior > 0
                 THEN abs((value - mean_prior) / std_prior) > 3.0
            ELSE FALSE END AS is_anomaly,
       n_seen
FROM s
"""
QUERIES["streaming_anomaly_check"] = q_streaming_anomaly_check


# ---------------------------------------------------------------------
# Vector-family oracle boundary (r14 `embeddings` sweep axis): the
# DuckDB mirror of operators.similarity.valid_embeddings — same four
# predicates (non-NULL, modal dimension with ties to the smaller,
# all components non-NULL and finite, positive L2 norm). Applied
# mechanically to the family's oracles: every `embeddings` reference
# becomes `embeddings_valid` and the CTE is prepended (merged into an
# existing WITH); asserted per-oracle so a missed reference fails at
# import, not at compare time. embedding_health/embedding_quantile_norm
# stay raw by contract — they are the diagnostics that characterize
# malformed vectors before an index build.
_EMB_VALID = (
    "WITH emb_dim AS (\n"
    "    SELECT len(embedding) AS d FROM embeddings\n"
    "    WHERE embedding IS NOT NULL\n"
    "    GROUP BY 1 ORDER BY count(*) DESC, 1 LIMIT 1\n"
    "), embeddings_valid AS (\n"
    "    SELECT * FROM embeddings\n"
    "    WHERE embedding IS NOT NULL\n"
    "      AND len(embedding) = (SELECT d FROM emb_dim)\n"
    "      AND len(list_filter(embedding,\n"
    "               x -> x IS NULL OR NOT isfinite(x))) = 0\n"
    "      AND list_sum(list_transform(embedding,\n"
    "               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0\n"
    ")"
)

_EMB_FAMILY_ORACLES = [
    "similarity_topk",
    "embedding_near_dup",
    "embedding_near_dup_lsh_recall",
    "semantic_dedup_check",
    "embedding_covariance",
    "hard_negatives",
    "semantic_decontaminate",
    "matryoshka_recall",
    "embedding_quantize",
    "knn_classify",
    "embedding_centroids",
    "similarity_lsh_recall",
    "similarity_ivf_recall",
    "similarity_pq_recall",
    "similarity_ivfpq_recall",
    "similarity_ivfpq_res_recall",
]


def _emb_guard_oracle(sql: str) -> str:
    import re as _re

    body, n = _re.subn(r"\bembeddings\b", "embeddings_valid", sql)
    assert n, "vector-family oracle has no `embeddings` reference"
    stripped = body.lstrip()
    if stripped[:4].upper() == "WITH":
        return _EMB_VALID + "," + stripped[4:]
    return _EMB_VALID + "\n" + body


for _emb_name in _EMB_FAMILY_ORACLES:
    ORACLES[_emb_name] = _emb_guard_oracle(ORACLES[_emb_name])
del _emb_name
