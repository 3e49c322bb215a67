"""Incremental mart maintenance: splice-equals-full-recompute, partition
pruning of the affected-week zone read, SCD-2 history, and an unreadable
mart failing the tick instead of being overwritten."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from uk_housing_dashboard_etl_spark.operators.incremental import (
    append_increment,
    daily_increment,
    recompute_weeks,
)
from uk_housing_dashboard_etl_spark.operators.weekly import weekly_mart


def _enriched(spark, rows):
    return spark.createDataFrame(
        rows, "transaction_id string, date timestamp, price double, local_authority string"
    )


def _mart_key(r):
    return (r["week"], r["local_authority"])


def test_incremental_equals_full_recompute(spark, tmp_path):
    zone = str(tmp_path / "zone")
    mart = str(tmp_path / "mart")
    wk1 = dt.datetime(2024, 1, 1)   # Monday
    wk2 = dt.datetime(2024, 1, 8)
    wk3 = dt.datetime(2024, 1, 15)
    d = dt.timedelta(days=1)
    batch1 = [
        ("a", wk1, 100.0, "Alpha"),
        ("b", wk1 + d, 200.0, "Alpha"),
        ("c", wk2, 300.0, "Beta"),
    ]
    # second day: late rows land in week 2 (already in the mart) AND a
    # brand-new week 3 — both must be recomputed, week 1 untouched
    batch2 = [
        ("e", wk2 + d, 500.0, "Beta"),
        ("f", wk2 + d, 150.0, "Alpha"),
        ("g", wk3, 700.0, "Alpha"),
    ]

    m1 = daily_increment(spark, _enriched(spark, batch1), zone, mart)
    expect1 = weekly_mart(_enriched(spark, batch1))
    assert sorted(map(tuple, m1.collect())) == sorted(map(tuple, expect1.collect()))

    m2 = daily_increment(spark, _enriched(spark, batch2), zone, mart)
    expect2 = weekly_mart(_enriched(spark, batch1 + batch2))
    assert sorted(map(tuple, m2.collect())) == sorted(map(tuple, expect2.collect()))

    # the persisted mart equals the returned one
    persisted = spark.read.parquet(mart)
    assert sorted(map(tuple, persisted.collect())) == sorted(
        map(tuple, expect2.collect())
    )


def test_recompute_prunes_zone_partitions(spark, tmp_path):
    zone = str(tmp_path / "zone")
    wk1 = dt.datetime(2024, 1, 1)
    wk2 = dt.datetime(2024, 1, 8)
    df = _enriched(
        spark,
        [("a", wk1, 100.0, "Alpha"), ("b", wk2, 200.0, "Beta")],
    )
    from uk_housing_dashboard_etl_spark.operators.incremental import (
        append_increment,
    )

    weeks = append_increment(df, zone)
    assert sorted(weeks) == ["2024-01-01", "2024-01-08"]

    pruned = recompute_weeks(spark, zone, ["2024-01-08"])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the zone scan must carry a partition filter on week_key — only the
    # affected week's directory is read
    assert "PartitionFilters" in plan and "week_key" in plan
    rows = pruned.collect()
    assert len(rows) == 1 and rows[0]["local_authority"] == "Beta"


def test_scd2_history_runs_and_intervals(spark):
    import datetime as dt

    from uk_housing_dashboard_etl_spark.operators.incremental import (
        scd2_history,
    )

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # user 1: A A B A -> runs A[0,2) B[2,3) A[3,None)
        (10, t(0), 1, "A"),
        (11, t(1), 1, "A"),
        (12, t(2), 1, "B"),
        (13, t(3), 1, "A"),
        # user 2: single event -> one current interval
        (14, t(5), 2, "C"),
        # tie on ts broken by event_id: 15 before 16 -> B run then A
        (15, t(7), 3, "B"),
        (16, t(7), 3, "A"),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    out = scd2_history(df).toPandas()
    u1 = out[out.key == 1].sort_values("version")
    assert list(u1.attr) == ["A", "B", "A"]
    assert u1.iloc[0].valid_to == t(2) and not u1.iloc[0].is_current
    assert u1.iloc[1].valid_to == t(3)
    assert u1.iloc[2].valid_to is None or str(u1.iloc[2].valid_to) == "NaT"
    assert bool(u1.iloc[2].is_current)
    assert len(out[out.key == 2]) == 1 and bool(out[out.key == 2].iloc[0].is_current)
    u3 = out[out.key == 3].sort_values("version")
    assert list(u3.attr) == ["B", "A"]  # event_id tie-break


def test_unreadable_mart_fails_the_tick_and_is_kept(spark, tmp_path):
    """Only a MISSING mart counts as empty. A mart that exists but cannot
    be read must fail the tick before the overwrite — treating it as "no
    mart" would replace its history with the recomputed weeks alone. The
    failed tick must not have appended its day to the zone either."""
    zone = str(tmp_path / "zone")
    mart = tmp_path / "mart"
    mart.mkdir()
    corrupt = mart / "part-00000-corrupt.snappy.parquet"
    corrupt.write_bytes(b"not a parquet file, but the mart's only history")
    before = corrupt.read_bytes()
    append_increment(_enriched(spark, [("z", dt.datetime(2023, 12, 25), 50.0, "Alpha")]), zone)

    def zone_files():
        return sorted(
            os.path.relpath(os.path.join(d, f), zone)
            for d, _, files in os.walk(zone)
            for f in files
        )

    zone_before = zone_files()
    batch = [("a", dt.datetime(2024, 1, 1), 100.0, "Alpha")]
    with pytest.raises(Exception):
        daily_increment(spark, _enriched(spark, batch), zone, str(mart))
    assert sorted(os.listdir(mart)) == [corrupt.name]
    assert corrupt.read_bytes() == before
    assert zone_files() == zone_before
