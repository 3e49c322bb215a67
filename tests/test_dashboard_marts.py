"""The dashboard panels serve one ``HousingPipeline`` run, held once per
session, sf_dir and input version: a warm panel reads the run's cached
marts in one Spark job, and a table rewritten in place is never served
from the marts built over its old rows."""

from __future__ import annotations

import os
import shutil
import uuid
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from uk_housing_dashboard_etl_spark import contract

STAR = ("events", "customer", "nation")
PANELS = (
    "weekly_by_la",
    "type_breakdown",
    "coverage_report",
    "rolling_windows",
    "anomalies",
    "latest_snapshot",
    "qa_metrics",
)


def _copy_star(sf_small: str, dst) -> str:
    for t in STAR:
        shutil.copy(os.path.join(sf_small, f"{t}.parquet"), dst / f"{t}.parquet")
    return str(dst)


def _oracle_problems(spark, sf: str, name: str) -> list[str]:
    from tools.selfcheck import compare, duck_connection

    got = contract.QUERIES[name](spark, sf).toPandas()
    con = duck_connection(sf)
    try:
        want = con.sql(contract.ORACLES[name]).df()
    finally:
        con.close()
    return compare(got, want)


def _jobs(sc, action) -> int:
    group = f"marts-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_panels_follow_a_table_rewritten_in_place(spark, sf_small, tmp_path):
    sf = _copy_star(sf_small, tmp_path)
    panels = ("latest_snapshot", "weekly_by_la")
    before = {n: contract.QUERIES[n](spark, sf).toPandas() for n in panels}
    for n in panels:
        assert not _oracle_problems(spark, sf, n)

    events = os.path.join(sf, "events.parquet")
    table = pq.read_table(events)
    pq.write_table(table.slice(0, table.num_rows // 2), events)

    for n in panels:
        assert not _oracle_problems(spark, sf, n), f"{n} served the old rows"
    after = contract.QUERIES["weekly_by_la"](spark, sf).toPandas()
    assert after["transactions"].sum() < before["weekly_by_la"]["transactions"].sum()


def test_warm_panel_reads_its_materialized_marts(spark, sf_small, tmp_path):
    sf = _copy_star(sf_small, tmp_path)
    sc = spark.sparkContext
    panel = contract.QUERIES["latest_snapshot"]
    panel(spark, sf).collect()  # cold: fills the weekly, windows, latest caches

    assert _jobs(sc, lambda: panel(spark, sf).collect()) == 1
    held = sc._jsc.sc().getPersistentRDDs().size()
    for _ in range(3):
        panel(spark, sf).collect()
    assert sc._jsc.sc().getPersistentRDDs().size() == held

    spark.catalog.clearCache()
    assert not _oracle_problems(spark, sf, "latest_snapshot")


@pytest.mark.parametrize("name", PANELS)
def test_warm_panel_runs_one_spark_job(spark, sf_small, name):
    panel = contract.QUERIES[name]
    panel(spark, sf_small).collect()  # cold: runs the pipeline, fills its caches
    assert _jobs(spark.sparkContext, lambda: panel(spark, sf_small).collect()) == 1


def test_table_rewrite_releases_the_old_caches(spark, sf_small, tmp_path):
    sf = _copy_star(sf_small, tmp_path)
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs
    panel = contract.QUERIES["latest_snapshot"]
    panel(spark, sf).collect()  # fills enriched, weekly_by_la and anomalies
    held = rdds().size()

    events = os.path.join(sf, "events.parquet")
    table = pq.read_table(events)
    pq.write_table(table.slice(0, table.num_rows // 2), events)
    panel(spark, sf).collect()
    assert rdds().size() == held, "the run over the old rows is still cached"


def test_cached_fit_large_refits_after_a_table_rewrite(spark, monkeypatch, tmp_path):
    calls = {"n": 0}

    def builder():
        calls["n"] += 1
        return spark.range(3)

    def write_events(n: int) -> None:
        pq.write_table(pa.table({"v": list(range(n))}), tmp_path / "events.parquet")

    monkeypatch.setattr(contract, "_fit_code_salt", lambda kind: "saltCCCC")
    sf = str(tmp_path)
    write_events(4)
    fits = [contract._cached_fit_large(spark, sf, "tfkind", builder) for _ in range(2)]
    assert calls["n"] == 1
    write_events(5)
    fits.append(contract._cached_fit_large(spark, sf, "tfkind", builder))
    assert calls["n"] == 2
    for df in fits:
        shutil.rmtree(os.path.dirname(urlparse(df.inputFiles()[0]).path), ignore_errors=True)


def test_cached_fit_refits_after_a_table_rewrite(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "events.parquet")

    def builder():
        return spark.read.parquet(path).agg(F.sum("v").alias("s"))

    def fit() -> int:
        return contract._cached_fit(spark, str(tmp_path), "sumkind", builder).first()["s"]

    pq.write_table(pa.table({"v": [1, 2, 3]}), path)
    assert fit() == 6
    pq.write_table(pa.table({"v": [10, 10, 10]}), path)
    assert fit() == 30
