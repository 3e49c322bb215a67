"""Session factory: the driver heap is sized from the host."""

from __future__ import annotations

import os

from uk_housing_dashboard_etl_spark.session import default_driver_memory


def _host_with(monkeypatch, physical_bytes: int) -> None:
    page = 4096
    sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": physical_bytes // page}
    monkeypatch.setattr(os, "sysconf", lambda name: sizes[name])


def test_driver_memory_is_three_quarters_of_a_small_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    _host_with(monkeypatch, 15 * 2**30)  # a 15 GiB host cannot back 16g
    assert default_driver_memory() == f"{15 * 1024 * 3 // 4}m"


def test_driver_memory_is_capped_at_16g(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    _host_with(monkeypatch, 64 * 2**30)
    assert default_driver_memory() == f"{16 * 1024}m"


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    _host_with(monkeypatch, 15 * 2**30)
    assert default_driver_memory() == "3g"


def _compilations(spark) -> int:
    """Janino compilations so far in this JVM (each codegen-cache miss)."""
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _refresh(spark, tmp_path, run: int) -> None:
    """One refresh of a 60-row CSV, starting from an empty cache as a new
    day's refresh would."""
    from test_sources_and_pipeline import _clean_ppd, _normalized_lookup

    from uk_housing_dashboard_etl_spark.plans import HousingPipeline, PipelineConfig
    from uk_housing_dashboard_etl_spark.sources.readers import read_csv_sniffed

    raw = read_csv_sniffed(spark, _clean_ppd(tmp_path), require_price_and_date=True)
    pipe = HousingPipeline(
        spark,
        raw,
        _normalized_lookup(spark, tmp_path),
        PipelineConfig(artifacts_dir=str(tmp_path / f"arts{run}")),
    )
    outputs = pipe.run()
    outputs["qa"].collect()
    for df in [pipe.enriched, *outputs.values()]:
        df.unpersist(blocking=True)


# A warm refresh or tick still compiles a few classes (0-12 measured):
# some plans differ from run to run with the runtime (AQE) choices.
# Thrashing recompiles ~110 per refresh and ~40 per tick.
WARM_COMPILATIONS = 20


def test_warm_refresh_reuses_generated_code(spark, tmp_path):
    """A second refresh in the same JVM compiles almost nothing: its
    ~124 generated classes fit the session's codegen cache. At Spark's
    default of 100 entries the LRU evicts each class before its reuse
    and every warm refresh recompiles ~110 of them."""
    _refresh(spark, tmp_path, 1)
    before = _compilations(spark)
    _refresh(spark, tmp_path, 2)
    assert _compilations(spark) - before <= WARM_COMPILATIONS


def test_warm_tick_reuses_generated_code(spark, tmp_path):
    """The same for the incremental tick in a JVM that also refreshes:
    the refresh between two ticks must not evict the tick's classes."""
    import datetime as dt

    from uk_housing_dashboard_etl_spark.operators.incremental import daily_increment

    zone, mart = str(tmp_path / "zone"), str(tmp_path / "mart")
    monday = dt.datetime(2024, 1, 1)

    def tick(day: int) -> None:
        rows = [
            (f"t{day}-{i}", monday + dt.timedelta(days=day), 1000.0 * (i + day), la)
            for i, la in enumerate(["Alpha", "Beta", "Alpha"])
        ]
        inc = spark.createDataFrame(
            rows, "transaction_id string, date timestamp, price double, local_authority string"
        )
        daily_increment(spark, inc, zone, mart).count()

    tick(0)  # the first tick finds no mart: a different plan
    tick(1)
    _refresh(spark, tmp_path, 1)
    before = _compilations(spark)
    tick(2)
    assert _compilations(spark) - before <= WARM_COMPILATIONS
