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
