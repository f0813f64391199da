"""session.driver_memory: the local JVM heap default is measured from the
host, and the environment still overrides it."""

from __future__ import annotations

import os

import pytest

from nyc_taxi_data_engineering_spark.session import driver_memory


def _host(monkeypatch, phys_bytes: int) -> None:
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_bytes // 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: sizes[name])
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)


@pytest.mark.parametrize(
    "phys_gib, expected",
    [(15, "7680m"), (4, "2048m"), (32, "16384m"), (128, "16384m")],
)
def test_default_is_half_of_physical_memory_capped_at_16g(monkeypatch, phys_gib, expected):
    _host(monkeypatch, phys_gib * 2**30)
    assert driver_memory() == expected


def test_environment_overrides_the_measured_default(monkeypatch):
    _host(monkeypatch, 15 * 2**30)
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory() == "3g"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    assert driver_memory() == "5g"
