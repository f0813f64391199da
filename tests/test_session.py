"""session.get_spark: the local JVM heap default is measured from the
host, and the environment still overrides it; DataFrame origin capture
is off."""

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


def test_origin_capture_is_off(spark):
    """PySpark records no Python call site per DataFrame call, and
    errors keep their error class."""
    from pyspark.errors import AnalysisException
    from pyspark.errors.utils import is_debugging_enabled

    assert not is_debugging_enabled()
    with pytest.raises(AnalysisException) as err:
        spark.range(1).select("missing").collect()
    assert err.value.getCondition() == "UNRESOLVED_COLUMN.WITH_SUGGESTION"
    assert "== DataFrame ==" not in str(err.value)
