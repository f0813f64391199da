"""Every registered query with an oracle must match DuckDB at the test
scale factor — the local mirror of the driver's correctness gate — and,
at the golden's tier, keep its plan record (tools/plan_audit.py)."""

from __future__ import annotations

import os

import pytest

from nyc_taxi_data_engineering_spark.operators import release_session_caches
from nyc_taxi_data_engineering_spark.queries import registry
from tools.oracle_check import compare
from tools.plan_audit import drift, load_golden, plan_record

_REG = registry()
_GOLDEN_TIER, _GOLDEN = load_golden()


def test_rotation_window_is_explicit():
    """The driver samples the FIRST ~50 registry entries; ROTATION pins
    that window. Every rotation name must be registered (a typo would
    silently shrink the sampled window) and the window must lead the
    registry order."""
    from nyc_taxi_data_engineering_spark.queries.registry import ROTATION

    assert len(ROTATION) == len(set(ROTATION))
    unknown = [n for n in ROTATION if n not in _REG]
    assert not unknown, f"rotation names not registered: {unknown}"
    assert list(_REG)[: len(ROTATION)] == ROTATION


@pytest.mark.parametrize("name", sorted(_REG))
def test_oracle_parity(name, spark, sf_dir, duck):
    spec = _REG[name]
    record, spark_pdf = plan_record(spark, lambda: spec.fn(spark, sf_dir).toPandas(), spec.oracle)
    # one persist lifecycle: releasing the session registry at the query
    # boundary must leave no cached plan behind
    release_session_caches()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    leaked = not cache_manager.isEmpty()
    if leaked:
        spark.catalog.clearCache()  # keep the leak attributed to this query
    assert not leaked, f"{name}: cached data left after release_session_caches()"
    # execution and round counts depend on the data: compare at the golden's tier only
    if os.path.basename(os.path.normpath(sf_dir)) == _GOLDEN_TIER:
        msgs = drift(name, record, _GOLDEN)
        assert not msgs, "plan record drifted:\n" + "\n".join(msgs)
    if spec.oracle is None:
        assert len(spark_pdf) >= 0  # rows-only check: it ran
        return
    oracle_pdf = duck.execute(spec.oracle).fetchdf()
    errs = compare(spark_pdf, oracle_pdf, name)
    assert not errs, f"{name}: " + "; ".join(errs)
