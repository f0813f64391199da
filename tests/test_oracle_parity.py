"""Every registered query with an oracle must match DuckDB at the test
scale factor — the local mirror of the driver's correctness gate — and,
at the golden's tier, keep its plan record (tools/plan_audit.py)."""

from __future__ import annotations

import os

import pytest

from nyc_taxi_data_engineering_spark.queries import registry, run
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
    spark_pdf, ran = run(spark, name, sf_dir, lambda df: df.toPandas())
    record = plan_record(spark, ran["executions"], spec.oracle)
    # one persist lifecycle: the runner's release leaves no cached plan
    # and no persistent RDD, pins included
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), f"{name}: cached plan left"
    held = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert held == 0, f"{name}: {held} persistent RDDs left after the runner's release"
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
