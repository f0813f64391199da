"""Bloom-filter semi-join prefilter (operators/bloom): no-false-
negative guarantee, false-positive determinism, and the zero-shuffle
probe plan shape."""

from __future__ import annotations

from nyc_taxi_data_engineering_spark.operators.bloom import (
    BLOOM_BITS,
    BLOOM_HASHES,
    bloom_build,
    bloom_prefilter,
)


def _keys(spark, vals, col="k"):
    return spark.createDataFrame([(v,) for v in vals], f"{col} long")


def test_bloom_no_false_negatives(spark):
    build = _keys(spark, range(0, 200, 2))  # evens
    bits = bloom_build(build, "k")
    probe = _keys(spark, range(200), col="p")
    passed = {r["p"] for r in bloom_prefilter(probe, "p", bits).collect()}
    assert set(range(0, 200, 2)) <= passed  # every true member survives


def test_bloom_prunes_most_nonmembers_and_is_deterministic(spark):
    build = _keys(spark, range(50))
    bits = bloom_build(build, "k")
    probe = _keys(spark, range(10_000), col="p")
    passed = sorted(r["p"] for r in bloom_prefilter(probe, "p", bits).collect())
    # members all pass; with 150 positions in 131072 bits the fp rate is
    # ~(150/131072)^3 ≈ 1.5e-9 — non-members essentially all pruned
    assert passed[:50] == list(range(50))
    assert len(passed) <= 55
    again = sorted(r["p"] for r in bloom_prefilter(probe, "p", bits).collect())
    assert passed == again  # md5 positions: same filter, same survivors


def test_bloom_bits_bounded_by_m(spark):
    bits = bloom_build(_keys(spark, range(1000)), "k")
    vals = [r["bit"] for r in bits.collect()]
    assert len(vals) == len(set(vals)) <= min(BLOOM_BITS, 1000 * BLOOM_HASHES)
    assert all(0 <= b < BLOOM_BITS for b in vals)


def test_bloom_probe_plan_has_no_shuffle(spark):
    """The probe side must survive as broadcast semi-joins only — a
    shuffle here is exactly what the operator exists to avoid."""
    build = _keys(spark, range(50))
    bits = bloom_build(build, "k")
    probe = _keys(spark, range(1000), col="p")
    plan = bloom_prefilter(probe, "p", bits)._jdf.queryExecution().executedPlan().toString()
    probe_side = plan.split("Scan ExistingRDD")[0]  # everything above the probe scan
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert "Exchange hashpartitioning" not in probe_side
