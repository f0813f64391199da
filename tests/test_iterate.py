"""operators.iterate, the one fixed-point driver, on small synthetic
frames: which rounds it pins, counted as the SQL executions a call
starts (queries.runner.started_executions), and when a convergence loop
stops."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.operators import iterate
from nyc_taxi_data_engineering_spark.queries.runner import started_executions


def _executions(spark, run) -> int:
    return len(started_executions(spark, run)[1])


def _plus_one(df, _):
    return df.select("id", (F.col("v") + 1).alias("v"))


def _shrink(df, _):
    """v -> max(v - 3, 0), keeping the previous v as _old."""
    return df.select("id", F.greatest(F.col("v") - 3, F.lit(0)).alias("v"), F.col("v").alias("_old"))


def _frame(spark):
    return spark.range(8).select("id", F.col("id").alias("v"))


def test_fixed_rounds_pin_all_but_the_last(spark):
    df = _frame(spark)
    n = _executions(spark, lambda: iterate(df, _plus_one, 3).toPandas())
    assert n == 2 + 1  # rounds 1 and 2 pinned, round 3 runs in the terminal action
    out = iterate(df, _plus_one, 3).toPandas()
    assert (out["v"] == out["id"] + 3).all()


def test_zero_rounds_return_the_state_untouched(spark):
    df = _frame(spark)
    calls = []
    assert iterate(df, lambda s, i: calls.append(i) or s, 0) is df
    assert not calls


def test_until_stops_at_the_first_round_without_change(spark):
    df = _frame(spark)
    rounds = []

    def step(s, i):
        rounds.append(i)
        return _shrink(s.select("id", "v"), i)

    changed = F.col("v") != F.col("_old")
    n = _executions(spark, lambda: iterate(df, step, 10, until=changed).toPandas())
    # 7 -> 4 -> 1 -> 0 -> 0: four pinned rounds, the fourth changes nothing,
    # then the terminal action; no probe job per round
    assert rounds == [0, 1, 2, 3]
    assert n == 4 + 1
    out = iterate(df, lambda s, i: _shrink(s.select("id", "v"), i), 10, until=changed)
    assert {r["v"] for r in out.collect()} == {0}


def test_until_raises_when_rounds_run_out(spark):
    changed = F.col("v") != F.col("_old")
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        iterate(_frame(spark), lambda s, i: _shrink(s.select("id", "v"), i), 2, until=changed)


def test_tuple_state_pins_each_element(spark):
    state = (_frame(spark), _frame(spark).select("id", (F.col("v") * 10).alias("v")))

    def step(s, i):
        return tuple(_plus_one(df, i) for df in s)

    n = _executions(spark, lambda: [df.toPandas() for df in iterate(state, step, 2)])
    assert n == 2 + 2  # round 1 pins both elements; two terminal actions
    a, b = (df.toPandas() for df in iterate(state, step, 2))
    assert (a["v"] == a["id"] + 2).all() and (b["v"] == b["id"] * 10 + 2).all()
