"""The plan record (tools/plan_audit.py) on small synthetic frames: each
count it keeps, and what it must not count."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.operators import pin
from nyc_taxi_data_engineering_spark.queries.runner import started_executions
from tools.plan_audit import drift, plan_record


def _record(spark, build, oracle=None):
    _, executions = started_executions(spark, lambda: build().toPandas())
    return plan_record(spark, executions, oracle)


def test_round_inside_a_pin_is_counted(spark):
    def build():
        pinned = pin(spark.range(8).select(F.round(F.col("id") / 3, 2).alias("r")))
        return pinned.where("r > 0")  # the final plan only scans the checkpoint

    rec = _record(spark, build)
    assert (rec["executions"], rec["native_round"]) == (2, 1)


def test_a_column_named_round_is_not_an_expression(spark):
    # the unaliased column is named "round(id, 0)" in every node above it
    rec = _record(spark, lambda: spark.range(3).select(F.round("id")).where("id > 0"))
    assert rec["native_round"] == 1


@pytest.mark.parametrize(
    "spec, is_global",
    [
        (lambda: Window.orderBy("id"), 1),
        (lambda: Window.partitionBy(), 1),
        (lambda: Window.partitionBy("g").orderBy("id"), 0),
        (lambda: Window.partitionBy("g"), 0),
    ],
    ids=["order-only", "empty", "partition-and-order", "partition-only"],
)
def test_global_window_is_told_from_a_partitioned_one(spark, spec, is_global):
    df = spark.range(8).withColumn("g", F.col("id") % 2)
    rec = _record(spark, lambda: df.select("id", F.sum("id").over(spec()).alias("s")))
    assert rec["global_window"] == is_global


def test_cross_join_is_cartesian(spark):
    # sides this small would be broadcast into a nested-loop join; the hint
    # plans them as sides too large to broadcast are planned
    a = spark.range(3).hint("shuffle_replicate_nl")
    rec = _record(spark, lambda: a.crossJoin(spark.range(4).withColumnRenamed("id", "j")))
    assert rec["cartesian"] == 1


def test_python_udf_is_a_python_eval_node(spark):
    plus_one = F.udf(lambda v: v + 1, "long")
    rec = _record(spark, lambda: spark.range(3).select(plus_one("id").alias("u")))
    assert rec["python_eval"] == 1


def test_each_eager_count_is_one_execution(spark):
    df = spark.range(5)

    def build(extra_count):
        if extra_count:
            df.count()
        return df

    base = _record(spark, lambda: build(False))
    more = _record(spark, lambda: build(True))
    assert more["executions"] == base["executions"] + 1


def test_round_in_comments_counts_nothing(spark):
    def build():
        # ROUND( in a source comment is not a round site
        return spark.range(3).select((F.col("id") / 2).alias("h"))

    oracle = "SELECT id / 2 AS h -- ROUND(id / 2)\nFROM range(3) /* ROUND( */"
    rec = _record(spark, build, oracle)
    assert (rec["native_round"], rec["oracle_round"]) == (0, 0)
    assert _record(spark, build, "SELECT ROUND(id, 2), round(avg(id)) FROM t")["oracle_round"] == 2


def test_drift_names_the_field_and_the_repin():
    golden = {"q": dict(executions=2, native_round=0, global_window=0, cartesian=0,
                        python_eval=0, oracle_round=1)}
    assert drift("q", golden["q"], golden) == []
    msgs = drift("q", dict(golden["q"], executions=1), golden)
    assert len(msgs) == 1 and "executions golden 2, now 1" in msgs[0] and "--regen q" in msgs[0]
    assert "no golden" in drift("new_query", golden["q"], golden)[0]
