"""Tests for the explicit scale levers: salted joins/aggs must be
result-identical to their unsalted forms while spreading hot keys."""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.operators import skew


def _skewed_fact(spark):
    # 90% of rows share key 1 (the hot key)
    rows = [(i, 1 if i % 10 else 2, float(i)) for i in range(1000)]
    return spark.createDataFrame(rows, "row_id long, k long, v double")


def _dim(spark):
    return spark.createDataFrame([(1, "hot"), (2, "cold"), (3, "unused")], "k long, name string")


def test_salted_join_equals_plain_join(spark):
    fact, dim = _skewed_fact(spark), _dim(spark)
    plain = fact.join(dim, "k").select("row_id", "k", "name")
    salted = skew.salted_join(fact, dim, "k", salt_n=8, fingerprint_cols=["row_id"]).select(
        "row_id", "k", "name"
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salt_actually_spreads_hot_key(spark):
    fact = _skewed_fact(spark)
    n_salts = (
        skew.with_salt(fact, ["row_id"], 8)
        .filter(F.col("k") == 1)
        .select(skew.SALT_COL)
        .distinct()
        .count()
    )
    assert n_salts == 8  # the hot key's rows now hit 8 reducers


def test_salted_agg_equals_plain_agg(spark):
    fact = _skewed_fact(spark)
    plain = {
        (r["k"]): (r["n"], r["s"], r["mx"])
        for r in fact.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"), F.max("v").alias("mx"))
        .collect()
    }
    salted = {
        (r["k"]): (r["n"], r["s"], r["mx"])
        for r in skew.salted_agg(
            fact,
            ["k"],
            {"n": ("sum", F.count("*")), "s": ("sum", F.sum("v")), "mx": ("max", F.max("v"))},
            salt_n=8,
            fingerprint_cols=["row_id"],
        ).collect()
    }
    assert salted == plain


def test_approx_count_distinct_error_bound(spark, sf_dir):
    """The count-only scale path for customer_reach_by_nation: the HLL++
    sketch must land within its configured relative error of the exact
    Expand-based distinct count (rsd=0.02 -> assert a loose 3x slack)."""
    from nyc_taxi_data_engineering_spark.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    exact, approx = orders.agg(
        F.countDistinct("o_custkey").alias("e"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("a"),
    ).first()
    assert abs(approx - exact) / exact <= 0.06, (exact, approx)
