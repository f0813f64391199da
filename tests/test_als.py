"""ALS factorization semantics: objective decrease, exclusion and
ranking invariants of the recommendation query, and the integer-rating
contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.operators.als import (
    ALS_ITERS,
    ALS_LAMBDA,
    _init_item_factors,
    _solve_side,
    als_factors,
    prepare_ratings,
)


def _ratings(spark):
    # two user "taste" blocks: users 1-3 like items 10/11, users 4-6
    # like items 12/13, with a little cross-noise
    rows = []
    for u in (1, 2, 3):
        rows += [(u, 10, 5), (u, 11, 4), (u, 12, 1)]
    for u in (4, 5, 6):
        rows += [(u, 12, 5), (u, 13, 4), (u, 10, 1)]
    return prepare_ratings(spark.createDataFrame(rows, "u long, i long, r long"))


def _sse(ratings, user_f, item_f):
    uf = user_f.select(F.col("i").alias("u"), F.col("f1").alias("u1"), F.col("f2").alias("u2"))
    itf = item_f.select("i", F.col("f1").alias("i1"), F.col("f2").alias("i2"))
    return (
        ratings.join(uf, "u")
        .join(itf, "i")
        .select(
            (
                (F.col("r") - (F.col("u1") * F.col("i1") + F.col("u2") * F.col("i2")))
                ** 2
            ).alias("e")
        )
        .agg(F.sum("e"))
        .collect()[0][0]
    )


def _reg_norm(fdf):
    return (
        fdf.select((F.col("f1") ** 2 + F.col("f2") ** 2).alias("n2"))
        .agg(F.sum("n2"))
        .collect()[0][0]
    )


def test_als_objective_decreases(spark):
    """Each alternation's closed-form solves exactly minimize the
    REGULARIZED objective SSE + lambda*(||U||^2 + ||V||^2) (raw SSE
    alone may tick up — that's the regularizer doing its job), so the
    ALS_ITERS >= 2 alternations can never score worse than the first
    one alone, built here from the same half-sweep solves."""
    r = _ratings(spark)
    assert ALS_ITERS >= 2
    uf1 = _solve_side(r.withColumnRenamed("i", "fk"), _init_item_factors(r), "u", "fk")
    if1 = _solve_side(r.withColumnRenamed("u", "fk"), uf1, "i", "fk")
    uf2, if2 = als_factors(r)
    obj1 = _sse(r, uf1, if1) + ALS_LAMBDA * (_reg_norm(uf1) + _reg_norm(if1))
    obj2 = _sse(r, uf2, if2) + ALS_LAMBDA * (_reg_norm(uf2) + _reg_norm(if2))
    assert obj2 <= obj1 + 1e-9


def test_als_reconstructs_block_structure(spark):
    """Rank 2 suffices for a 2-block taste matrix: predictions for
    liked items must exceed predictions for cross-block items for
    every user."""
    r = _ratings(spark)
    uf, itf = als_factors(r)
    uff = uf.select(F.col("i").alias("u"), F.col("f1").alias("u1"), F.col("f2").alias("u2"))
    itt = itf.select("i", F.col("f1").alias("i1"), F.col("f2").alias("i2"))
    pred = {
        (row.u, row.i): row.p
        for row in uff.crossJoin(itt)
        .select(
            "u", "i", (F.col("u1") * F.col("i1") + F.col("u2") * F.col("i2")).alias("p")
        )
        .collect()
    }
    for u in (1, 2, 3):
        assert pred[(u, 10)] > pred[(u, 13)]
    for u in (4, 5, 6):
        assert pred[(u, 12)] > pred[(u, 11)]


def test_als_rejects_float_ratings(spark):
    bad = spark.createDataFrame([(1, 2, 3.5)], "u long, i long, r double")
    with pytest.raises(TypeError, match="integer rating"):
        als_factors(bad)


def test_init_factors_are_exact_binary(spark):
    """Seeds use only k/8 and k/16 fractions — every value times 16 is
    an exact integer, the cross-engine determinism precondition."""
    r = _ratings(spark)
    for row in _init_item_factors(r.select("u", "i", "r")).collect():
        assert (row.f1 * 16) == int(row.f1 * 16)
        assert (row.f2 * 16) == int(row.f2 * 16)


def test_recommendations_exclude_purchased(spark, sf_dir):
    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.queries.recsys import (
        RECS_TOPK,
        q_als_supplier_recommendations,
    )

    recs = q_als_supplier_recommendations(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    purchased = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("o_custkey").alias("user_id"), F.col("l_suppkey").alias("supplier")
        )
        .distinct()
    )
    assert recs.join(purchased, ["user_id", "supplier"]).count() == 0
    per_user = recs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("rank_n").alias("mx"), F.min("rank_n").alias("mn")
    )
    bad = per_user.filter(
        (F.col("n") > RECS_TOPK) | (F.col("mn") != 1) | (F.col("mx") != F.col("n"))
    )
    assert bad.count() == 0
    assert ALS_LAMBDA > 0  # det > 0 precondition for the closed-form solve
