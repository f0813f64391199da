"""Property tests for the deterministic sampling/split operators
(operators/sampling.py): bucket parity with the portable md5
definition, split totality/disjointness, rerun determinism, seed
independence, and per-stratum rate behavior."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.operators import sampling as S

SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _py_bucket(key: object, seed: str = "", n: int = S.N_BUCKETS) -> int:
    digest = hashlib.md5(f"{seed}|{key}".encode()).hexdigest()
    return int(digest[:8], 16) % n


@pytest.fixture(scope="module")
def keyed(spark):
    return spark.range(0, 2000).withColumnRenamed("id", "k")


def test_hash_bucket_matches_portable_definition(keyed):
    rows = (
        keyed.limit(50)
        .select("k", S.hash_bucket(F.col("k"), seed="s1").alias("b"))
        .collect()
    )
    assert rows and all(r.b == _py_bucket(r.k, "s1") for r in rows)


def test_assign_split_total_and_disjoint(keyed):
    labeled = S.assign_split(keyed, "k", SPLITS, seed="s1")
    counts = {r.split: r.n for r in labeled.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == set(SPLITS)  # every split non-empty
    assert sum(counts.values()) == 2000  # total: every row labeled exactly once
    # proportions near nominal (hash-uniformity; generous tolerance at n=2000)
    assert abs(counts["train"] / 2000 - 0.8) < 0.05
    assert abs(counts["val"] / 2000 - 0.1) < 0.03


def test_assign_split_deterministic_and_seed_sensitive(keyed):
    a = set(map(tuple, S.assign_split(keyed, "k", SPLITS, seed="s1").collect()))
    b = set(map(tuple, S.assign_split(keyed, "k", SPLITS, seed="s1").collect()))
    assert a == b  # rerun-stable
    c = set(map(tuple, S.assign_split(keyed, "k", SPLITS, seed="s2").collect()))
    assert a != c  # a new seed is a fresh draw


def test_assign_split_stable_under_repartition(keyed):
    """The property randomSplit lacks: assignment must not depend on
    the physical partition layout."""
    a = sorted(map(tuple, S.assign_split(keyed, "k", SPLITS, seed="s1").collect()))
    b = sorted(map(tuple, S.assign_split(keyed.repartition(7), "k", SPLITS, seed="s1").collect()))
    assert a == b


def test_split_fractions_validated(keyed):
    with pytest.raises(ValueError, match="sum to 1"):
        S.assign_split(keyed, "k", {"a": 0.5, "b": 0.4})
    with pytest.raises(ValueError, match="empty bucket range"):
        S.assign_split(keyed, "k", {"a": 1.0, "b": 0.00001, "c": -0.00001})


def test_stratified_sample_rates(spark):
    df = spark.range(0, 3000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, "big").otherwise("small").alias("g"),
    )
    kept = S.stratified_sample(df, "k", "g", {"big": 0.2, "small": 1.0}, seed="s")
    counts = {r.g: r.n for r in kept.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts["small"] == 2000  # rate 1.0 keeps everything
    assert abs(counts["big"] / 1000 - 0.2) < 0.06
    # default rate 0 drops unlisted strata entirely
    none_kept = S.stratified_sample(df, "k", "g", {"small": 0.5}, seed="s")
    assert none_kept.filter(F.col("g") == "big").count() == 0


def test_stratified_sample_is_subset_and_deterministic(spark):
    df = spark.range(0, 1000).select(F.col("id").alias("k"), F.lit("x").alias("g"))
    kept1 = sorted(r.k for r in S.stratified_sample(df, "k", "g", {"x": 0.3}, seed="s").collect())
    kept2 = sorted(r.k for r in S.stratified_sample(df, "k", "g", {"x": 0.3}, seed="s").collect())
    assert kept1 == kept2
    # nested rates: a higher rate keeps a superset of a lower rate
    kept_half = {r.k for r in S.stratified_sample(df, "k", "g", {"x": 0.6}, seed="s").collect()}
    assert set(kept1) <= kept_half


def test_split_plan_is_narrow(keyed):
    """Assignment must add no exchange — pure projection over the scan."""
    plan = (
        S.assign_split(keyed, "k", SPLITS, seed="s1")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_weighted_sample_favors_heavy_weights(spark):
    """One item carries 1000x the weight of 99 others; across 30
    independent draws (different seeds) of k=1 it must win the large
    majority — and every draw must be rerun-stable."""
    from nyc_taxi_data_engineering_spark.operators.sampling import weighted_sample

    rows = [(i, 1000.0 if i == 0 else 1.0) for i in range(100)]
    df = spark.createDataFrame(rows, "id int, w double")
    wins = 0
    for s in range(30):
        got = weighted_sample(df, "id", "w", 1, seed=str(s)).collect()
        again = weighted_sample(df, "id", "w", 1, seed=str(s)).collect()
        assert [r["id"] for r in got] == [r["id"] for r in again]
        wins += got[0]["id"] == 0
    # P(win) = 1000/1099 ~ 0.91; 30 draws below 20 wins is ~impossible
    assert wins >= 20


def test_weighted_sample_is_without_replacement(spark):
    from nyc_taxi_data_engineering_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame([(i, 1.0) for i in range(10)], "id int, w double")
    got = [r["id"] for r in weighted_sample(df, "id", "w", 10, seed="x").collect()]
    assert sorted(got) == list(range(10))


def test_shuffle_shards_rejects_reserved_column_clash(spark):
    from nyc_taxi_data_engineering_spark.operators.sampling import shuffle_shards

    df = spark.createDataFrame([(1, 0)], "k long, shard int")
    with pytest.raises(ValueError, match="shard"):
        shuffle_shards(df, "k", 4)
    df2 = spark.createDataFrame([(1, 0)], "k long, pos int")
    with pytest.raises(ValueError, match="pos"):
        shuffle_shards(df2, "k", 4)


def test_temperature_rates_flatten_distribution(spark):
    """alpha=1 keeps everything; alpha=0 sets rates that equalize kept
    counts; the rarest stratum always keeps rate 1.0."""
    from nyc_taxi_data_engineering_spark.operators.sampling import temperature_rates

    df = spark.createDataFrame(
        [(i, "big" if i < 900 else "small") for i in range(1000)], "id long, s string"
    )
    r1 = {r["s"]: r["keep_rate"] for r in temperature_rates(df, "s", 1.0).collect()}
    assert r1 == {"big": 1.0, "small": 1.0}

    r0 = {r["s"]: r["keep_rate"] for r in temperature_rates(df, "s", 0.0).collect()}
    assert r0["small"] == 1.0
    assert abs(r0["big"] - 100 / 900) < 1e-6  # equal target counts
