"""Behavior tests for the deterministic sketches (operators/sketches):
KMV exactness below k, estimator accuracy at known cardinality, CMS
never-underestimates and is exact without collisions."""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.operators import sketches as K


def test_kmv_exact_below_k(spark):
    """A group with fewer than k distinct values reports the exact
    count (the sketch holds every hash)."""
    df = spark.createDataFrame([("g", f"v{i % 10}") for i in range(100)], "g string, v string")
    row = K.kmv_distinct(df, "g", "v").first()
    assert row["n_hashes_kept"] == 10
    assert row["est_distinct"] == 10.0


def test_kmv_estimate_near_truth_at_scale(spark):
    """5000 distinct values, k=KMV_K=64: the estimate's relative error obeys
    the ~1/sqrt(k) bound (loose 3-sigma check)."""
    df = spark.createDataFrame([("g", f"value-{i}") for i in range(5000)], "g string, v string")
    row = K.kmv_distinct(df, "g", "v").first()
    assert abs(row["est_distinct"] / 5000 - 1) < 3 / (64 ** 0.5)


def test_kmv_duplicates_do_not_inflate(spark):
    """KMV counts DISTINCT values: replicating every row 10x must not
    change the estimate."""
    base = [("g", f"value-{i}") for i in range(1000)]
    df1 = spark.createDataFrame(base, "g string, v string")
    df10 = spark.createDataFrame(base * 10, "g string, v string")
    e1 = K.kmv_distinct(df1, "g", "v").first()["est_distinct"]
    e10 = K.kmv_distinct(df10, "g", "v").first()["est_distinct"]
    assert e1 == e10


def test_cms_never_underestimates_and_exact_when_sparse(spark):
    """CMS estimates are >= true counts always; with far fewer
    distinct values than buckets, collisions are unlikely and the
    top tokens' estimates should mostly be exact."""
    rows = [(f"t{i % 20}",) for i in range(2000)]  # 20 distinct, 100 each
    toks = spark.createDataFrame(rows, "tok string")
    counters = K.cms_counters(toks, "tok")
    assert counters.count() <= K.CMS_DEPTH * K.CMS_WIDTH
    cand = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = K.cms_estimate(cand, counters, "tok").collect()
    assert all(r["cms_est"] >= r["true_cnt"] for r in est)
    assert sum(r["cms_est"] == r["true_cnt"] for r in est) >= 15  # sparse -> mostly exact


def test_histogram_quantiles_error_bounded_by_bucket_width(spark):
    """Uniform 0..9999: estimates land within one bucket width of the
    exact quantile; the median of a symmetric grid is near 5000."""
    from nyc_taxi_data_engineering_spark.operators.sketches import histogram_quantiles

    df = spark.createDataFrame([(float(i),) for i in range(10000)], "x double")
    got = {r["quantile"]: r["est_value"] for r in histogram_quantiles(df, "x", [0.5, 0.9]).collect()}
    width = 9999.0 / 256
    assert abs(got[0.5] - 4999.5) <= width
    assert abs(got[0.9] - 8999.1) <= width


def test_histogram_quantiles_exact_on_single_bucket_groups(spark):
    """All mass in one value: every quantile estimate equals it
    (degenerate grid, width 0 guarded by the LEAST clamp)."""
    from nyc_taxi_data_engineering_spark.operators.sketches import histogram_quantiles

    df = spark.createDataFrame([(5.0,)] * 100, "x double")
    rows = histogram_quantiles(df, "x", [0.5, 0.99]).collect()
    assert all(r["est_value"] == 5.0 for r in rows)


def test_hll_estimate_accuracy_and_merge(spark):
    """HLL(1024): ~3% typical error at 10k distinct; the register
    table must merge across shards by MAX to the same estimate."""
    from nyc_taxi_data_engineering_spark.operators import sketches as K

    df = spark.createDataFrame([("g", i) for i in range(10_000)], "g string, v long")
    regs = K.hll_registers(df, "g", "v")
    est = K.hll_estimate(regs, "g").collect()[0]
    assert abs(est["est_distinct"] / 10_000 - 1) < 0.12  # well inside 3x sigma
    assert est["n_registers_used"] <= K.HLL_M
    # shard-merge: registers from two halves, MAX-merged, same estimate
    lo = K.hll_registers(df.filter("v < 5000"), "g", "v")
    hi = K.hll_registers(df.filter("v >= 5000"), "g", "v")
    merged = (
        lo.unionByName(hi)
        .groupBy("g", "reg")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    est2 = K.hll_estimate(merged, "g").collect()[0]
    assert est2["est_distinct"] == est["est_distinct"]
