"""Linear-probe GD training (operators/linear_probe.py): learns the
planted direction and the bias walks toward the base rate."""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.operators.linear_probe import (
    PROBE_ITERS,
    PROBE_LR,
    train_linear_probe,
)


def _xy(spark, rows):
    df = spark.createDataFrame(rows, "vec_id long, v array<double>, y double")
    x = df.select("vec_id", F.posexplode("v").alias("pos", "val"))
    y = df.select("vec_id", "y")
    return x, y


def test_learns_planted_feature_sign(spark):
    """y is exactly feature 0 (others are noise-free zeros): after the
    PROBE_ITERS = 3 rounds at PROBE_LR = 0.1, w[feature 0] has walked
    0 -> 0.05 -> 0.095 -> 0.1355 and the dead feature stays at zero."""
    rows = [
        (0, [1.0, 0.0], 1.0),
        (1, [-1.0, 0.0], 0.0),
        (2, [1.0, 0.0], 1.0),
        (3, [-1.0, 0.0], 0.0),
    ]
    x, y = _xy(spark, rows)
    assert (PROBE_ITERS, PROBE_LR) == (3, 0.1)
    w = {r["dim"]: r["weight"] for r in train_linear_probe(x, y).collect()}
    assert set(w) == {0, 1, 2}  # bias + 2 features
    assert abs(w[1] - 0.1355) < 1e-9  # feature 0 carries the signal
    assert abs(w[2]) < 1e-9  # dead feature stays at zero


def test_bias_moves_toward_base_rate(spark):
    """All-zero features: pred stays at b, so GD on the bias alone
    walks toward mean(y); after n rounds b = mean(y) * (1 - (1-lr)^n)."""
    rows = [(i, [0.0], 1.0 if i < 3 else 0.0) for i in range(4)]
    x, y = _xy(spark, rows)
    w = {r["dim"]: r["weight"] for r in train_linear_probe(x, y).collect()}
    assert abs(w[0] - 0.75 * (1 - (1 - PROBE_LR) ** PROBE_ITERS)) < 1e-9
    assert w[1] == 0.0


def test_calibration_diagram_semantics(spark, sf_dir):
    """The decile diagram must cover the whole corpus, keep rates and
    Brier terms in [0,1], and actually separate: the top decile's
    positive rate exceeds the bottom decile's (the probe trains toward
    class 0 = positive)."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.queries.similarity import (
        q_probe_calibration_brier,
    )

    rows = {r.bin: r for r in q_probe_calibration_brier(spark, sf_dir).collect()}
    n_total = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n for r in rows.values()) == n_total
    for r in rows.values():
        assert 0.0 <= r.pos_rate <= 1.0
        assert 0.0 <= r.bin_brier <= 1.0 + 1e-9
        assert r.n_pos <= r.n
    lo_bin, hi_bin = min(rows), max(rows)
    assert rows[hi_bin].pos_rate > rows[lo_bin].pos_rate
