"""The cross-engine float-portability toolkit (r10).

These helpers exist because five distinct divergence classes broke the
driver's exact value hash (COVERAGE.md "Certification regime"); each
test pins the property that makes the helper portable, and the DuckDB
twins are exercised against the real engine so a DuckDB upgrade that
changes semantics fails HERE, not in a driver round.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from nyc_taxi_data_engineering_spark.functions import (
    dec_to_double_sql,
    portable_round,
    portable_round_sql,
)


def test_portable_round_formula_matches_python():
    f = 10.0**12
    for x in [0.0, 1.5e-12, -1.5e-12, 0.15342304231749999, 123.456, -0.027062039942]:
        expected = math.floor(x * f + 0.5) / f
        got = duckdb.connect().execute(
            "SELECT " + portable_round_sql(f"CAST({x!r} AS DOUBLE)", 12)
        ).fetchone()[0]
        assert got == expected, (x, got, expected)


def test_portable_round_sql_is_plain_ieee_chain():
    sql = portable_round_sql("x", 9)
    assert "floor" in sql and "round" not in sql


def test_duckdb_native_round_diverges_where_portable_agrees():
    """The motivating case (embedding_top2_pca): a 12-dp grid value
    divided by 8 lands exactly on a grid half. The double 2.5e-12 is
    slightly BELOW the exact decimal 2.5e-12, so Java/Spark's
    exact-binary HALF_UP rounds DOWN to 2e-12 while DuckDB's
    scale-then-llround sees 2.5 and rounds UP to 3e-12 — a live 1-ULP
    hash break. portable_round gives 3e-12 in BOTH engines (same IEEE
    chain), removing the divergence."""
    from decimal import ROUND_HALF_UP, Decimal

    con = duckdb.connect()
    x = 2.5e-12  # == (20e-12 grid value) / 8
    java_half_up = float(Decimal(x).quantize(Decimal("1e-12"), ROUND_HALF_UP))
    native = con.execute(f"SELECT round(CAST({x!r} AS DOUBLE), 12)").fetchone()[0]
    portable = con.execute(
        "SELECT " + portable_round_sql(f"CAST({x!r} AS DOUBLE)", 12)
    ).fetchone()[0]
    assert java_half_up == 2e-12 and native == 3e-12  # the engines disagree
    assert portable == math.floor(x * 1e12 + 0.5) / 1e12 == 3e-12


def test_dec_to_double_sql_correctly_rounded_above_2_53():
    """DuckDB's direct DECIMAL->DOUBLE double-rounds once the unscaled
    value exceeds 2^53; the STRING hop must match Python's (and Java's)
    correctly-rounded conversion."""
    con = duckdb.connect()
    lit = "CAST(159247543.7393 AS DECIMAL(38,12))"  # unscaled ~1.6e20
    direct = con.execute(f"SELECT CAST({lit} AS DOUBLE)").fetchone()[0]
    hopped = con.execute("SELECT " + dec_to_double_sql(lit)).fetchone()[0]
    assert hopped == float("159247543.7393")
    assert direct != hopped  # the very divergence the hop removes


def test_duckdb_decimal_rescale_is_not_half_up():
    """Pinned engine semantics: DuckDB rescales decimals by TRUNCATING
    exact halves where Spark rescales HALF_UP — the reason no fix in
    this repo may use a terminal decimal rescale (DV markup uses
    integer-cents half-up instead). If DuckDB ever changes this, the
    workaround can be revisited."""
    con = duckdb.connect()
    r = con.execute(
        "SELECT CAST(CAST(1.155 AS DECIMAL(18,3)) AS DECIMAL(18,2)),"
        "       CAST(CAST(3.5 AS DECIMAL(18,1)) AS DECIMAL(18,0))"
    ).fetchone()
    assert str(r[0]) == "1.15" and str(r[1]) == "3"  # Spark would say 1.16 / 4


def test_portable_round_spark_equals_duckdb(spark):
    """End-to-end: the Spark Column and the DuckDB SQL produce the
    identical doubles over a value grid that includes exact halves,
    negatives, and magnitude extremes."""
    vals = [
        0.0,
        1.5e-12,
        -1.5e-12,
        -0.027062039942,
        0.15342304231749999,
        9.87654321e3,
        -123.4567890123449,
    ]
    from pyspark.sql import functions as F

    sdf = spark.createDataFrame([(v,) for v in vals], "x double").select(
        portable_round(F.col("x"), 12).alias("r")
    )
    got_spark = [r["r"] for r in sdf.collect()]
    con = duckdb.connect()
    got_duck = [
        con.execute(
            "SELECT " + portable_round_sql(f"CAST({v!r} AS DOUBLE)", 12)
        ).fetchone()[0]
        for v in vals
    ]
    assert got_spark == got_duck


def test_stable_sum_unscaled_long_matches_stable_sum(spark):
    """stable_sum_unscaled_long (r13) must be BIT-identical to
    stable_sum for magnitude-bounded columns — same grid rounding per
    row (through the identical decimal cast), exact long accumulation,
    and one correctly-rounded terminal conversion. Covers fractional
    quantities, negatives, NULLs, and an empty group."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.functions import (
        stable_sum,
        stable_sum_unscaled_long,
    )

    rows = [
        (1, 1.0), (1, 49.9999), (1, 0.00005), (1, -3.25), (1, None),
        (2, 50.0), (2, 12.345678),
    ]
    df = spark.createDataFrame(rows, "g int, q double")
    got = (
        df.groupBy("g")
        .agg(
            stable_sum("q").alias("dec"),
            stable_sum_unscaled_long("q").alias("lng"),
        )
        .collect()
    )
    assert got, "expected groups"
    for r in got:
        # bit-identical, not approximately equal
        assert (r["dec"] is None) == (r["lng"] is None)
        if r["dec"] is not None:
            assert r["dec"].hex() == r["lng"].hex(), (r["g"], r["dec"], r["lng"])
    # all-NULL group -> NULL on both transports
    nul = (
        df.filter(F.col("q").isNull())
        .agg(
            stable_sum("q").alias("dec"),
            stable_sum_unscaled_long("q").alias("lng"),
        )
        .collect()[0]
    )
    assert nul["dec"] is None and nul["lng"] is None


def test_stable_sum_unscaled_long_requires_ansi(spark):
    """Without ANSI mode a long-sum overflow wraps silently, so the
    unscaled-long transport must refuse to build there."""
    from nyc_taxi_data_engineering_spark.functions import stable_sum_unscaled_long

    key = "spark.sql.ansi.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        with pytest.raises(ValueError, match="ansi"):
            stable_sum_unscaled_long("q")
    finally:
        spark.conf.set(key, before)
    assert stable_sum_unscaled_long("q") is not None
