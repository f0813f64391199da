"""ordered_prefix / global_row_number / ntile_from_rn must match the
single-partition window BIT FOR BIT — they are drop-in replacements for
`Window.orderBy(...)` with no partition clause, so any divergence here
is a correctness bug, not an approximation."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.operators.distrank import (
    global_row_number,
    ntile_from_rn,
    ordered_prefix,
)


def _mk(spark, rows, schema="v double, tag int, id bigint"):
    return spark.createDataFrame(rows, schema)


CASES = {
    "plain": [(float(i % 7), i % 2, i) for i in range(200)],
    "heavy_ties": [(1.0, i % 2, i) for i in range(50)]
    + [(2.0, (i + 1) % 2, i + 50) for i in range(150)],
    "skew_one_value": [(5.0, i % 3 % 2, i) for i in range(300)],
    "negatives": [(-3.5 + (i % 11), i % 2, i) for i in range(120)],
    "singleton": [(42.0, 1, 0)],
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_ordered_prefix_matches_global_window(spark, case):
    df = _mk(spark, CASES[case])
    w = Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, 0)
    want = df.select(
        "id",
        F.sum("tag").over(w).alias("c1"),
        F.sum(F.lit(1) - F.col("tag")).over(w).alias("c0"),
    )
    got = ordered_prefix(
        df,
        ["v", "id"],
        {"c1": F.col("tag"), "c0": F.lit(1) - F.col("tag")},
        n_buckets=4,
    ).select("id", "c1", "c0")
    assert sorted(got.collect()) == sorted(want.collect())


@pytest.mark.parametrize("case", sorted(CASES))
def test_global_row_number_matches(spark, case):
    df = _mk(spark, CASES[case])
    want = df.select(
        "id", F.row_number().over(Window.orderBy("v", "id")).cast("bigint").alias("rn")
    )
    got = global_row_number(df, ["v", "id"], n_buckets=4).select("id", "rn")
    assert sorted(got.collect()) == sorted(want.collect())


def test_ordered_prefix_empty(spark):
    df = _mk(spark, [])
    got = ordered_prefix(df, ["v", "id"], {"c": F.lit(1).cast("bigint")}, n_buckets=4)
    assert got.count() == 0
    assert "c" in got.columns


def test_ordered_prefix_null_lead_sorts_first(spark):
    rows = [(None, 1, 0), (1.0, 0, 1), (None, 1, 2), (2.0, 1, 3)]
    df = _mk(spark, rows)
    w = Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, 0)
    want = sorted(df.select("id", F.sum("tag").over(w).alias("c")).collect())
    got = sorted(
        ordered_prefix(df, ["v", "id"], {"c": F.col("tag")}, n_buckets=3)
        .select("id", "c")
        .collect()
    )
    assert got == want


def test_ordered_prefix_decimal_accumulator(spark):
    rows = [(float(i % 5), i % 2, i) for i in range(60)]
    df = _mk(spark, rows).withColumn("d", F.col("v").cast("decimal(18,2)"))
    w = Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, 0)
    want = sorted(df.select("id", F.sum("d").over(w).alias("s")).collect())
    got = sorted(
        ordered_prefix(df, ["v", "id"], {"s": F.col("d")}, n_buckets=5)
        .select("id", "s")
        .collect()
    )
    assert got == want


@pytest.mark.parametrize("n", [0, 1, 3, 9, 10, 11, 100, 1007])
@pytest.mark.parametrize("k", [10, 4])
def test_ntile_formula_matches_spark_ntile(spark, n, k):
    rows = [(float(i * 7 % 13), 0, i) for i in range(n)]
    df = _mk(spark, rows)
    want = sorted(
        df.select(
            "id", F.ntile(k).over(Window.orderBy("v", "id")).alias("t")
        ).collect()
    )
    rn = global_row_number(df, ["v", "id"], n_buckets=4)
    total = rn.count()
    got = sorted(
        rn.select(
            "id", ntile_from_rn(F.col("rn"), F.lit(total), k).cast("int").alias("t")
        ).collect()
    )
    assert got == want


def test_no_single_partition_window_in_plan(spark):
    """The replacement's physical plan must not contain a window with an
    empty partition spec over the data table (the tiny offsets table is
    join-based, not window-based)."""
    df = _mk(spark, CASES["plain"])
    got = global_row_number(df, ["v", "id"], n_buckets=4)
    plan = got._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window" in line:
            assert "partitionBy" not in line or "_dr_bucket" in line
            assert "_dr_bucket" in line, f"unexpected window: {line}"


def test_string_lead_matches_window(spark):
    from nyc_taxi_data_engineering_spark.operators.distrank import string_lead

    # Includes multibyte strings: rpad pads by CHARACTERS, so these carry
    # more than 8 bytes — an unbounded hex into ANSI conv() overflowed
    # before string_lead truncated to the first 8 bytes (16 hex digits).
    words = ["", "a", "A", "AB", "ABA", "B", "ab", "zebra", "zebr", "zebras!", "Z9",
             "supplier-0001", "supplier-0002", "supplier-00021", "vendor x", "vendor",
             "abécdefg", "éééééééé", "中文字符串测试长", "中文", "￿￿"]
    rows = [(w + str(i % 3), i) for i in range(120) for w in [words[i % len(words)]]]
    df = spark.createDataFrame([(w, i) for i, (w, _) in enumerate(rows)], "s string, id bigint")
    want = sorted(
        df.select(
            "id",
            F.row_number().over(Window.orderBy("s", "id")).cast("bigint").alias("rn"),
        ).collect()
    )
    got = sorted(
        global_row_number(df, ["s", "id"], n_buckets=5, lead=string_lead("s"))
        .select("id", "rn")
        .collect()
    )
    assert got == want


# --- property tests (hypothesis): ANY value distribution must match ---------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_PROP_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# Small value spaces force heavy ties; NULLs, negatives, and huge
# magnitudes exercise the bucket-boundary and NULL-first paths.
_vals = st.one_of(
    st.none(),
    st.sampled_from([-1e12, -3.5, -1.0, 0.0, 0.5, 1.0, 2.0, 7.25, 1e12]),
)


@given(data=st.lists(st.tuples(_vals, st.integers(0, 1)), max_size=80),
       nb=st.integers(1, 7))
@settings(**_PROP_SETTINGS)
def test_ordered_prefix_property_matches_global_window(spark, data, nb):
    rows = [(v, t, i) for i, (v, t) in enumerate(data)]
    df = _mk(spark, rows)
    w = Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, 0)
    want = sorted(df.select("id", F.sum("tag").over(w).alias("c")).collect())
    got = sorted(
        ordered_prefix(df, ["v", "id"], {"c": F.col("tag")}, n_buckets=nb)
        .select("id", "c")
        .collect()
    )
    assert got == want


@given(words=st.lists(st.text(max_size=12), min_size=1, max_size=40))
@settings(**_PROP_SETTINGS)
def test_string_lead_property_matches_window(spark, words):
    """Arbitrary unicode keys (any byte length, any plane): the
    string-keyed distributed row number must equal the single-partition
    window's, and string_lead must never overflow ANSI conv."""
    from nyc_taxi_data_engineering_spark.operators.distrank import string_lead

    df = spark.createDataFrame(list(enumerate(words)), "id bigint, s string")
    want = sorted(
        df.select(
            "id", F.row_number().over(Window.orderBy("s", "id")).cast("bigint").alias("rn")
        ).collect()
    )
    got = sorted(
        global_row_number(df, ["s", "id"], n_buckets=4, lead=string_lead("s"))
        .select("id", "rn")
        .collect()
    )
    assert got == want
