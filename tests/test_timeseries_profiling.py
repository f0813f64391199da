"""Unit tests for the time-series regularization operators, the table
profiler, and batch sessionization edge cases."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.operators.profiling import profile
from nyc_taxi_data_engineering_spark.operators.timeseries import (
    calendar_spine,
    forward_fill,
    gap_fill,
)


def _series(spark):
    d = dt.date
    return spark.createDataFrame(
        [
            (1, d(2024, 1, 1), 10.0),
            (1, d(2024, 1, 4), 40.0),  # 2-day gap before this
            (2, d(2024, 2, 1), 99.0),  # single-day key
        ],
        "k int, d date, v double",
    )


def test_calendar_spine_is_dense_per_key(spark):
    spine = calendar_spine(_series(spark), "k", "d").collect()
    by_key = {}
    for r in spine:
        by_key.setdefault(r["k"], []).append(r["d"])
    assert sorted(by_key[1]) == [dt.date(2024, 1, 1 + i) for i in range(4)]
    assert by_key[2] == [dt.date(2024, 2, 1)]


def test_gap_fill_flags_missing_days(spark):
    got = {(r["k"], r["d"]): r["is_gap"] for r in gap_fill(_series(spark), "k", "d", ["v"]).collect()}
    assert got[(1, dt.date(2024, 1, 2))] is True
    assert got[(1, dt.date(2024, 1, 1))] is False
    assert len(got) == 5


def test_forward_fill_carries_last_value_and_keeps_leading_nulls(spark):
    df = spark.createDataFrame(
        [(1, 1, None), (1, 2, 5.0), (1, 3, None), (1, 4, None), (2, 1, None)],
        "k int, seq int, v double",
    )
    got = {
        (r["k"], r["seq"]): r["v_ff"]
        for r in forward_fill(df, "k", "seq", ["v"]).collect()
    }
    assert got[(1, 1)] is None  # leading null: nothing to carry
    assert got[(1, 3)] == 5.0 and got[(1, 4)] == 5.0
    assert got[(2, 1)] is None  # fill never crosses keys


def test_profile_counts_nulls_distinct_minmax(spark):
    df = spark.createDataFrame(
        [("a", 1, 1.5), ("b", None, 2.5), ("a", 3, None)],
        "s string, i int, f double",
    )
    rows = {r["column_name"]: r for r in profile(df, df.columns).collect()}
    assert rows["s"]["n_nulls"] == 0 and rows["s"]["n_distinct"] == 2
    assert rows["i"]["n_nulls"] == 1 and rows["i"]["min_value"] == "1"
    assert rows["f"]["max_value"] == "2.500000"  # decimal(24,6) rendering
    assert rows["i"]["null_pct"] == 33.33


def test_sessionization_gap_boundary(spark):
    """An event EXACTLY at the 30-min gap stays in the same session
    (strict > starts a new one); one microsecond past splits."""
    from nyc_taxi_data_engineering_spark.queries.eventsq import SESSION_GAP_US

    from pyspark.sql import Window

    base = dt.datetime(2024, 1, 1)
    rows = [
        (0, base, 7, "click", 1.0, "{}"),
        (1, base + dt.timedelta(microseconds=SESSION_GAP_US), 7, "click", 1.0, "{}"),
        (2, base + dt.timedelta(microseconds=2 * SESSION_GAP_US + 1), 7, "click", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = F.when(
        prev.isNull() | ((F.unix_micros("ts") - F.unix_micros(prev)) > SESSION_GAP_US), 1
    ).otherwise(0)
    got = [r["n"] for r in df.select(is_new.alias("n")).orderBy("ts").collect()]
    assert got == [1, 0, 1]


def test_lineitem_correlations_match_numpy(spark, sf_dir):
    """The moment-derived Pearson matrix must agree with numpy's corrcoef
    to float tolerance (numpy uses a different but equivalent formula)."""
    import numpy as np

    from nyc_taxi_data_engineering_spark.queries.profiling import (
        _CORR_COLS,
        q_lineitem_correlations,
    )
    from nyc_taxi_data_engineering_spark.catalog import load_table

    got = {
        (r["col_a"], r["col_b"]): r["corr"]
        for r in q_lineitem_correlations(spark, sf_dir).collect()
    }
    pdf = load_table(spark, sf_dir, "lineitem").select(*_CORR_COLS).toPandas()
    ref = np.corrcoef(pdf.to_numpy().T)
    for i, a in enumerate(_CORR_COLS):
        for j in range(i + 1, len(_CORR_COLS)):
            assert abs(got[(a, _CORR_COLS[j])] - ref[i, j]) < 1e-6, (a, _CORR_COLS[j])


def test_split_drift_chi2_cells_consistent(spark, sf_dir):
    """Cell counts must reproduce the split assignment exactly and the
    chi2 identity sum(obs) == sum(expected) must hold per margin."""
    from collections import defaultdict

    from nyc_taxi_data_engineering_spark.queries.sampling import q_split_drift_chi2

    rows = q_split_drift_chi2(spark, sf_dir).collect()
    assert rows and all(r["chi2_term"] >= 0 for r in rows)
    # recompute expected/chi2 from the observed cell table's own margins
    split_t = defaultdict(int)
    source_t = defaultdict(int)
    for r in rows:
        split_t[r["split"]] += r["n_docs"]
        source_t[r["source"]] += r["n_docs"]
    n = sum(split_t.values())
    for r in rows:
        exp = split_t[r["split"]] * source_t[r["source"]] / n
        assert abs(r["expected"] - exp) < 1e-9, r
        assert abs(r["chi2_term"] - (r["n_docs"] - exp) ** 2 / exp) < 1e-9, r


# ---------------------------------------------------------------------------
# Round-8 late additions: CUSUM, seasonal-naive eval, DAU/WAU, funnel latency
# ---------------------------------------------------------------------------


def test_cusum_statistics_semantics(spark, sf_dir):
    """CUSUM invariants that hold for ANY series: both statistics are
    non-negative everywhere, and because P_n telescopes to 0, the final
    scaled prefix is exactly 0 — so the last row's cusum_up equals
    -min(P)/n and cusum_down equals max(P)/n (both reachable from the
    published columns only via the invariant, not asserted directly);
    and a constant series yields identically-zero statistics."""
    from nyc_taxi_data_engineering_spark.queries.timeseries import (
        q_events_cusum_changepoint,
    )

    out = q_events_cusum_changepoint(spark, sf_dir).orderBy("hour").collect()
    assert len(out) > 0
    assert all(r.cusum_up >= 0.0 and r.cusum_down >= 0.0 for r in out)
    # somewhere the statistic must move (the synthetic series has surges)
    assert max(r.cusum_up for r in out) > 0.0 or max(r.cusum_down for r in out) > 0.0
    # constant series -> P_t = 0 for all t -> both statistics identically 0
    import datetime as dt

    const = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1, h), 7, "view", 1.0, "{}")
         for h in range(5) for i in range(3)],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as td:
        const.write.parquet(os.path.join(td, "events.parquet"))
        flat = q_events_cusum_changepoint(spark, td).collect()
    assert all(r.cusum_up == 0.0 and r.cusum_down == 0.0 for r in flat)


def test_forecast_eval_metric_relations(spark, sf_dir):
    """MAE >= |bias| (triangle inequality through the same exact sums),
    MAPE > 0 on any non-constant series, and every day evaluated has a
    lag-7 partner (n_days <= n_distinct_days - 7 + boundary slack is
    hard to pin; instead: n_days equals the self-join cardinality,
    recomputed here independently)."""
    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.queries.timeseries import (
        q_daily_revenue_forecast_eval,
    )

    row = q_daily_revenue_forecast_eval(spark, sf_dir).collect()[0]
    assert row.n_days > 0
    assert row.mae >= abs(row.bias) - 1e-9
    assert row.mape > 0.0
    days = {
        r.d
        for r in load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderdate").cast("date").alias("d"))
        .distinct()
        .collect()
    }
    import datetime as dt

    expected = sum(1 for d in days if d - dt.timedelta(days=7) in days)
    assert row.n_days == expected


def test_dau_wau_bounds(spark, sf_dir):
    """DAU <= WAU for every day (a day's actives are a subset of the
    trailing week's), stickiness in (0, 1], and WAU for day d is at
    least the max DAU of the 7 days it covers."""
    from nyc_taxi_data_engineering_spark.queries.timeseries import (
        q_events_dau_wau_stickiness,
    )

    rows = q_events_dau_wau_stickiness(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.dau <= r.wau
        assert 0.0 < r.stickiness <= 1.0


def test_funnel_latency_order_statistics(spark, sf_dir):
    """min <= median <= p90 <= max, all non-negative (a purchase at or
    after signup), and n_converted matches the rate query's count."""
    from nyc_taxi_data_engineering_spark.queries.eventsq import (
        q_events_funnel_signup_purchase,
        q_funnel_time_to_convert,
    )

    lat = q_funnel_time_to_convert(spark, sf_dir).collect()[0]
    assert 0.0 <= lat.min_hours <= lat.median_hours <= lat.p90_hours <= lat.max_hours
    rate = q_events_funnel_signup_purchase(spark, sf_dir).collect()[0]
    assert lat.n_converted == rate.n_converted


def test_linear_interpolate_straight_line(spark):
    """A 2-day gap between 10 and 40 must read 20 and 30 (straight
    line), observed rows keep their value, and a leading gap (nothing
    behind it) stays NULL."""
    from nyc_taxi_data_engineering_spark.operators.timeseries import (
        gap_fill,
        linear_interpolate,
    )

    dense = gap_fill(_series(spark), "k", "d", ["v"])
    out = {
        (r.k, str(r.d)): r.v_li
        for r in linear_interpolate(dense, "k", "d", "v", "v_li").collect()
    }
    assert out[(1, "2024-01-01")] == 10.0
    assert out[(1, "2024-01-02")] == 20.0
    assert out[(1, "2024-01-03")] == 30.0
    assert out[(1, "2024-01-04")] == 40.0
    assert out[(2, "2024-02-01")] == 99.0


def test_holt_winters_state_is_finite_and_seasonal_slots_fill(spark, sf_dir):
    """The seasonal fold must produce finite state and a real MAE, and
    its one-step MAE should not be wildly worse than plain Holt (the
    seasonal terms start at 0, so early steps match Holt exactly)."""
    import math

    from nyc_taxi_data_engineering_spark.queries import run

    hw, _ = run(spark, "holt_winters_forecast", sf_dir, lambda df: df.collect()[0])
    h, _ = run(spark, "holt_linear_forecast", sf_dir, lambda df: df.collect()[0])
    assert hw["n_days"] == h["n_days"] > 100
    for c in ("final_level", "final_trend", "mae", "forecast_1", "forecast_7"):
        assert math.isfinite(hw[c]), c
    assert hw["mae"] > 0
    assert hw["mae"] < 3.0 * h["mae"]
