"""Unit tests for temporal joins (operators/temporal.py): interval
containment and boundary semantics (start inclusive, end exclusive)."""

from __future__ import annotations

import datetime as dt

from nyc_taxi_data_engineering_spark.operators.temporal import point_in_time_join, range_join


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_point_in_time_interval_and_boundaries(spark):
    versions = spark.createDataFrame(
        [
            (1, "v1", _ts("2024-01-01"), _ts("2024-01-15")),
            (1, "v2", _ts("2024-01-15"), _ts("9999-12-31")),
        ],
        "k long, val string, effective_start_ts timestamp, effective_end_ts timestamp",
    )
    events = spark.createDataFrame(
        [
            (100, 1, _ts("2024-01-10")),  # inside v1
            (101, 1, _ts("2024-01-15")),  # exactly at boundary -> v2 (end exclusive)
            (102, 1, _ts("2024-06-01")),  # open-ended v2
            (103, 2, _ts("2024-01-10")),  # unknown key -> dropped (inner)
        ],
        "event_id long, k long, ts timestamp",
    )
    got = {
        r["event_id"]: r["val"]
        for r in point_in_time_join(events, versions, "k", "k", "ts").collect()
    }
    assert got == {100: "v1", 101: "v2", 102: "v2"}


def test_range_join_overlapping_intervals_and_boundaries(spark):
    # two overlapping windows; start inclusive, end exclusive
    wins = spark.createDataFrame(
        [
            ("w1", _ts("2024-01-01 00:00:00"), _ts("2024-01-01 02:00:00")),
            ("w2", _ts("2024-01-01 01:00:00"), _ts("2024-01-01 03:00:00")),
        ],
        "win string, lo timestamp, hi timestamp",
    )
    ev = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 00:30:00")),  # w1 only
            (2, _ts("2024-01-01 01:30:00")),  # both (overlap)
            (3, _ts("2024-01-01 02:00:00")),  # w1 end excluded -> w2 only
            (4, _ts("2024-01-01 03:00:00")),  # w2 end excluded -> no match
            (5, _ts("2024-01-01 01:00:00")),  # w2 start included -> w1 + w2
        ],
        "event_id long, ts timestamp",
    )
    got = sorted(
        (r["event_id"], r["win"])
        for r in range_join(ev, wins, "ts", "lo", "hi", bucket_seconds=1800).collect()
    )
    assert got == [(1, "w1"), (2, "w1"), (2, "w2"), (3, "w2"), (5, "w1"), (5, "w2")]


def test_range_join_coarse_bucket_still_exact(spark):
    # bucket far larger than the intervals: filter must still be exact
    wins = spark.createDataFrame(
        [("w1", _ts("2024-01-01 00:10:00"), _ts("2024-01-01 00:20:00"))],
        "win string, lo timestamp, hi timestamp",
    )
    ev = spark.createDataFrame(
        [(1, _ts("2024-01-01 00:15:00")), (2, _ts("2024-01-01 00:25:00"))],
        "event_id long, ts timestamp",
    )
    got = [r["event_id"] for r in range_join(ev, wins, "ts", "lo", "hi", 86400).collect()]
    assert got == [1]
