"""Windowed event aggregations, batch/stream agnostic.

Each builder takes any events DataFrame (bounded from ``spark.read`` or
unbounded from ``spark.readStream``) and returns the aggregated plan.
On the streaming side add ``with_watermark`` first so state for closed
windows is evicted and late rows beyond the delay are dropped; on the
batch side the same plan is the DuckDB-oracle-checked twin.

Scale notes: window aggregation is a hash agg keyed on (window, dims) —
map-side partial combine applies, and streaming state size is bounded
by (windows in watermark horizon × dims), not input volume. Sliding
windows multiply state by window/slide; session windows key state by
(user, open session) and merge on arrival.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.functions import stable_sum

TUMBLE = "1 hour"
SLIDE_WINDOW, SLIDE_STEP = "1 hour", "30 minutes"
SESSION_GAP = "6 hours"
WATERMARK_DELAY = "2 hours"


def with_watermark(events: DataFrame) -> DataFrame:
    """Late-data contract: rows later than ``WATERMARK_DELAY`` behind the max
    observed ts are dropped; window state older than the horizon is
    evicted (the reference's deferred 'late-arrival adjustment logic',
    made concrete)."""
    return events.withWatermark("ts", WATERMARK_DELAY)


def tumbling_event_stats(events: DataFrame) -> DataFrame:
    """Per-(tumbling window, event_type) count + exact value sum."""
    return (
        events.groupBy(F.window("ts", TUMBLE).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), stable_sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_event_stats(events: DataFrame) -> DataFrame:
    """Sliding (hopping) windows: each event lands in window/slide
    overlapping windows (2 here)."""
    return (
        events.groupBy(F.window("ts", SLIDE_WINDOW, SLIDE_STEP).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), stable_sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_user_stats(events: DataFrame) -> DataFrame:
    """Per-user session windows (gap-based): a session extends while
    consecutive events are within ``SESSION_GAP``; ``session_end`` is
    last-event + SESSION_GAP (Spark's session_window semantics, mirrored by the
    oracle's gaps-and-islands SQL)."""
    return (
        events.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), stable_sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
