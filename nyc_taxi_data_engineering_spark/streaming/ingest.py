"""Ingestion-side streaming operators: exactly-once event dedup and
stream-static dimension enrichment — the two transforms every event
pipeline runs before windowed aggregation.

Both are batch/stream-agnostic builders like streaming/windows.py: the
batch twin is oracle-checked, and stream==batch tests gate the
streaming path on identical data.

Scale notes: streaming dedup keys state by the id column;
``dropDuplicatesWithinWatermark`` bounds that state to the watermark
horizon (without it, state grows with all-time distinct keys — never
ship that). The stream-static join broadcasts the dim per micro-batch,
so the stream side never shuffles; dim updates are picked up at batch
boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.streaming.windows import with_watermark


def dedup_events(events: DataFrame) -> DataFrame:
    """At-least-once -> exactly-once: drop redelivered events by key.

    Streaming input: watermark + ``dropDuplicatesWithinWatermark`` so
    dedup state is evicted once the horizon passes (redeliveries in
    real systems arrive within seconds, not days). Batch input: plain
    ``dropDuplicates`` — same semantics over a bounded set."""
    if events.isStreaming:
        return with_watermark(events).dropDuplicatesWithinWatermark(["event_id"])
    return events.dropDuplicates(["event_id"])


ATTRIBUTION_HORIZON = "1 hour"


def attribute_purchases_to_clicks(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream interval join: each purchase is attributed to every
    click by the same user in the preceding ``ATTRIBUTION_HORIZON``.

    Streaming input: BOTH sides carry watermarks and the join condition
    bounds purchase_ts to [click_ts, click_ts + horizon], which is what
    lets Spark evict click state once the purchase-side watermark passes
    click_ts + horizon — without the time bound, stream-stream join
    state grows forever. Batch input: the identical plan is a plain
    inner join (the oracle-checked twin).

    Scale: the join shuffles both sides on user_id only; the time
    predicate is evaluated inside the join, so there is no range-scan
    blowup — per-user candidate sets stay small because the horizon
    bounds them.
    """
    c = clicks.select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if clicks.isStreaming:
        c = c.withWatermark("click_ts", "2 hours")
        p = p.withWatermark("purchase_ts", "2 hours")
    cond = (
        (c.user_id == p.p_user_id)
        & (p.purchase_ts >= c.click_ts)
        & (p.purchase_ts <= c.click_ts + F.expr(f"INTERVAL {ATTRIBUTION_HORIZON}"))
    )
    return c.join(p, cond, "inner").select(
        "user_id",
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def enrich_events_with_customers(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static left join onto the customer dim (broadcast): every
    event tagged with the customer's market segment. The static side is
    re-resolved per micro-batch, so a refreshed dim table applies
    without restarting the stream."""
    dim = customers.select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("mktsegment")
    )
    return events.join(F.broadcast(dim), "user_id", "left")
