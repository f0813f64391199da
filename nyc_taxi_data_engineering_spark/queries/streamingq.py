"""Batch twins of the streaming window aggregations (streaming/
windows.py), oracle-checked over the ``events`` table. The streaming
path applies the IDENTICAL builders to ``readStream`` input (tests
assert stream == batch), so these oracles gate both modes.

Window-start arithmetic in the oracles uses explicit epoch-µs flooring
(``make_timestamp(floor(epoch_us / width) * width)``) — the same
epoch-aligned bucketing Spark's ``window()`` uses — rather than
``time_bucket``, whose origin conventions differ by interval type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nyc_taxi_data_engineering_spark.catalog import load_table
from nyc_taxi_data_engineering_spark.functions import stable_sum, stable_sum_sql
from nyc_taxi_data_engineering_spark.queries.registry import query
from nyc_taxi_data_engineering_spark.streaming import (
    session_user_stats,
    sliding_event_stats,
    tumbling_event_stats,
)

_HOUR_US = 3_600 * 1_000_000
_HALF_HOUR_US = 1_800 * 1_000_000


def _bucket(col: str, width_us: int) -> str:
    return f"make_timestamp((epoch_us({col}) // {width_us}) * {width_us})"


@query(
    "events_tumbling_stats",
    oracle=f"""
SELECT {_bucket('ts', _HOUR_US)} AS window_start,
       {_bucket('ts', _HOUR_US)} + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS n_events,
       {stable_sum_sql('value')} AS sum_value
FROM events
GROUP BY window_start, window_end, event_type
""",
    bench=True,
)
def q_events_tumbling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling windows per event_type — the flagship streaming
    agg, run here on the bounded twin."""
    return tumbling_event_stats(load_table(spark, sf_dir, "events"))


@query(
    "events_sliding_stats",
    oracle=f"""
WITH ex AS (
    SELECT event_type, value,
           unnest([{_bucket('ts', _HALF_HOUR_US)},
                   {_bucket('ts', _HALF_HOUR_US)} - INTERVAL 30 MINUTE]) AS window_start
    FROM events
)
SELECT window_start,
       window_start + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS n_events,
       {stable_sum_sql('value')} AS sum_value
FROM ex
GROUP BY window_start, window_end, event_type
""",
)
def q_events_sliding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes: each event lands in
    exactly 2 windows (oracle: explicit unnest of both starts)."""
    return sliding_event_stats(load_table(spark, sf_dir, "events"))


@query(
    "events_user_sessions",
    oracle=f"""
WITH o AS (
    SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 6 HOUR
                THEN 1 ELSE 0 END AS new_s
    FROM events
),
s AS (
    SELECT user_id, ts, value,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM o
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 6 HOUR AS session_end,
       COUNT(*) AS n_events,
       {stable_sum_sql('value')} AS sum_value
FROM s
GROUP BY user_id, sid
""",
)
def q_events_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based per-user sessions (6h): Spark session_window vs the
    oracle's gaps-and-islands rewrite — session_end is last event +
    gap, and an event exactly at the previous session's end starts a
    new one (window end is exclusive, hence '>= gap' in the oracle)."""
    return session_user_stats(load_table(spark, sf_dir, "events"))


@query(
    "events_dedup_counts",
    oracle="""
WITH planted AS (
    SELECT * FROM events
    UNION ALL SELECT * FROM events WHERE event_id % 7 = 0
)
SELECT CAST((SELECT COUNT(*) FROM planted) AS BIGINT) AS rows_in,
       CAST((SELECT COUNT(DISTINCT event_id) FROM planted) AS BIGINT) AS rows_deduped,
       CAST((SELECT COUNT(*) FROM planted) - (SELECT COUNT(DISTINCT event_id) FROM planted)
            AS BIGINT) AS dups_removed
""",
)
def q_events_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once dedup metrics over a corpus with planted
    redeliveries (every 7th event duplicated — identical full rows, as
    a redelivery is). Batch twin of streaming/ingest.dedup_events; the
    streaming dedup test covers its watermark-bounded streaming path."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.streaming.ingest import dedup_events

    events = load_table(spark, sf_dir, "events")
    planted = events.unionByName(events.filter(F.col("event_id") % 7 == 0))
    deduped = dedup_events(planted)
    n_in = planted.agg(F.count(F.lit(1)).alias("rows_in"))
    n_out = deduped.agg(F.count(F.lit(1)).alias("rows_deduped"))
    return (
        n_in.crossJoin(F.broadcast(n_out))
        .withColumn("dups_removed", F.col("rows_in") - F.col("rows_deduped"))
    )


@query(
    "events_value_by_segment",
    oracle=f"""
SELECT c.c_mktsegment AS mktsegment,
       COUNT(*) AS n_events,
       {stable_sum_sql('e.value')} AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
""",
)
def q_events_value_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment twin: events joined to the broadcast
    customer dim, aggregated per market segment. In streaming form the
    dim is re-read per micro-batch; the plan here is the same broadcast
    join + hash agg."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.streaming.ingest import enrich_events_with_customers

    events = load_table(spark, sf_dir, "events")
    customers = load_table(spark, sf_dir, "customer")
    enriched = enrich_events_with_customers(events, customers).filter(
        F.col("mktsegment").isNotNull()
    )
    return enriched.groupBy("mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"), stable_sum("value").alias("sum_value")
    )


@query(
    "click_purchase_attribution",
    oracle="""
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_time,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_time,
       p.value AS purchase_value,
       epoch_us(p.ts) - epoch_us(c.ts) AS delay_us
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
""",
)
def q_click_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join
    (streaming/ingest.attribute_purchases_to_clicks): purchases
    attributed to same-user clicks in the preceding hour. The
    stream==batch test covers the watermarked streaming path; this
    oracle gates the join semantics."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.streaming.ingest import (
        attribute_purchases_to_clicks,
    )

    events = load_table(spark, sf_dir, "events")
    pairs = attribute_purchases_to_clicks(
        events.filter(F.col("event_type") == "click"),
        events.filter(F.col("event_type") == "purchase"),
    )
    return pairs.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_time"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_time"),
        "purchase_value",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("delay_us"),
    )


@query(
    "events_delta_ingest",
    oracle=f"""
SELECT CAST(ts AS DATE) AS event_date,
       COUNT(*) AS n_events,
       {stable_sum_sql('value')} AS sum_value
FROM events
GROUP BY event_date
""",
)
def q_events_delta_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming → partitioned Delta, end-to-end under
    the oracle gate (no batch twin): the events table is staged as 4
    parquet files, replayed as 4 micro-batches
    (``maxFilesPerTrigger=1``), and each batch lands as ONE atomic
    Delta commit partitioned by ``event_date`` with a ``txn``
    (appId, batchId) action — the protocol's exactly-once marker
    (streaming/delta_ingest.py). The final snapshot is read back
    through the transaction log and aggregated per day; the oracle
    computes the same aggregate straight from the raw table, so a
    dropped batch, a double-committed replay, or a partition-value
    corruption all hash-mismatch. Idempotent-replay behavior itself is
    asserted in test_streaming/test_delta_log."""
    import shutil

    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.queries.workflow import _tmp_table
    from nyc_taxi_data_engineering_spark.sources import delta_log as D
    from nyc_taxi_data_engineering_spark.streaming import ingest_events_to_delta

    src = _tmp_table("events_stage")
    ckpt = _tmp_table("events_ingest_ckpt")
    tbl = _tmp_table("events_ingest_delta")
    for p in (src, ckpt, tbl):
        shutil.rmtree(p, ignore_errors=True)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    events.repartition(4).write.mode("overwrite").parquet(src)
    ingest_events_to_delta(spark, src, tbl, ckpt)
    snap = D.read_delta_log(spark, tbl)
    return snap.groupBy("event_date").agg(
        F.count(F.lit(1)).alias("n_events"),
        stable_sum(F.col("value")).alias("sum_value"),
    )
