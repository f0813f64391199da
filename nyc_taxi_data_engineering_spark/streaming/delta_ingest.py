"""Streaming ingest into the pure-Python Delta log: a foreachBatch
sink that appends each micro-batch as one partitioned Delta commit,
EXACTLY-ONCE across checkpoint recovery.

This is the lakehouse landing pattern the reference's Delta zones
imply (``raw_to_validated_delta.py:41-46`` partitioned Delta sink +
the streaming day's foreachBatch bridge) re-expressed on the
protocol-level log: Structured Streaming's checkpoint guarantees each
batch id is REPROCESSED at least once after a crash, so the sink must
be idempotent per batch. Delta's answer — and ours — is the ``txn``
action: every commit records ``(appId, batchId)``; a replayed batch
at-or-below the table's committed watermark for this appId is skipped
before any file is written. The (txn, add*) pair is ONE atomic commit
(put-if-absent hard link), so there is no window where data landed but
the marker didn't.

Scale notes: each micro-batch append is O(batch) — Spark writes the
partition-laid-out files in parallel, the commit is one small JSON.
Partitioning by event date keeps downstream reads partition-pruned
(read_delta_log predicates), and small per-batch files are the
documented compact_delta/OPTIMIZE trade: ingest fast, compact behind.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from nyc_taxi_data_engineering_spark.sources.delta_log import (
    last_txn_version,
    write_delta,
)
from nyc_taxi_data_engineering_spark.streaming.runner import foreach_batch_sink


def delta_ingest_batch(
    batch: DataFrame,
    batch_id: int,
    table_path: str,
    app_id: str,
) -> bool:
    """Append one micro-batch as one ``event_date``-partitioned Delta
    commit; returns False (and
    writes nothing) when the table's txn watermark for ``app_id``
    shows this batch id already committed — the replay-after-recovery
    case."""
    last = last_txn_version(table_path, app_id)
    if last is not None and batch_id <= last:
        return False
    write_delta(
        batch,
        table_path,
        mode="append",
        operation="STREAMING UPDATE",
        partition_by="event_date",
        txn=(app_id, batch_id),
    )
    return True


def delta_stream_sink(
    result: DataFrame,
    checkpoint_dir: str,
    table_path: str,
    app_id: str,
) -> StreamingQuery:
    """Drain ``result`` (availableNow) into a Delta table, one commit
    per micro-batch, exactly-once via the txn watermark."""

    def _sink(batch: DataFrame, batch_id: int) -> None:
        delta_ingest_batch(batch, batch_id, table_path, app_id)

    return foreach_batch_sink(result, checkpoint_dir, _sink)


def ingest_events_to_delta(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint_dir: str,
    app_id: str = "events-ingest",
) -> int:
    """File-source events stream → date-partitioned Delta table.
    ``maxFilesPerTrigger=1`` makes each staged file one micro-batch
    (one commit, one txn bump) — the Kafka-less stand-in for a
    continuous feed. Returns the table's final version."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.sources.delta_log import latest_version
    from nyc_taxi_data_engineering_spark.streaming.runner import read_events_stream

    stream = read_events_stream(spark, source_dir, 1).withColumn(
        "event_date", F.to_date("ts")
    )
    delta_stream_sink(stream, checkpoint_dir, table_path, app_id)
    v = latest_version(table_path)
    if v is None:
        raise RuntimeError(f"stream drained but no Delta commit at {table_path}")
    return v
