"""Stream wiring: file-source ingestion and the foreachBatch bridge
into the batch medallion sinks.

The file source is the local stand-in for Kafka/Kinesis: it replays a
directory of parquet files as micro-batches (``maxFilesPerTrigger=1``
makes each file one batch — how the tests stage 'late' data), and
``trigger(availableNow=True)`` drains everything then stops, which is
also the production backfill pattern. Checkpoints carry source offsets
AND watermark state across restarts, so a resumed stream keeps
dropping rows its watermark already passed.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Unbounded events scan. File streams require an explicit schema
    (no inference on unbounded sources)."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def foreach_batch_sink(
    result: DataFrame,
    checkpoint_dir: str,
    batch_fn: Callable[[DataFrame, int], None],
) -> StreamingQuery:
    """Bridge into batch sinks: each micro-batch is handed to
    ``batch_fn(batch_df, batch_id)`` — the idiomatic way to reuse the
    engine's partitioned-parquet/SCD2 writers from a stream (e.g.
    streaming C1 validate_and_split, SURVEY §2.12)."""
    q = (
        result.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
