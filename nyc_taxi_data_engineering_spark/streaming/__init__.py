"""Structured Streaming extension (SURVEY.md §7.2 M7).

The reference defers streaming entirely ("Late-arriving data handled in
future enhancement", /root/reference/sql/docs/Transformation
Documentation.md:175); this package upgrades that deferral to real
Structured Streaming: file-source ingestion of the ``events`` table,
watermarked tumbling/sliding/session window aggregations,
watermark-bounded dedup, stream-static enrichment, a stream-stream
interval join, and a foreachBatch bridge into the batch medallion
sinks (exactly-once Delta ingest).

Design rule: every window aggregation is a **builder over an unbound
DataFrame** (streaming/windows.py), applied identically to
``spark.read`` and ``spark.readStream`` inputs — the batch twin is what
the DuckDB oracle checks, and tests assert stream-equals-batch on the
same data, so the streaming path inherits the correctness gate.
"""

from nyc_taxi_data_engineering_spark.streaming.delta_ingest import (
    delta_ingest_batch,
    delta_stream_sink,
    ingest_events_to_delta,
)
from nyc_taxi_data_engineering_spark.streaming.windows import (
    session_user_stats,
    sliding_event_stats,
    tumbling_event_stats,
)

__all__ = [
    "tumbling_event_stats",
    "sliding_event_stats",
    "session_user_stats",
    "delta_ingest_batch",
    "delta_stream_sink",
    "ingest_events_to_delta",
]
