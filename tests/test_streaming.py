"""Structured Streaming tests: the streaming plans are the SAME
builders the oracle-checked batch twins use, so these tests close the
loop — stream output must equal batch output on identical data, the
watermark must drop late rows across a checkpointed restart, and the
Delta sink must land each micro-batch exactly once."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.streaming import tumbling_event_stats
from nyc_taxi_data_engineering_spark.streaming.runner import EVENTS_SCHEMA, read_events_stream
from nyc_taxi_data_engineering_spark.streaming.windows import with_watermark


def _mk_events(spark, rows):
    data = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m), uid, et, v, "{}")
        for i, (m, uid, et, v) in enumerate(rows)
    ]
    return spark.createDataFrame(data, EVENTS_SCHEMA)


def _write_batch(df, path):
    df.coalesce(1).write.mode("append").parquet(path)


def _drain_to_memory(result, name, checkpoint_dir, output_mode="append"):
    """Drain the stream into the in-memory table ``name`` and block
    until everything available has been processed. Append mode only
    emits windows finalized by the watermark."""
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@pytest.fixture()
def stream_dirs(tmp_path):
    src = os.path.join(str(tmp_path), "src")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    return src, ckpt


def test_stream_equals_batch_tumbling(spark, stream_dirs):
    src, ckpt = stream_dirs
    events = _mk_events(
        spark,
        [(0, 1, "click", 1.0), (10, 1, "click", 2.0), (65, 2, "view", 3.0), (70, 1, "click", 4.0)],
    )
    _write_batch(events, src)

    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in tumbling_event_stats(spark.read.parquet(src)).collect()
    }
    _drain_to_memory(
        tumbling_event_stats(with_watermark(read_events_stream(spark, src))),
        "t_tumbling",
        ckpt,
        output_mode="complete",
    )
    stream = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM t_tumbling").collect()
    }
    assert stream == batch and len(batch) == 3


def test_watermark_drops_late_rows_across_restart(spark, stream_dirs, tmp_path):
    """Batch 1 advances the watermark to 02:00 (max ts 04:00, 2h
    delay) and append mode finalizes the 00:00 window. The restarted
    stream (same checkpoint: offsets AND watermark recover) reads
    batch 2, whose 00:30 row is behind the watermark and must be
    dropped — the finalized 00:00 window keeps n=2 and the late
    sum_value=100 row never appears anywhere."""
    from nyc_taxi_data_engineering_spark.streaming.runner import foreach_batch_sink

    src, ckpt = stream_dirs
    out = os.path.join(str(tmp_path), "emitted")
    _write_batch(
        _mk_events(spark, [(0, 1, "click", 1.0), (30, 1, "click", 1.0), (240, 1, "view", 1.0)]),
        src,
    )

    def run():
        # foreachBatch (not the memory sink) so the checkpoint is recoverable
        foreach_batch_sink(
            tumbling_event_stats(with_watermark(read_events_stream(spark, src))),
            ckpt,
            lambda df, _id: df.write.mode("append").parquet(out),
        )

    run()
    # late row (00:30, behind the 02:00 watermark) + on-time row (03:30)
    _write_batch(_mk_events(spark, [(30, 9, "click", 100.0), (210, 9, "view", 1.0)]), src)
    run()

    emitted = spark.read.parquet(out).collect()
    w0 = [r for r in emitted if r["window_start"] == dt.datetime(2024, 1, 1, 0, 0)]
    assert w0 and all(r["n_events"] == 2 and r["sum_value"] == 2.0 for r in w0)
    assert not any(r["sum_value"] >= 100.0 for r in emitted)


def test_foreach_batch_bridges_to_parquet(spark, stream_dirs, tmp_path):
    src, ckpt = stream_dirs
    out = os.path.join(str(tmp_path), "out")
    _write_batch(_mk_events(spark, [(0, 1, "click", 1.0), (5, 2, "view", 2.0)]), src)

    from nyc_taxi_data_engineering_spark.streaming.runner import foreach_batch_sink

    foreach_batch_sink(
        read_events_stream(spark, src),
        ckpt,
        lambda df, batch_id: df.write.mode("append").parquet(out),
    )
    assert spark.read.parquet(out).count() == 2


def test_streaming_dedup_drops_cross_batch_redelivery(spark, stream_dirs):
    """A redelivered event arriving in a LATER micro-batch (within the
    watermark horizon) must still be dropped — dedup state persists
    across batches."""
    from nyc_taxi_data_engineering_spark.streaming.ingest import dedup_events

    src, ckpt = stream_dirs
    first = _mk_events(spark, [(0, 1, "click", 1.0), (10, 2, "view", 2.0)])
    _write_batch(first, src)
    # redeliver event_id 0 verbatim in a second file (= second micro-batch)
    _write_batch(first.filter(F.col("event_id") == 0), src)

    _drain_to_memory(
        dedup_events(read_events_stream(spark, src, max_files_per_trigger=1)),
        "t_dedup",
        ckpt,
        output_mode="append",
    )
    got = spark.sql("SELECT event_id FROM t_dedup").collect()
    assert sorted(r["event_id"] for r in got) == [0, 1]


def test_stream_static_enrichment_equals_batch(spark, stream_dirs):
    from nyc_taxi_data_engineering_spark.streaming.ingest import enrich_events_with_customers

    src, ckpt = stream_dirs
    _write_batch(
        _mk_events(spark, [(0, 10, "click", 1.0), (5, 11, "view", 2.0), (9, 99, "view", 4.0)]),
        src,
    )
    customers = spark.createDataFrame(
        [(10, "AUTOMOBILE"), (11, "BUILDING")], "c_custkey long, c_mktsegment string"
    )
    _drain_to_memory(
        enrich_events_with_customers(read_events_stream(spark, src), customers),
        "t_enrich",
        ckpt,
        output_mode="append",
    )
    stream = {
        (r["event_id"], r["mktsegment"]) for r in spark.sql("SELECT * FROM t_enrich").collect()
    }
    batch = {
        (r["event_id"], r["mktsegment"])
        for r in enrich_events_with_customers(spark.read.parquet(src), customers).collect()
    }
    assert stream == batch == {(0, "AUTOMOBILE"), (1, "BUILDING"), (2, None)}


def test_stream_stream_interval_join_equals_batch(spark, stream_dirs):
    """Purchases join to same-user clicks within the horizon; the
    watermarked stream-stream join must emit exactly the batch pairs —
    including dropping the purchase 2h after the click (outside the
    1h horizon) and the other-user purchase."""
    from nyc_taxi_data_engineering_spark.streaming.ingest import (
        attribute_purchases_to_clicks,
    )

    src, ckpt = stream_dirs
    events = _mk_events(
        spark,
        [
            (0, 1, "click", 0.0),      # click @00:00
            (30, 1, "purchase", 5.0),  # +30min -> attributed
            (120, 1, "purchase", 7.0),  # +2h -> outside horizon
            (10, 2, "purchase", 9.0),  # other user, no click
            (40, 2, "click", 0.0),     # click after purchase -> no pair
        ],
    )
    _write_batch(events, src)

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    batch_pairs = {
        (r["click_id"], r["purchase_id"])
        for r in attribute_purchases_to_clicks(*split(spark.read.parquet(src))).collect()
    }
    _drain_to_memory(
        attribute_purchases_to_clicks(*split(read_events_stream(spark, src))),
        "t_ssjoin",
        ckpt,
        output_mode="append",
    )
    stream_pairs = {
        (r["click_id"], r["purchase_id"])
        for r in spark.sql("SELECT * FROM t_ssjoin").collect()
    }
    assert stream_pairs == batch_pairs == {(0, 1)}


def test_streaming_delta_ingest_exactly_once(spark, stream_dirs, tmp_path):
    """File stream → partitioned Delta: one commit + txn per
    micro-batch; a replayed batch id writes nothing; a restarted
    stream on the same checkpoint re-commits nothing."""
    from nyc_taxi_data_engineering_spark.sources import delta_log as D
    from nyc_taxi_data_engineering_spark.streaming import (
        delta_ingest_batch,
        ingest_events_to_delta,
    )

    src, ckpt = stream_dirs
    tbl = os.path.join(str(tmp_path), "ingest_tbl")
    batch1 = _mk_events(spark, [(0, 1, "click", 1.0), (10, 2, "view", 2.0)])
    batch2 = _mk_events(
        spark, [(24 * 60, 1, "purchase", 3.0), (24 * 60 + 5, 3, "click", 4.0)]
    )
    _write_batch(batch1, src)
    _write_batch(batch2, src)
    v = ingest_events_to_delta(spark, src, tbl, ckpt, app_id="t-ingest")
    # two staged files -> two batches -> two commits (v0, v1)
    assert v == 1
    assert D.last_txn_version(tbl, "t-ingest") == 1
    snap = D.read_delta_log(spark, tbl)
    assert snap.count() == 4
    # partitioned by event_date with values from ts
    state = D._replay_state(tbl)
    assert state["metaData"]["partitionColumns"] == ["event_date"]
    days = {a["partitionValues"]["event_date"] for a in state["adds"].values()}
    assert days == {"2024-01-01", "2024-01-02"}
    # partition-pruned read returns only day 2
    d2 = D.read_delta_log(spark, tbl, predicates=[("event_date", "==", "2024-01-02")])
    assert sorted(r["event_id"] for r in d2.collect()) == [0, 1]  # per-batch ids
    assert all("event_date=2024-01-02" in f for f in d2.inputFiles())
    # replayed batch id: nothing written, version unchanged
    assert delta_ingest_batch(batch1, 0, tbl, "t-ingest") is False
    assert delta_ingest_batch(batch2, 1, tbl, "t-ingest") is False
    assert D.latest_version(tbl) == 1
    # a NEW batch id commits
    batch3 = _mk_events(spark, [(2 * 24 * 60, 9, "view", 5.0)]).withColumn(
        "event_date", F.to_date("ts")
    )
    assert delta_ingest_batch(batch3, 2, tbl, "t-ingest") is True
    assert D.latest_version(tbl) == 2
    assert D.read_delta_log(spark, tbl).count() == 5
    # restart on the same checkpoint: no new files -> no new commits
    v2 = None
    try:
        v2 = ingest_events_to_delta(spark, src, tbl, ckpt, app_id="t-ingest")
    finally:
        assert v2 == 2
    # a different app_id has its own watermark
    assert D.last_txn_version(tbl, "other-app") is None


def test_txn_watermark_survives_checkpoint(spark, tmp_path):
    from nyc_taxi_data_engineering_spark.sources import delta_log as D

    tbl = os.path.join(str(tmp_path), "txn_tbl")
    df = _mk_events(spark, [(0, 1, "click", 1.0)])
    D.write_delta(df, tbl, mode="append", txn=("app-a", 7))
    D.write_delta(df, tbl, mode="append", txn=("app-b", 3))
    D.write_checkpoint(tbl)
    D.write_delta(df, tbl, mode="append")  # post-checkpoint commit, no txn
    # replay starts from the checkpoint; both watermarks must survive
    assert D.last_txn_version(tbl, "app-a") == 7
    assert D.last_txn_version(tbl, "app-b") == 3
    # a txn bump after the checkpoint wins over the checkpointed one
    D.write_delta(df, tbl, mode="append", txn=("app-a", 9))
    assert D.last_txn_version(tbl, "app-a") == 9
