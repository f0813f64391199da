"""Structured Streaming tests: the streaming plans are the SAME
builders the oracle-checked batch twins use, so these tests close the
loop — stream output must equal batch output on identical data, the
watermark must drop late rows across a checkpointed restart, and the
custom stateful operator must reproduce the batch aggregate."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.streaming import tumbling_event_stats
from nyc_taxi_data_engineering_spark.streaming.runner import (
    EVENTS_SCHEMA,
    read_events_stream,
    run_available_now,
)
from nyc_taxi_data_engineering_spark.streaming.stateful import running_user_totals
from nyc_taxi_data_engineering_spark.streaming.windows import with_watermark


def _mk_events(spark, rows):
    data = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m), uid, et, v, "{}")
        for i, (m, uid, et, v) in enumerate(rows)
    ]
    return spark.createDataFrame(data, EVENTS_SCHEMA)


def _write_batch(df, path):
    df.coalesce(1).write.mode("append").parquet(path)


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
    run_available_now(
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


def test_stateful_running_totals_match_batch(spark, stream_dirs):
    src, ckpt = stream_dirs
    events = _mk_events(
        spark,
        [(0, 1, "click", 1.5), (10, 1, "view", 2.5), (20, 2, "click", 7.0), (30, 1, "click", 3.0)],
    )
    _write_batch(events, src)

    run_available_now(
        running_user_totals(read_events_stream(spark, src)),
        "t_state",
        ckpt,
        output_mode="update",
    )
    # latest state row per user must equal the batch aggregate
    got = {
        r["user_id"]: (r["n_events"], r["sum_value"], r["last_ts"])
        for r in spark.sql(
            "SELECT user_id, n_events, sum_value, last_ts FROM ("
            "  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) AS rn"
            "  FROM t_state) WHERE rn = 1"
        ).collect()
    }
    want = {
        r["user_id"]: (r["n"], r["s"], r["m"])
        for r in spark.read.parquet(src)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"), F.max("ts").alias("m"))
        .collect()
    }
    assert got == want


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

    run_available_now(
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
    run_available_now(
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
    run_available_now(
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


def test_incremental_rollup_equals_batch_recompute(spark, stream_dirs):
    """The maintained rollup after N micro-batches must equal the
    from-scratch aggregate over all ingested data — regardless of how
    rows were chunked into batches."""
    from nyc_taxi_data_engineering_spark.streaming.rollup import RollupTable

    src, ckpt = stream_dirs
    table = os.path.join(os.path.dirname(ckpt), "rollup")
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    _write_batch(_mk_events(spark, [(0, 1, "click", 1.5), (10, 2, "view", 2.0)]), src)
    _write_batch(_mk_events(spark, [(20, 1, "click", 3.25), (30, 1, "view", 4.0)]), src)

    rt = RollupTable(spark, table, ["user_id", "event_type"], "value")
    rt.sink(read_events_stream(spark, src, max_files_per_trigger=1), ckpt)

    got = {
        (r["user_id"], r["event_type"]): (r["n_events"], float(r["sum_value"]))
        for r in rt.read().collect()
    }
    want = {
        (r["user_id"], r["event_type"]): (r["n"], float(r["s"]))
        for r in spark.read.parquet(src)
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want and len(got) == 3


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


def test_streaming_delta_upsert_exactly_once(spark, tmp_path):
    """foreachBatch MERGE upsert: per-batch latest-wins by key, the
    first batch bootstraps the table, replayed batch ids are skipped
    via the txn watermark, and a second app's batches interleave on
    their own watermark."""
    from nyc_taxi_data_engineering_spark.sources import delta_log as D
    from nyc_taxi_data_engineering_spark.streaming.delta_ingest import (
        delta_upsert_batch,
    )

    tbl = str(tmp_path / "cdc")
    b0 = spark.createDataFrame([(1, "a0"), (2, "b0")], "k long, v string")
    b1 = spark.createDataFrame([(2, "b1"), (3, "c1")], "k long, v string")
    assert delta_upsert_batch(b0, 0, tbl, "cdc-app", on="k") is True  # bootstrap
    assert delta_upsert_batch(b1, 1, tbl, "cdc-app", on="k") is True  # merge
    got = {r["k"]: r["v"] for r in D.read_delta_log(spark, tbl).collect()}
    assert got == {1: "a0", 2: "b1", 3: "c1"}
    # crash recovery: both batch ids replay -> skipped, table unchanged
    v_before = D.latest_version(tbl)
    assert delta_upsert_batch(b0, 0, tbl, "cdc-app", on="k") is False
    assert delta_upsert_batch(b1, 1, tbl, "cdc-app", on="k") is False
    assert D.latest_version(tbl) == v_before
    assert {r["k"]: r["v"] for r in D.read_delta_log(spark, tbl).collect()} == got
    # an independent app id has its own watermark
    b_other = spark.createDataFrame([(1, "z9")], "k long, v string")
    assert delta_upsert_batch(b_other, 0, tbl, "other-app", on="k") is True
    assert {r["k"]: r["v"] for r in D.read_delta_log(spark, tbl).collect()}[1] == "z9"
    # MERGE commits carry the txn marker in-log
    assert D.last_txn_version(tbl, "cdc-app") == 1
    assert D.last_txn_version(tbl, "other-app") == 0


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, stream_dirs):
    """The left-outer interval join must emit a NULL-matched row for a
    click that converted to nothing — but only after the watermark
    passes click_ts + horizon, and only in a micro-batch AFTER the one
    that advanced the watermark. Three single-file micro-batches: data,
    a far-future heartbeat that advances the watermark, and a second
    heartbeat that gives Spark the batch in which to flush the outer
    row. The final streamed set must equal the batch left outer join."""
    from nyc_taxi_data_engineering_spark.streaming.ingest import (
        attribute_clicks_left_outer,
    )

    src, ckpt = stream_dirs
    _write_batch(
        _mk_events(
            spark,
            [
                (0, 1, "click", 0.0),      # converts (+30min purchase)
                (30, 1, "purchase", 5.0),
                (5, 2, "click", 0.0),      # converts to NOTHING
            ],
        ),
        src,
    )
    # heartbeats 24h/25h later on BOTH sides: the global watermark is
    # the MIN over every watermark operator, so a click-only heartbeat
    # would leave the purchase-side watermark at -1.5h and the outer
    # rows would never flush (the first version of this test proved it)
    _write_batch(
        _mk_events(spark, [(24 * 60, 9, "click", 0.0), (24 * 60, 9, "purchase", 0.0)]),
        src,
    )
    _write_batch(
        _mk_events(spark, [(25 * 60, 9, "click", 0.0), (25 * 60, 9, "purchase", 0.0)]),
        src,
    )

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    batch_rows = {
        (r["click_id"], r["purchase_id"])
        for r in attribute_clicks_left_outer(*split(spark.read.parquet(src))).collect()
        # the heartbeats are matched user-9 pairs and _mk_events
        # restarts event_ids per file, so key on user: compare only the
        # users whose clicks the watermark finalized
        if r["user_id"] in (1, 2)
    }
    run_available_now(
        attribute_clicks_left_outer(
            *split(read_events_stream(spark, src, max_files_per_trigger=1))
        ),
        "t_ssjoin_lo",
        ckpt,
        output_mode="append",
    )
    stream_rows = {
        (r["click_id"], r["purchase_id"])
        for r in spark.sql("SELECT * FROM t_ssjoin_lo").collect()
        if r["user_id"] in (1, 2)
    }
    assert stream_rows == batch_rows == {(0, 1), (2, None)}


def test_transform_with_state_matches_batch(spark, stream_dirs):
    """The Spark 4 transformWithStateInPandas surface, tested BOTH ways
    so nothing is skipped: with google.protobuf available, running
    totals through the new StatefulProcessor must equal the batch
    aggregate (and therefore the applyInPandasWithState twin); without
    it (this container), the documented contract is that execution
    fails LOUDLY with the missing-module error — the plan builds fine,
    so a silent skip here would hide an operator that can never run."""
    try:
        import google.protobuf  # noqa: F401

        has_protobuf = True
    except ImportError:
        has_protobuf = False
    from nyc_taxi_data_engineering_spark.streaming.stateful import (
        ROCKSDB_PROVIDER,
        running_user_totals_tws,
    )

    src, ckpt = stream_dirs
    events = _mk_events(
        spark,
        [(0, 1, "click", 1.0), (5, 2, "view", 2.5), (9, 1, "click", 4.0), (12, 2, "view", 0.5)],
    )
    _write_batch(events, src)
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    try:
        stream = running_user_totals_tws(read_events_stream(spark, src))
        if not has_protobuf:
            # the protobuf ImportError happens inside the state-server
            # worker; the JVM surfaces it as a TransformWithState
            # worker-crash StreamingQueryException — loud, query dead
            with pytest.raises(
                Exception, match=r"(?i)protobuf|google|TransformWithState"
            ):
                run_available_now(stream, "tws_totals", ckpt, output_mode="update")
            return
        run_available_now(stream, "tws_totals", ckpt, output_mode="update")
        latest = {
            r["user_id"]: r
            for r in spark.table("tws_totals").orderBy("last_ts").collect()
        }
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    batch = {
        r["user_id"]: r
        for r in events.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(latest) == set(batch)
    for uid, b in batch.items():
        assert latest[uid]["n_events"] == b["n"]
        assert abs(latest[uid]["sum_value"] - b["s"]) < 1e-9
