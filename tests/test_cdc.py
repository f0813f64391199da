"""Unit tests for the CDC latest-wins apply operator."""

from __future__ import annotations

from nyc_taxi_data_engineering_spark.operators.cdc import apply_cdc, latest_changes


def _base(spark):
    return spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], "k int, v string"
    )


def test_latest_change_wins_per_key(spark):
    changes = spark.createDataFrame(
        [(1, 1, "U", "a"), (1, 3, "U", "c"), (1, 2, "U", "b")],
        "k int, seq int, op string, v string",
    )
    got = latest_changes(changes, "k", "seq").collect()
    assert len(got) == 1 and got[0]["v"] == "c"


def test_apply_cdc_update_delete_insert_passthrough(spark):
    changes = spark.createDataFrame(
        [
            (1, 1, "U", "one-v2"),   # update existing
            (2, 1, "D", None),        # delete existing
            (9, 1, "I", "nine"),      # insert new key
        ],
        "k int, seq int, op string, v string",
    )
    got = {r["k"]: r["v"] for r in apply_cdc(_base(spark), changes, "k", "seq", "op", ["v"]).collect()}
    assert got == {1: "one-v2", 3: "three", 9: "nine"}


def test_apply_cdc_insert_then_delete_never_appears(spark):
    """A key inserted and deleted within the same batch must be absent
    — the latest op (D) wins over the earlier I."""
    changes = spark.createDataFrame(
        [(9, 1, "I", "nine"), (9, 2, "D", None)],
        "k int, seq int, op string, v string",
    )
    got = {r["k"] for r in apply_cdc(_base(spark), changes, "k", "seq", "op", ["v"]).collect()}
    assert got == {1, 2, 3}


def test_apply_cdc_delete_then_reinsert_survives(spark):
    changes = spark.createDataFrame(
        [(2, 1, "D", None), (2, 2, "I", "two-back")],
        "k int, seq int, op string, v string",
    )
    got = {r["k"]: r["v"] for r in apply_cdc(_base(spark), changes, "k", "seq", "op", ["v"]).collect()}
    assert got[2] == "two-back"


def test_apply_cdc_base_never_shuffles(spark):
    """With broadcast_changes=True the base side must join by broadcast
    anti-join — no exchange of the base table (the 100 TB side)."""
    base = _base(spark)
    changes = spark.createDataFrame(
        [(1, 1, "U", "x")], "k int, seq int, op string, v string"
    )
    plan = (
        apply_cdc(base, changes, "k", "seq", "op", ["v"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
