from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.operators.lifecycle import (
    InvalidTransition,
    lifecycle_transition,
)
from nyc_taxi_data_engineering_spark.operators.scd2 import scd2_apply, scd2_verify

KEY, TRACKED = "vendor_id", ["vendor_name", "city"]
T1, T2, T3 = "2024-01-01 00:00:00", "2024-02-01 00:00:00", "2024-03-01 00:00:00"


def batch(spark, rows):
    return spark.createDataFrame(rows, "vendor_id int, vendor_name string, city string")


def test_scd2_merge_semantics(spark):
    b1 = batch(spark, [(1, "Acme", "NYC"), (2, "Globex", "LA")])
    t = scd2_apply(None, b1, KEY, TRACKED, T1)
    # batch 2: 1 changed, 2 unchanged, 3 new, plus an intra-batch duplicate of 3
    b2 = batch(spark, [(1, "Acme Corp", "NYC"), (2, "Globex", "LA"),
                       (3, "Initech", "SF"), (3, "Initech", "SF")])
    t2 = scd2_apply(t, b2, KEY, TRACKED, T2)
    rows = {(r[KEY], r["version_no"]): r for r in t2.collect()}
    assert len(rows) == 4  # v1×2 + expired→ no: (1,1),(1,2),(2,1),(3,1)
    assert rows[(1, 1)]["is_current"] is False
    assert str(rows[(1, 1)]["effective_end_ts"]) == "2024-02-01 00:00:00"
    assert rows[(1, 2)]["is_current"] is True and rows[(1, 2)]["vendor_name"] == "Acme Corp"
    assert rows[(2, 1)]["is_current"] is True  # unchanged carried over
    assert rows[(3, 1)]["is_current"] is True  # new key, deduped
    assert scd2_verify(t2, KEY).count() == 0


def test_lifecycle_strict_guard(spark):
    """An unknown target state raises; a matched row whose state may
    not move to the target (RETIRED -> DEPRECATED) is skipped."""
    master = spark.createDataFrame(
        [(1, "RETIRED"), (2, "ACTIVE")], "id int, lifecycle_state string"
    )
    with pytest.raises(InvalidTransition, match="unknown state"):
        lifecycle_transition(master, "id", F.lit(True), "ARCHIVED", "me", T1)
    res = lifecycle_transition(master, "id", F.lit(True), "DEPRECATED", "me", T1)
    states = {r["id"]: r["lifecycle_state"] for r in res.master.collect()}
    assert states == {1: "RETIRED", 2: "DEPRECATED"}
    assert res.history.count() == 1


def test_scd2_rollback_skips_keys_without_target_version(spark):
    """A rollback request naming a key with no to_version row must leave
    that key untouched (never expire-without-reinsert, which would break
    the exactly-one-current invariant)."""
    t = scd2_apply(None, batch(spark, [(1, "Acme", "NYC"), (2, "Globex", "LA")]), KEY, TRACKED, T1)
    t = scd2_apply(t, batch(spark, [(1, "Acme Corp", "NYC")]), KEY, TRACKED, T2)
    # key 2 has no version 2 -> must be untouched by a rollback to v2... use v1 target:
    # roll BOTH keys back to version 2: only key 1 has it
    from nyc_taxi_data_engineering_spark.operators.scd2 import scd2_rollback

    keys = spark.createDataFrame([(1,), (2,)], "vendor_id int")
    rolled = scd2_rollback(t, keys, KEY, to_version=2, effective_ts=T3)
    rows = {(r[KEY], r["version_no"]): r for r in rolled.collect()}
    assert rows[(2, 1)]["is_current"] is True  # untouched, still current
    assert rows[(1, 3)]["is_current"] is True and rows[(1, 3)]["vendor_name"] == "Acme Corp"
    assert scd2_verify(rolled, KEY).count() == 0


def test_scd2_verify_flags_zero_current_keys(spark):
    rows = [
        (1, "Acme", "NYC", False, 1),  # zero current rows -> violation
        (2, "Globex", "LA", True, 1),  # healthy
        (3, "Initech", "SF", True, 1),
        (3, "Initech2", "SF", True, 2),  # two current rows -> violation
    ]
    t = spark.createDataFrame(
        rows, "vendor_id int, vendor_name string, city string, is_current boolean, version_no int"
    )
    bad = {r[KEY]: r["current_rows"] for r in scd2_verify(t, KEY).collect()}
    assert bad == {1: 0, 3: 2}


def test_record_hash_null_distinct_from_empty(spark):
    from nyc_taxi_data_engineering_spark.functions import record_hash

    df = spark.createDataFrame([(None, "x"), ("", "x")], "a string, b string")
    hashes = [r["h"] for r in df.select(record_hash(["a", "b"]).alias("h")).collect()]
    assert hashes[0] != hashes[1]
