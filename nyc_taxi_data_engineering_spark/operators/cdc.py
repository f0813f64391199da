"""CDC (change-data-capture) apply: merge an out-of-order stream of
I/U/D change records into a base snapshot, latest-wins per key.

This generalizes the SCD2 merge (operators/scd2.py, reference
glue_jobs/scd2_delta_vendors.py) to the op-coded change-log shape every
CDC source (Debezium, DMS, binlog readers) emits: each record carries a
key, a monotonically increasing sequence (LSN / binlog position /
commit ts), an op in {I, U, D}, and the full row image.

Scale design:
- latest-change-per-key is one row_number window partitioned by key —
  a single hash shuffle of the CHANGE BATCH (not the base table).
- the base table is touched only by a left-anti join on the changed
  keys; with the change batch broadcast (typical: changes << base)
  the base never shuffles at all. A 100 TB base + 1 GB of changes is
  one broadcast anti-join and a union.
- deletes drop out by filtering the surviving op, so tombstones never
  reach the output.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

OP_INSERT, OP_UPDATE, OP_DELETE = "I", "U", "D"


def latest_changes(changes: DataFrame, key: str, seq_col: str) -> DataFrame:
    """One surviving change per key: highest ``seq_col`` wins."""
    w = Window.partitionBy(key).orderBy(F.col(seq_col).desc())
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    seq_col: str,
    op_col: str,
    payload_cols: Sequence[str],
) -> DataFrame:
    """Apply a CDC batch to ``base``; returns the post-merge snapshot
    with columns (key, *payload_cols).

    Semantics: for each key, only its LATEST change (by ``seq_col``)
    matters — intermediate updates are superseded, and a key whose
    latest op is D disappears even if earlier ops inserted it. Keys
    untouched by the batch pass through unchanged.
    """
    latest = latest_changes(changes, key, seq_col)
    changed_keys = F.broadcast(latest.select(key))
    untouched = base.select(key, *payload_cols).join(changed_keys, key, "left_anti")
    survivors = latest.filter(F.col(op_col) != OP_DELETE).select(key, *payload_cols)
    return untouched.unionByName(survivors)
