"""Master-record lifecycle state machine (reference C6:
lifecycle_management.py:105-268).

States PROPOSED → ACTIVE → DEPRECATED → RETIRED with guarded
transitions: a row whose state may not move to the target is left
as it is, and an unknown target state raises. The reference mutates a pandas
frame row-by-row; here a transition is one vectorized conditional
update over the master DataFrame plus append-only history / change-log
rows (reference T2) — no driver-side iteration, so a transition over a
billion-row master is a single map-stage job.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STATES = ("PROPOSED", "ACTIVE", "DEPRECATED", "RETIRED")

# state -> states it may move to (reference lifecycle_management.py:105-165)
ALLOWED = {
    "PROPOSED": {"ACTIVE"},
    "ACTIVE": {"DEPRECATED"},
    "DEPRECATED": {"RETIRED", "ACTIVE"},  # reactivation allowed, retirement terminal
    "RETIRED": set(),
}


class InvalidTransition(RuntimeError):
    pass


@dataclass
class TransitionResult:
    master: DataFrame  # updated master
    history: DataFrame  # append-only rows: key, old_state, new_state, actor, ts


def lifecycle_transition(
    master: DataFrame,
    key: str,
    predicate: Column,
    new_state: str,
    actor: str,
    ts: str,
) -> TransitionResult:
    """Move every row matching ``predicate`` to ``new_state``. Matched
    rows in a state that may not transition to ``new_state`` are
    skipped (no-op), where the reference's guard raised."""
    if new_state not in STATES:
        raise InvalidTransition(f"unknown state {new_state!r}; states: {STATES}")
    legal_sources = [s for s, dests in ALLOWED.items() if new_state in dests]
    matched = master.filter(predicate)
    state_col = "lifecycle_state"
    move = predicate & F.col(state_col).isin(legal_sources)
    updated = master.withColumn(
        state_col, F.when(move, F.lit(new_state)).otherwise(F.col(state_col))
    ).withColumn(
        "state_changed_at",
        F.when(move, F.lit(ts).cast("timestamp")).otherwise(
            F.col("state_changed_at")
            if "state_changed_at" in master.columns
            else F.lit(None).cast("timestamp")
        ),
    )
    history = (
        matched.filter(F.col(state_col).isin(legal_sources))
        .select(
            F.col(key),
            F.col(state_col).alias("old_state"),
            F.lit(new_state).alias("new_state"),
            F.lit(actor).alias("changed_by"),
            F.lit(ts).cast("timestamp").alias("changed_at"),
        )
    )
    return TransitionResult(master=updated, history=history)


def lifecycle_tally(master: DataFrame) -> DataFrame:
    """State-population metrics (reference A9:
    lifecycle_management.py:256-268)."""
    return master.groupBy("lifecycle_state").agg(F.count(F.lit(1)).alias("record_count"))
