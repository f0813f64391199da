"""Temporal joins: point-in-time (as-of) enrichment against versioned
tables — the operator that makes SCD2 masters (operators/scd2.py)
usable for training-data correctness ("what did this entity look like
WHEN the event happened", no feature leakage from the future).

Spark has no built-in as-of join. ``point_in_time_join`` serves
interval tables (SCD2's effective_start/end): an equi-join on the
entity key plus an interval predicate. Because SCD2 intervals are
disjoint per key, each left row matches at most one version — exact,
no dedup needed. The equi key keeps it a hash/sort-merge join (the
range predicate is a post-join filter on co-partitioned data), so it
scales like any keyed join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def point_in_time_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
) -> DataFrame:
    """Join each left row to the right-side version whose validity
    interval contains the left timestamp: start <= ts < end."""
    lft, rgt = left.alias("l"), right.alias("r")
    cond = (
        (F.col(f"l.{left_key}") == F.col(f"r.{right_key}"))
        & (F.col("r.effective_start_ts") <= F.col(f"l.{left_ts}"))
        & (F.col(f"l.{left_ts}") < F.col("r.effective_end_ts"))
    )
    return lft.join(rgt, cond, "inner")


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    start_col: str,
    end_col: str,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """KEYLESS interval-containment join: each left row matched to
    every right interval with ``start <= ts < end`` (intervals may
    overlap — a row can match several).

    Without an equi key, Catalyst can only plan ``l.ts BETWEEN r.lo
    AND r.hi`` as a (broadcast) nested-loop — rows x intervals
    comparisons, a non-starter at corpus scale. This rewrites the
    range predicate into an equi-join on a derived time bucket:
    intervals explode to one row per ``bucket_seconds`` grain they
    overlap, left rows compute their single containing bucket, and the
    exact predicate runs as a post-join filter. Each match surfaces
    exactly once (the left row has ONE bucket), so no dedup pass.

    Cost model: the right side inflates by ~(interval span / grain),
    the left side not at all — pick ``bucket_seconds`` near the median
    interval span so inflation stays O(1). Requires
    ``start <= end`` on every right row (``sequence`` would fail on a
    negative step).
    """
    g = int(bucket_seconds)
    lft = left.withColumn(
        "_rj_bucket", F.floor(F.unix_timestamp(F.col(left_ts)) / g)
    ).alias("_rjl")
    rgt = right.withColumn(
        "_rj_bucket",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start_col)) / g),
                F.floor(F.unix_timestamp(F.col(end_col)) / g),
            )
        ),
    ).alias("_rjr")
    cond = (
        (F.col("_rjl._rj_bucket") == F.col("_rjr._rj_bucket"))
        & (F.col(f"_rjr.{start_col}") <= F.col(f"_rjl.{left_ts}"))
        & (F.col(f"_rjl.{left_ts}") < F.col(f"_rjr.{end_col}"))
    )
    return lft.join(rgt, cond, "inner").drop("_rj_bucket")
