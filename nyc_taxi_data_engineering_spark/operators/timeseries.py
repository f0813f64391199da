"""Time-series regularization operators: per-key calendar spines
(gap-fill) and forward-fill of missing observations.

The reference has no time-series surface at all; its closest shape is
the per-day groupBy in the revenue ETL (nyc_curated_to_analytics.py).
These operators turn sparse per-day aggregates into dense, analysis-
ready series — the standard prerequisite for rolling windows, trend
models, and charting.

Scale design:
- The spine is built per key from that key's own [min, max] date range
  (one hash agg), then ``sequence(...)`` + ``explode`` — generation is
  distributed across keys, never a driver-side calendar. The only
  shuffles are the min/max agg and the spine←facts left join, both on
  the key.
- Forward-fill is ``last(col, ignorenulls=True)`` over a per-key
  running frame: per-key state, one window, no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def calendar_spine(df: DataFrame, key: str, date_col: str) -> DataFrame:
    """One row per (key, day) for every day in the key's observed
    [min, max] date range — including days with no source row."""
    bounds = df.groupBy(key).agg(
        F.min(date_col).alias("_d_lo"), F.max(date_col).alias("_d_hi")
    )
    return bounds.select(
        key,
        F.explode(F.sequence("_d_lo", "_d_hi", F.expr("INTERVAL 1 DAY"))).alias(date_col),
    )


def gap_fill(df: DataFrame, key: str, date_col: str, value_cols: list[str]) -> DataFrame:
    """Left-join ``df`` onto its own calendar spine: missing days get
    NULL values and ``is_gap = true``."""
    spine = calendar_spine(df, key, date_col)
    return spine.join(df, [key, date_col], "left").withColumn(
        "is_gap", F.col(value_cols[0]).isNull()
    )


def forward_fill(df: DataFrame, key: str, order_col: str, cols: list[str]) -> DataFrame:
    """Per-key forward fill: each NULL takes the most recent non-NULL
    value in ``order_col`` order (leading NULLs stay NULL)."""
    w = Window.partitionBy(key).orderBy(order_col).rowsBetween(Window.unboundedPreceding, 0)
    out = df
    for c in cols:
        out = out.withColumn(f"{c}_ff", F.last(c, ignorenulls=True).over(w))
    return out


def linear_interpolate(
    df: DataFrame, key: str, date_col: str, value_col: str, out_col: str
) -> DataFrame:
    """Per-key LINEAR interpolation across date gaps: each NULL between
    two observed values takes the straight-line value at its day offset
    (leading/trailing NULLs stay NULL — there is nothing to anchor
    them). Two per-key windows (last-non-NULL behind, first-non-NULL
    ahead, each carrying its anchor DATE in a struct) and one
    arithmetic projection; the fraction divides two exact integer day
    counts, so the interpolated doubles are bit-identical
    cross-engine. Same shuffle shape as forward_fill: one hash
    exchange on the key, windows sorted within partitions."""
    wb = Window.partitionBy(key).orderBy(date_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wf = Window.partitionBy(key).orderBy(date_col).rowsBetween(
        0, Window.unboundedFollowing
    )
    anchor = F.when(
        F.col(value_col).isNotNull(), F.struct(F.col(date_col), F.col(value_col))
    )
    prev = F.last(anchor, ignorenulls=True).over(wb)
    nxt = F.first(anchor, ignorenulls=True).over(wf)
    num = F.datediff(F.col(date_col), prev[date_col]).cast("double")
    den = F.datediff(nxt[date_col], prev[date_col]).cast("double")
    interp = prev[value_col] + (nxt[value_col] - prev[value_col]) * (num / den)
    return df.withColumn(
        out_col,
        F.when(F.col(value_col).isNotNull(), F.col(value_col)).otherwise(
            F.when(prev.isNotNull() & nxt.isNotNull(), interp)
        ),
    )
