"""Governance gate (reference C8): a data-driven PASS/FAIL decision over
run metrics — the Spark re-expression of the DQ Lambda
(lambda/dq-governance-gate/lambda_function.py:39-120, lambda.py:49-116).

The gate consumes the run-metrics table (records_read/valid/quarantined),
computes quality %, and emits one decision row per run. Stage coupling is
data-at-rest exactly like the reference: the gate never shares memory with
the producing job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.functions import pct


def governance_gate(run_metrics: DataFrame, quality_threshold: float = 95.0) -> DataFrame:
    """Per-run decision: quality_pct = valid/read*100 vs threshold.

    Output: run_id, job_name, records_read, records_valid,
    records_quarantined, quality_pct, threshold, decision (PASS|FAIL).
    """
    return (
        run_metrics.withColumn(
            "quality_pct", pct(F.col("records_valid"), F.col("records_read"))
        )
        .withColumn("threshold", F.lit(float(quality_threshold)))
        .withColumn(
            "decision",
            F.when(
                F.coalesce(F.col("quality_pct"), F.lit(0.0)) >= F.col("threshold"), F.lit("PASS")
            ).otherwise(F.lit("FAIL")),
        )
        .select(
            "run_id", "job_name", "records_read", "records_valid",
            "records_quarantined", "quality_pct", "threshold", "decision",
        )
    )


FRESH_MAX_AGE_DAYS = 30


def freshness_gate(df: DataFrame, ts_col: str, dataset: str, as_of: str) -> DataFrame:
    """Reference-data staleness check (reference lambda.py:21-28,96-108:
    newest reference file older than FRESH_MAX_AGE_DAYS days ⇒ stale
    alert), re-expressed
    over a timestamp/date column: one row with the newest timestamp, its
    age in days as of ``as_of`` (injected clock — determinism per SURVEY
    §7.4.1), and a FRESH/STALE decision. An aggregate-only plan: the
    max() is a partial+final agg, no shuffle of data rows."""
    age = F.datediff(F.lit(as_of).cast("date"), F.col("newest_ts").cast("date"))
    return (
        df.agg(F.max(F.col(ts_col).cast("timestamp")).alias("newest_ts"))
        .select(
            F.lit(dataset).alias("dataset"),
            F.date_format("newest_ts", "yyyy-MM-dd HH:mm:ss").alias("newest_ts"),
            age.cast("int").alias("age_days"),
            F.lit(FRESH_MAX_AGE_DAYS).alias("max_age_days"),
            F.when(age <= FRESH_MAX_AGE_DAYS, F.lit("FRESH"))
            .otherwise(F.lit("STALE"))
            .alias("decision"),
        )
    )
