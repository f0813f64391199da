"""Schema enforcement + validity split (reference C1/P1–P5).

The reference's validate stage (glue_jobs/nyc_raw_to_validated_etl.py:43-96)
cast-projects raw rows into a fixed schema, derives a validity flag via a
when/otherwise chain, splits good/bad, and writes metrics. Here each piece
is a pure function. Both branches filter the same flagged frame and the
flag expression stays in whole-stage codegen, but each branch written is
its own action with its own scan: writing both zones reads the input
twice. The medallion validate stage takes its run counts from the valid
write as an Observation (`observe_valid` + `metrics_row`), so it reads
its input twice in all (plans.validate_read_multiplicity 2.0 in the
benchmark); `split_metrics` beside those writes would read it a third
time.
"""

from __future__ import annotations

import re
from collections.abc import Mapping, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def cast_projection(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Enforce a schema by explicit cast-select (reference P1:
    nyc_raw_to_validated_etl.py:43-62). Missing columns become typed
    NULLs so downstream predicates see a stable shape."""
    cols = []
    present = {c.lower() for c in df.columns}
    for field in schema.fields:
        if field.name.lower() in present:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def clean_column_names(df: DataFrame) -> DataFrame:
    """Column-name normalization (reference P2:
    nyc_validated_to_curated_etl.py:31-53): trim → non-alnum→_ →
    collapse _ → lowercase → dedupe with _n suffix. One `toDF`, no
    per-column rename loop (each withColumnRenamed is a new plan node)."""
    cleaned: list[str] = []
    seen: dict[str, int] = {}
    for name in df.columns:
        c = re.sub(r"[^0-9a-zA-Z]+", "_", name.strip())
        c = re.sub(r"_+", "_", c).strip("_").lower() or "col"
        n = seen.get(c, 0)
        seen[c] = n + 1
        cleaned.append(c if n == 0 else f"{c}_{n}")
    return df.toDF(*cleaned)


def require_columns(df: DataFrame, cols: Sequence[str]) -> None:
    """Assertion helper (reference P3: nyc_validated_to_curated_etl.py:25-28)."""
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"missing required columns: {missing}; have {df.columns}")


def validity_flag(checks: Mapping[str, Column]) -> Column:
    """Conjunction of named pass-predicates (reference P4's CASE chain,
    nyc_raw_to_validated_etl.py:67-74). NULL-safe: a NULL predicate
    result counts as a failure."""
    flag = F.lit(True)
    for pred in checks.values():
        flag = flag & F.coalesce(pred, F.lit(False))
    return flag


def failure_reason(checks: Mapping[str, Column]) -> Column:
    """First failing check name, NULL when all pass — the quarantine
    `reason` column (mirrors the reference's ordered when-chain)."""
    reason: Column = F.lit(None).cast("string")
    for name, pred in reversed(list(checks.items())):
        reason = F.when(~F.coalesce(pred, F.lit(False)), F.lit(name)).otherwise(reason)
    return reason


@dataclass
class SplitResult:
    valid: DataFrame
    quarantine: DataFrame
    flagged: DataFrame  # input + is_valid + reason, pre-split


def validate_split(df: DataFrame, checks: Mapping[str, Column]) -> SplitResult:
    """Good/bad split on a validity flag (reference P5:
    nyc_raw_to_validated_etl.py:76-77). Quarantined rows keep the
    failure reason for stewardship."""
    flagged = df.withColumn("is_valid", validity_flag(checks)).withColumn(
        "reason", failure_reason(checks)
    )
    quarantine = flagged.filter(~F.col("is_valid")).drop("is_valid")
    return SplitResult(valid=_valid_rows(flagged), quarantine=quarantine, flagged=flagged)


def _valid_rows(flagged: DataFrame) -> DataFrame:
    return flagged.filter(F.col("is_valid")).drop("is_valid", "reason")


def add_run_metadata(df: DataFrame, run_id: str, run_date: str) -> DataFrame:
    """Constant pipeline-metadata columns (reference P9:
    nyc_raw_to_validated_etl.py:82-88). run_date is the partition column."""
    return df.withColumn("run_id", F.lit(run_id)).withColumn(
        "run_date", F.lit(run_date).cast("date")
    )


def _split_counts() -> list[Column]:
    """records_read / records_valid / records_quarantined aggregates over a
    flagged frame — conditional sums, not three count() actions. Exact:
    `is_valid` is never NULL (validity_flag coalesces), so valid +
    quarantined = read."""
    return [
        F.count(F.lit(1)).alias("records_read"),
        F.coalesce(F.sum(F.when(F.col("is_valid"), F.lit(1)).otherwise(F.lit(0))), F.lit(0)).alias(
            "records_valid"
        ),
        F.coalesce(F.sum(F.when(~F.col("is_valid"), F.lit(1)).otherwise(F.lit(0))), F.lit(0)).alias(
            "records_quarantined"
        ),
    ]


def _with_status(metrics: DataFrame) -> DataFrame:
    return metrics.withColumn(
        "status",
        F.when(F.col("records_quarantined") == 0, F.lit("CLEAN")).otherwise(F.lit("PARTIAL")),
    )


def split_metrics(flagged: DataFrame, run_id: str, job_name: str) -> DataFrame:
    """Run-metrics row (reference S6/S11: nyc_raw_to_validated_etl.py:106-115)
    as one aggregate over the flagged frame. That aggregate is a scan of
    its own: next to writes of the split it reads the input once more.
    Its callers are the registry queries validate_split_metrics and
    governance_gate_decision, where it is the only action; the medallion
    pipeline takes the same counts from its valid write instead
    (`observe_valid`, `metrics_row`)."""
    return _with_status(
        flagged.agg(F.lit(run_id).alias("run_id"), F.lit(job_name).alias("job_name"),
                    *_split_counts())
    )


def observe_valid(split: SplitResult, observation: Observation) -> DataFrame:
    """``split.valid`` with `_split_counts` observed over the flagged rows on
    the way. The counts arrive in ``observation`` when an action over the
    result finishes — over every input row, because the observation sits
    before the validity filter. Observe a frame that one action runs in
    a single (result) stage, so its per-task updates are applied once."""
    return _valid_rows(split.flagged.observe(observation, *_split_counts()))


def metrics_row(
    spark: SparkSession, run_id: str, job_name: str, counts: Mapping[str, int]
) -> DataFrame:
    """`split_metrics`' row (same columns, types and status rule) from
    counts already in hand, e.g. ``observation.get`` after the observed
    write: a one-row frame over a one-partition range, so no input is
    read."""
    return _with_status(
        spark.range(1, numPartitions=1).select(
            F.lit(run_id).alias("run_id"),
            F.lit(job_name).alias("job_name"),
            *[F.lit(counts[c]).cast("long").alias(c)
              for c in ("records_read", "records_valid", "records_quarantined")],
        )
    )
