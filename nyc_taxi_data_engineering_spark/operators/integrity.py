"""Referential-integrity gate family (reference C3/J3/J4/J5/T1).

The reference keeps fact rows whose FK exists in a master dim via a
broadcast inner join (glue_jobs/glue_mdm.py:18-37) and quarantines
orphans via left_anti (glue_mdm.py:40-44). At 100 TB the dim side is
the small one by construction (master data), so the broadcast hint is
load-bearing: both branches avoid shuffling the fact table entirely.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.functions import pct


@dataclass
class RIGateResult:
    kept: DataFrame
    orphans: DataFrame


def ri_gate(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
) -> RIGateResult:
    """Split fact into FK-satisfying rows vs orphans.

    Semi join (not inner) for `kept` so duplicate dim keys can never
    fan out fact rows — fixing the reference's inner-join variant
    (Glue Job.py:48-52) while keeping identical semantics on unique
    dims. Both sides broadcast the same projected dim.
    """
    keys = F.broadcast(dim.select(F.col(dim_key).alias(fact_key)).distinct())
    kept = fact.join(keys, on=fact_key, how="left_semi")
    orphans = fact.join(keys, on=fact_key, how="left_anti")
    return RIGateResult(kept=kept, orphans=orphans)


def fk_null_audit(fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str) -> DataFrame:
    """Count of fact rows with no dim match (reference J5:
    sql/quality_checks/qc_vendor_fk.sql:26-30), as a 1-row DataFrame."""
    orphans = ri_gate(fact, dim, fact_key, dim_key).orphans
    return orphans.agg(F.count(F.lit(1)).alias("orphan_count"))


def except_quarantine(all_rows: DataFrame, valid_rows: DataFrame) -> DataFrame:
    """Set-difference quarantine (reference T1: Glue Job.py:57
    `subtract`). Requires identical schemas — the reference bug
    (extra join column on the valid side, SURVEY §7.4.4) is prevented
    by projecting valid back to all_rows' columns first."""
    return all_rows.subtract(valid_rows.select(*all_rows.columns))


def integrity_scorecard(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str, dataset: str
) -> DataFrame:
    """Match-rate scorecard (reference glue_mdm.py:56-65): total, matched,
    orphaned, match_pct — one aggregate over a broadcast-left-joined scan
    instead of two count() actions."""
    keys = dim.select(F.col(dim_key).alias(fact_key), F.lit(True).alias("_hit")).distinct()
    joined = fact.join(F.broadcast(keys), on=fact_key, how="left")
    return joined.agg(
        F.lit(dataset).alias("dataset"),
        F.count(F.lit(1)).alias("total_records"),
        F.coalesce(F.sum(F.when(F.col("_hit"), 1).otherwise(0)), F.lit(0)).alias("matched_records"),
        F.coalesce(F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0)), F.lit(0)).alias(
            "orphan_records"
        ),
    ).withColumn("match_pct", pct(F.col("matched_records"), F.col("total_records")))
