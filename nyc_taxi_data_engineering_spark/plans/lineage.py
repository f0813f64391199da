"""Lineage emission (reference C9:
lambda/write_data_lineage/lambda_function.py:14-55,
governance/lineage_schema.json:1-15).

One append-only row per pipeline hop; coupling between stages stays
data-at-rest exactly like the reference (SURVEY §3.1 step 4's key
design fact) — the lineage table is an audit artifact, never a control
channel.
"""

from __future__ import annotations

from dataclasses import astuple, dataclass

from pyspark.sql import DataFrame, SparkSession

from nyc_taxi_data_engineering_spark.schemas import LINEAGE_SCHEMA


@dataclass(frozen=True)
class LineageHop:
    pipeline_name: str
    pipeline_stage: str
    source_layer: str
    source_dataset: str
    dataset_layer: str
    dataset_name: str
    transformation_name: str
    transformation_type: str
    created_by: str = "engine"
    created_at: str = "1970-01-01 00:00:00"  # injected clock
    is_active: bool = True
    lineage_version: int = 1


def lineage_table(spark: SparkSession, hops: list[LineageHop]) -> DataFrame:
    """One row per hop, in one partition. The rows go to the JVM as Arrow
    from pandas, which yields a LocalRelation: no Python worker starts, as
    it would for ``createDataFrame`` over Python rows. ``created_at`` is
    read in the session time zone."""
    import pandas as pd

    rows = pd.DataFrame([astuple(h) for h in hops], columns=LINEAGE_SCHEMA.fieldNames())
    rows["created_at"] = pd.to_datetime(rows["created_at"])
    return spark.createDataFrame(rows, LINEAGE_SCHEMA).coalesce(1)
