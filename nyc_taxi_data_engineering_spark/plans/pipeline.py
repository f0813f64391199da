"""End-to-end medallion pipeline (reference §3.1's orchestrated DAG,
rebuilt per SURVEY §3.1 "Rebuild shape"): raw → validated(+quarantine,
metrics) → governance gate → curated (dim-enriched) → analytics
(daily revenue), with lineage rows per hop and data-at-rest coupling
between every stage.

Zone layout under ``out_root``::

    validated/trips/run_date=YYYY-MM-DD/*.parquet
    quarantine/trips/*.parquet
    audit/metrics/validate/*.json
    curated/trips/*.parquet
    analytics/daily_revenue/*.parquet
    governance/lineage/*.parquet
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import Zone, load_table, zone_path
from nyc_taxi_data_engineering_spark.operators.enrich import DimSpec, enrich_with_dims
from nyc_taxi_data_engineering_spark.operators.revenue import daily_vendor_revenue
from nyc_taxi_data_engineering_spark.operators.validate import (
    add_run_metadata,
    metrics_row,
    observe_valid,
    validate_split,
)
from nyc_taxi_data_engineering_spark.plans.governance import governance_gate
from nyc_taxi_data_engineering_spark.plans.lineage import LineageHop, lineage_table
from nyc_taxi_data_engineering_spark.plans.orchestrator import (
    Pipeline,
    PipelineHalt,
    StageOutput,
)
from nyc_taxi_data_engineering_spark.queries.validation import lineitem_checks
from nyc_taxi_data_engineering_spark.schemas import RUN_METRICS_SCHEMA
from nyc_taxi_data_engineering_spark.sources import write_json_metrics, write_parquet


@dataclass
class PipelineConfig:
    sf_dir: str
    out_root: str
    run_id: str = "r1"
    run_date: str = "2024-01-01"
    quality_threshold: float = 75.0


def build_pipeline(spark: SparkSession, cfg: PipelineConfig) -> Pipeline:
    hops: list[LineageHop] = []

    def _hop(stage: str, src_layer: str, src: str, dst_layer: str, dst: str, tname: str) -> None:
        hops.append(
            LineageHop(
                pipeline_name="medallion_demo", pipeline_stage=stage,
                source_layer=src_layer, source_dataset=src,
                dataset_layer=dst_layer, dataset_name=dst,
                transformation_name=tname, transformation_type="batch_etl",
                created_at=f"{cfg.run_date} 00:00:00",
            )
        )

    def stage_validate(ctx: dict[str, Any]):
        raw = load_table(spark, cfg.sf_dir, "lineitem")
        split = validate_split(raw, lineitem_checks())
        # The run counts ride the valid write (one scan-filter-sort-write
        # stage) instead of an aggregate that would scan the input again.
        observed = Observation()
        valid = add_run_metadata(observe_valid(split, observed), cfg.run_id, cfg.run_date)
        out = zone_path(cfg.out_root, Zone.VALIDATED, "trips")
        write_parquet(valid, out, partition_by=["run_date"])
        write_parquet(split.quarantine, zone_path(cfg.out_root, Zone.QUARANTINE, "trips"))
        counts = observed.get
        write_json_metrics(metrics_row(spark, cfg.run_id, "validate", counts),
                           zone_path(cfg.out_root, Zone.AUDIT, "metrics/validate"))
        _hop("validate", "raw", "lineitem", "validated", "trips", "validate_and_split")
        return StageOutput(out, rows_in=counts["records_read"], rows_out=counts["records_valid"])

    def stage_gate(ctx: dict[str, Any]):
        metrics = spark.read.schema(RUN_METRICS_SCHEMA).json(
            zone_path(cfg.out_root, Zone.AUDIT, "metrics/validate")
        )
        decision = governance_gate(metrics, cfg.quality_threshold).collect()[0]
        if decision["decision"] != "PASS":
            raise PipelineHalt(
                f"governance gate FAIL: quality {decision['quality_pct']} < "
                f"{cfg.quality_threshold}"
            )
        return decision["quality_pct"]

    def stage_curate(ctx: dict[str, Any]):
        validated = spark.read.parquet(ctx["validate"])
        sup = load_table(spark, cfg.sf_dir, "supplier")
        nation = load_table(spark, cfg.sf_dir, "nation")
        supp_dim = sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey).select(
            "s_suppkey", F.col("n_name").alias("nation_name")
        )
        spec = DimSpec(dim=supp_dim, fact_key="l_suppkey", dim_key="s_suppkey",
                       prefix="supp", carry=("nation_name",))
        curated = (
            enrich_with_dims(validated, [spec])
            .withColumn("data_source", F.lit("SYNTH_TPCH"))
            .withColumn("curated_ts", F.lit(f"{cfg.run_date} 00:00:00").cast("timestamp"))
        )
        out = zone_path(cfg.out_root, Zone.CURATED, "trips")
        write_parquet(curated, out)
        _hop("curate", "validated", "trips", "curated", "trips", "enrich_with_dims")
        return out

    def stage_analytics(ctx: dict[str, Any]):
        curated = spark.read.parquet(ctx["curate"])
        sup = load_table(spark, cfg.sf_dir, "supplier")
        agg = daily_vendor_revenue(
            fact=curated,
            vendors=sup.withColumnRenamed("s_suppkey", "l_suppkey"),
            vendor_key="l_suppkey",
            ts_col="l_shipdate",
            amount_col=F.col("l_extendedprice") * (1 - F.col("l_discount")),
        )
        out = zone_path(cfg.out_root, Zone.ANALYTICS, "daily_revenue")
        write_parquet(agg, out)
        _hop("aggregate", "curated", "trips", "analytics", "daily_revenue",
             "daily_vendor_revenue")
        return out

    def stage_lineage(ctx: dict[str, Any]):
        out = zone_path(cfg.out_root, Zone.GOVERNANCE, "lineage")
        write_parquet(lineage_table(spark, hops), out)
        return out

    return (
        Pipeline("medallion_demo")
        .add("validate", stage_validate)
        .add("gate", stage_gate)
        .add("curate", stage_curate)
        .add("analytics", stage_analytics)
        .add("lineage", stage_lineage)
    )


def run_pipeline(spark: SparkSession, cfg: PipelineConfig):
    return build_pipeline(spark, cfg).run({})
