"""Lifecycle state-machine queries (reference C6 ↔ supplier master).

Initial states derive from account balance (ACTIVE if non-negative,
PROPOSED otherwise); one guarded transition deprecates low-balance
ACTIVE suppliers. Outcomes are pure CASE logic → fully oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table
from nyc_taxi_data_engineering_spark.operators.lifecycle import lifecycle_transition, lifecycle_tally
from nyc_taxi_data_engineering_spark.queries.registry import query

TS = "2024-06-01 00:00:00"


def _master(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    return sup.withColumn(
        "lifecycle_state",
        F.when(F.col("s_acctbal") >= 0, F.lit("ACTIVE")).otherwise(F.lit("PROPOSED")),
    )


def _transitioned(spark: SparkSession, sf_dir: str):
    master = _master(spark, sf_dir)
    # PROPOSED rows matching the predicate are skipped (only ACTIVE may
    # move to DEPRECATED).
    return lifecycle_transition(
        master,
        key="s_suppkey",
        predicate=F.col("s_acctbal") < 500,
        new_state="DEPRECATED",
        actor="governance_job",
        ts=TS,
    )


@query(
    "lifecycle_tally_suppliers",
    oracle="""
SELECT CASE WHEN s_acctbal < 0 THEN 'PROPOSED'
            WHEN s_acctbal < 500 THEN 'DEPRECATED'
            ELSE 'ACTIVE' END AS lifecycle_state,
       COUNT(*) AS record_count
FROM supplier
GROUP BY 1
""",
)
def q_lifecycle_tally_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lifecycle_tally(_transitioned(spark, sf_dir).master)


@query(
    "lifecycle_history_suppliers",
    oracle=f"""
SELECT s_suppkey, 'ACTIVE' AS old_state, 'DEPRECATED' AS new_state,
       'governance_job' AS changed_by, TIMESTAMP '{TS}' AS changed_at
FROM supplier
WHERE s_acctbal >= 0 AND s_acctbal < 500
""",
)
def q_lifecycle_history_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _transitioned(spark, sf_dir).history
