"""SCD2 queries on the star schema (reference C4/C7 ↔ customer master,
FIXTURES.md §5).

Deterministic two-batch scenario derived purely from the customer table
(injected clocks T1/T2/T3, no wall time):

- batch1 (T1) = customer as-is → everyone version 1.
- batch2 (T2) = acctbal+100 for custkey%10==0 (changed), plus brand-new
  keys custkey+1000000 for custkey%50==0.
- rollback (T3) = changed keys rolled back to version 1's values.

Every outcome is SQL-expressible with CASE over customer, so the full
merge semantics (new / changed / unchanged / expiry / version bump /
rollback-as-new-version) are oracle-checked, not just row-counted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table
from nyc_taxi_data_engineering_spark.operators import pin
from nyc_taxi_data_engineering_spark.operators.scd2 import scd2_apply, scd2_rollback, scd2_verify
from nyc_taxi_data_engineering_spark.queries.registry import query

T1, T2, T3 = "2024-01-01 00:00:00", "2024-02-01 00:00:00", "2024-03-01 00:00:00"
KEY = "c_custkey"
TRACKED = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]


def _batches(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    changed = cust.withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 10 == 0, F.col("c_acctbal") + 100).otherwise(
            F.col("c_acctbal")
        ),
    )
    new_rows = (
        cust.filter(F.col("c_custkey") % 50 == 0)
        .select(
            (F.col("c_custkey") + 1000000).alias("c_custkey"),
            F.concat(F.lit("NEW#"), F.col("c_custkey").cast("string")).alias("c_name"),
            F.col("c_nationkey"),
            F.lit(0.0).alias("c_acctbal"),
            F.lit("NEW").alias("c_mktsegment"),
        )
    )
    return cust, changed.unionByName(new_rows)


def _merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    b1, b2 = _batches(spark, sf_dir)
    t = scd2_apply(None, b1, KEY, TRACKED, T1)
    return scd2_apply(t, b2, KEY, TRACKED, T2)


@query(
    "scd2_current_customers",
    oracle=f"""
SELECT c_custkey, c_name,
       c_acctbal + CASE WHEN c_custkey % 10 = 0 THEN 100 ELSE 0 END AS c_acctbal,
       CAST(CASE WHEN c_custkey % 10 = 0 THEN 2 ELSE 1 END AS INT) AS version_no,
       CAST(CASE WHEN c_custkey % 10 = 0 THEN '{T2}' ELSE '{T1}' END AS TIMESTAMP)
         AS effective_start_ts
FROM customer
UNION ALL
SELECT c_custkey + 1000000, 'NEW#' || CAST(c_custkey AS VARCHAR),
       CAST(0.0 AS DOUBLE), CAST(1 AS INT), TIMESTAMP '{T2}'
FROM customer WHERE c_custkey % 50 = 0
""",
    bench=True,
)
def q_scd2_current_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _merged(spark, sf_dir)
        .filter(F.col("is_current"))
        .select("c_custkey", "c_name", "c_acctbal", "version_no", "effective_start_ts")
    )


@query(
    "scd2_history_customers",
    oracle=f"""
-- version-1 rows for every original key (expired iff changed)
SELECT c_custkey, c_acctbal, CAST(1 AS INT) AS version_no,
       c_custkey % 10 <> 0 AS is_current,
       TIMESTAMP '{T1}' AS effective_start_ts,
       CASE WHEN c_custkey % 10 = 0 THEN '{T2}' ELSE '9999-12-31 00:00:00' END
         AS effective_end_ts
FROM customer
UNION ALL
-- version-2 rows for changed keys
SELECT c_custkey, c_acctbal + 100, CAST(2 AS INT), TRUE,
       TIMESTAMP '{T2}', '9999-12-31 00:00:00'
FROM customer WHERE c_custkey % 10 = 0
UNION ALL
-- brand-new keys arriving in batch 2
SELECT c_custkey + 1000000, CAST(0.0 AS DOUBLE), CAST(1 AS INT), TRUE,
       TIMESTAMP '{T2}', '9999-12-31 00:00:00'
FROM customer WHERE c_custkey % 50 = 0
""",
)
def q_scd2_history_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # effective_end_ts presented as a string: the 9999-12-31 sentinel is
    # outside pandas datetime64[ns] range and would break Arrow conversion
    # in any harness that renders the frame.
    return _merged(spark, sf_dir).select(
        "c_custkey", "c_acctbal", "version_no", "is_current",
        "effective_start_ts",
        F.date_format("effective_end_ts", "yyyy-MM-dd HH:mm:ss").alias("effective_end_ts"),
    )


@query(
    "scd2_verify_ok",
    oracle="""
SELECT CAST(NULL AS BIGINT) AS c_custkey, CAST(NULL AS BIGINT) AS current_rows
WHERE 1 = 0
""",
)
def q_scd2_verify_ok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant check on the merged table — must be empty."""
    return scd2_verify(_merged(spark, sf_dir), KEY)


@query(
    "scd2_rollback_current",
    oracle=f"""
SELECT c_custkey, c_acctbal,
       CAST(CASE WHEN c_custkey % 10 = 0 THEN 3 ELSE 1 END AS INT) AS version_no,
       CAST(CASE WHEN c_custkey % 10 = 0 THEN '{T3}' ELSE '{T1}' END AS TIMESTAMP)
         AS effective_start_ts
FROM customer
UNION ALL
SELECT c_custkey + 1000000, CAST(0.0 AS DOUBLE), CAST(1 AS INT), TIMESTAMP '{T2}'
FROM customer WHERE c_custkey % 50 = 0
""",
)
def q_scd2_rollback_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollback the changed keys to version 1 (re-inserted as version 3,
    original acctbal restored) and show the current snapshot.

    The merged table is materialized (operators.pin) before the
    rollback: ``scd2_rollback`` branches over its input ~7 times
    (affected/untouched/expired/re-inserted legs), and without a
    materialization each branch re-executes the whole two-batch merge
    pipeline — measured 12.5 s → 1.5 s at sf0.1. In production the
    rollback input is a stored table, so this checkpoint reproduces
    the real access pattern, not a local-mode hack."""
    merged = pin(_merged(spark, sf_dir))
    changed_keys = merged.filter(F.col("version_no") == 2).select(KEY)
    rolled = scd2_rollback(merged, changed_keys, KEY, to_version=1, effective_ts=T3)
    return rolled.filter(F.col("is_current")).select(
        "c_custkey", "c_acctbal", "version_no", "effective_start_ts"
    )


@query(
    "record_hashes_nation",
    oracle="""
SELECT n_nationkey,
       sha256(concat_ws('||', COALESCE(CAST(n_name AS VARCHAR), chr(0) || 'NULL'),
                        COALESCE(CAST(n_regionkey AS VARCHAR), chr(0) || 'NULL'))) AS change_hash,
       md5(concat_ws('|', COALESCE(CAST(n_name AS VARCHAR), chr(0) || 'NULL'),
                     COALESCE(CAST(n_regionkey AS VARCHAR), chr(0) || 'NULL'))) AS change_hash_md5
FROM nation
""",
)
def q_record_hashes_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2 hash parity: sha2-256 + md5 over concat_ws with NULL-safe
    casts (reference scd2_delta_vendors.py:36-56,
    02_scd_procedures.sql:36-41)."""
    from nyc_taxi_data_engineering_spark.functions import record_hash, record_hash_md5

    nation = load_table(spark, sf_dir, "nation")
    return nation.select(
        "n_nationkey",
        record_hash(["n_name", "n_regionkey"]).alias("change_hash"),
        record_hash_md5(["n_name", "n_regionkey"]).alias("change_hash_md5"),
    )
