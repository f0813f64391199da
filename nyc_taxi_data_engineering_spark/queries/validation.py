"""Validation / quarantine / DQ-rule queries on the star schema
(reference C1, P4/P5, §2.9, C8 — SURVEY.md §2).

The lineitem "trip" rules mirror the reference's validity CASE
(nyc_raw_to_validated_etl.py:67-74): positivity, range, not-null — with
thresholds chosen so the synthetic data splits non-trivially.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table
from nyc_taxi_data_engineering_spark.operators.validate import split_metrics, validate_split
from nyc_taxi_data_engineering_spark.plans.dq_rules import evaluate_rules, load_rules
from nyc_taxi_data_engineering_spark.plans.governance import FRESH_MAX_AGE_DAYS, governance_gate
from nyc_taxi_data_engineering_spark.queries.registry import query

# Ordered pass-predicates (order defines the quarantine reason).
def lineitem_checks() -> dict[str, F.Column]:
    return {
        "price_positive": F.col("l_extendedprice") > 0,
        "quantity_range": F.col("l_quantity").between(1, 45),
        "discount_range": F.col("l_discount").between(0, 0.08),
        "shipdate_not_null": F.col("l_shipdate").isNotNull(),
    }


# SQL twin of the checks, as (name, pass_expr) in the same order.
_CHECKS_SQL = [
    ("price_positive", "l_extendedprice > 0"),
    ("quantity_range", "l_quantity BETWEEN 1 AND 45"),
    ("discount_range", "l_discount BETWEEN 0 AND 0.08"),
    ("shipdate_not_null", "l_shipdate IS NOT NULL"),
]
_ALL_PASS = " AND ".join(f"COALESCE({e}, FALSE)" for _, e in _CHECKS_SQL)
_REASON_CASE = (
    "CASE "
    + " ".join(f"WHEN NOT COALESCE({e}, FALSE) THEN '{n}'" for n, e in _CHECKS_SQL)
    + " ELSE NULL END"
)


@query(
    "validate_split_quarantine",
    oracle=f"""
SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_extendedprice,
       {_REASON_CASE} AS reason
FROM lineitem
WHERE NOT ({_ALL_PASS})
""",
    bench=True,
)
def q_validate_split_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    split = validate_split(li, lineitem_checks())
    return split.quarantine.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_extendedprice", "reason"
    )


@query(
    "validate_split_metrics",
    oracle=f"""
SELECT 'r1' AS run_id, 'validate_lineitem' AS job_name,
       COUNT(*) AS records_read,
       CAST(COALESCE(SUM(CASE WHEN {_ALL_PASS} THEN 1 ELSE 0 END), 0) AS BIGINT) AS records_valid,
       CAST(COALESCE(SUM(CASE WHEN NOT ({_ALL_PASS}) THEN 1 ELSE 0 END), 0) AS BIGINT) AS records_quarantined,
       CASE WHEN COALESCE(SUM(CASE WHEN NOT ({_ALL_PASS}) THEN 1 ELSE 0 END), 0) = 0
            THEN 'CLEAN' ELSE 'PARTIAL' END AS status
FROM lineitem
""",
)
def q_validate_split_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    split = validate_split(li, lineitem_checks())
    return split_metrics(split.flagged, run_id="r1", job_name="validate_lineitem")


LINEITEM_RULES_DOC = {
    "rules": [
        {"name": "quantity_range", "column": "l_quantity", "type": "between",
         "min": 1, "max": 45, "severity": "WARN", "action": "QUARANTINE", "threshold": 0.95},
        {"name": "discount_range", "column": "l_discount", "type": "between",
         "min": 0, "max": 0.08, "severity": "ERROR", "action": "QUARANTINE", "threshold": 0.9},
        {"name": "price_positive", "column": "l_extendedprice", "type": "positive",
         "severity": "ERROR", "action": "FAIL_JOB", "threshold": 1.0},
        {"name": "returnflag_domain", "column": "l_returnflag", "type": "allowed_values",
         "values": ["A", "N", "R"], "severity": "ERROR", "action": "FAIL_JOB", "threshold": 0.99},
        {"name": "shipdate_not_null", "column": "l_shipdate", "type": "not_null",
         "severity": "ERROR", "action": "QUARANTINE", "threshold": 1.0},
        {"name": "orderkey_unique", "column": "l_orderkey", "type": "unique",
         "severity": "WARN", "action": "WARN", "threshold": 0.5},
    ]
}


def _rule_metrics_oracle() -> str:
    rows = [
        ("quantity_range", "l_quantity", "between", "WARN", "QUARANTINE", 0.95,
         "NOT COALESCE(l_quantity BETWEEN 1 AND 45, FALSE)"),
        ("discount_range", "l_discount", "between", "ERROR", "QUARANTINE", 0.9,
         "NOT COALESCE(l_discount BETWEEN 0 AND 0.08, FALSE)"),
        ("price_positive", "l_extendedprice", "positive", "ERROR", "FAIL_JOB", 1.0,
         "NOT COALESCE(l_extendedprice > 0, FALSE)"),
        ("returnflag_domain", "l_returnflag", "allowed_values", "ERROR", "FAIL_JOB", 0.99,
         "NOT COALESCE(l_returnflag IN ('A','N','R'), FALSE)"),
        ("shipdate_not_null", "l_shipdate", "not_null", "ERROR", "QUARANTINE", 1.0,
         "NOT COALESCE(l_shipdate IS NOT NULL, FALSE)"),
    ]
    selects = [
        f"""SELECT '{n}' AS rule_name, '{c}' AS column_name, '{k}' AS kind,
            '{sev}' AS severity, '{act}' AS action, CAST({th} AS DOUBLE) AS threshold,
            COUNT(*) AS total_rows,
            CAST(COALESCE(SUM(CASE WHEN {fail} THEN 1 ELSE 0 END), 0) AS BIGINT) AS violations
            FROM lineitem"""
        for n, c, k, sev, act, th, fail in rows
    ]
    selects.append(
        """SELECT 'orderkey_unique' AS rule_name, 'l_orderkey' AS column_name,
           'unique' AS kind, 'WARN' AS severity, 'WARN' AS action,
           CAST(0.5 AS DOUBLE) AS threshold, COUNT(*) AS total_rows,
           CAST(COUNT(*) - COUNT(DISTINCT l_orderkey) AS BIGINT) AS violations
           FROM lineitem"""
    )
    union = " UNION ALL ".join(selects)
    return f"""
WITH m AS ({union})
SELECT rule_name, column_name, kind, severity, action, threshold, total_rows, violations,
       CASE WHEN total_rows = 0 THEN 1.0
            ELSE (total_rows - violations) / total_rows END AS pass_rate,
       (CASE WHEN total_rows = 0 THEN 1.0
             ELSE (total_rows - violations) / total_rows END) >= threshold AS passed
FROM m
"""


@query("dq_rule_metrics", oracle=_rule_metrics_oracle())
def q_dq_rule_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return evaluate_rules(li, load_rules(LINEITEM_RULES_DOC))


@query(
    "governance_gate_decision",
    oracle=f"""
WITH m AS (
  SELECT 'r1' AS run_id, 'validate_lineitem' AS job_name,
         COUNT(*) AS records_read,
         CAST(COALESCE(SUM(CASE WHEN {_ALL_PASS} THEN 1 ELSE 0 END), 0) AS BIGINT) AS records_valid,
         CAST(COALESCE(SUM(CASE WHEN NOT ({_ALL_PASS}) THEN 1 ELSE 0 END), 0) AS BIGINT) AS records_quarantined
  FROM lineitem
)
SELECT run_id, job_name, records_read, records_valid, records_quarantined,
       CASE WHEN records_read = 0 THEN NULL
            ELSE ROUND(records_valid * 100.0 / records_read, 2) END AS quality_pct,
       CAST(75.0 AS DOUBLE) AS threshold,
       CASE WHEN COALESCE(CASE WHEN records_read = 0 THEN NULL
                 ELSE ROUND(records_valid * 100.0 / records_read, 2) END, 0.0) >= 75.0
            THEN 'PASS' ELSE 'FAIL' END AS decision
FROM m
""",
)
def q_governance_gate_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    split = validate_split(li, lineitem_checks())
    metrics = split_metrics(split.flagged, run_id="r1", job_name="validate_lineitem")
    return governance_gate(metrics, quality_threshold=75.0)


_FRESH_AS_OF = "2024-02-05"


def _freshness_oracle(table: str, ts_expr: str) -> str:
    diff = f"date_diff('day', CAST(MAX({ts_expr}) AS DATE), DATE '{_FRESH_AS_OF}')"
    return f"""SELECT '{table}' AS dataset,
       strftime(CAST(MAX({ts_expr}) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS newest_ts,
       CAST({diff} AS INT) AS age_days,
       CAST({FRESH_MAX_AGE_DAYS} AS INT) AS max_age_days,
       CASE WHEN {diff} <= {FRESH_MAX_AGE_DAYS} THEN 'FRESH' ELSE 'STALE' END AS decision
FROM {table}"""


@query(
    "freshness_gate_datasets",
    oracle=_freshness_oracle("events", "ts") + "\nUNION ALL\n" + _freshness_oracle("orders", "o_orderdate"),
)
def q_freshness_gate_datasets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-freshness gate (C8 family, reference lambda.py:96-108)
    over two datasets with an injected as-of clock: events is FRESH
    (days old), orders is STALE (decades old)."""
    from nyc_taxi_data_engineering_spark.plans.governance import freshness_gate

    ev = freshness_gate(load_table(spark, sf_dir, "events"), "ts", "events", _FRESH_AS_OF)
    od = freshness_gate(load_table(spark, sf_dir, "orders"), "o_orderdate", "orders", _FRESH_AS_OF)
    return ev.unionByName(od)
