"""Config-driven data-quality rule engine (reference §2.9).

The reference declares DQ rules as JSON/YAML documents
(governance/data_quality_rules.json:4-19,
day5-infra/governance/data_quality/taxi_zone_rules.yaml:2-16) and
interprets them at runtime with severity / threshold / failure-action
semantics (QUARANTINE rows, FAIL_JOB, WARN). This module compiles those
documents into Spark ``Column`` predicates and evaluates ALL row-level
rules in a single aggregate scan — at 100 TB you get one pass over the
fact table regardless of rule count, with conditional sums riding the
same whole-stage-codegen'd projection.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

try:
    import yaml
except ImportError:  # pragma: no cover
    yaml = None

ROW_KINDS = {"not_null", "between", "allowed_values", "positive", "non_negative", "expr"}
DATASET_KINDS = {"unique"}


@dataclass(frozen=True)
class Rule:
    name: str
    column: str
    kind: str  # not_null | between | allowed_values | positive | non_negative | expr | unique
    params: dict[str, Any] = field(default_factory=dict)
    severity: str = "ERROR"  # ERROR | WARN
    action: str = "QUARANTINE"  # QUARANTINE | FAIL_JOB | WARN
    threshold: float = 1.0  # min pass-rate for the dataset to pass this rule

    def predicate(self) -> Column:
        """Row-level pass-predicate (NULL-unsafe on purpose — callers
        coalesce; mirrors validity_flag)."""
        c = F.col(self.column)
        if self.kind == "not_null":
            return c.isNotNull()
        if self.kind == "between":
            return c.between(self.params["min"], self.params["max"])
        if self.kind == "allowed_values":
            return c.isin(list(self.params["values"]))
        if self.kind == "positive":
            return c > 0
        if self.kind == "non_negative":
            return c >= 0
        if self.kind == "expr":
            return F.expr(self.params["sql"])
        raise ValueError(f"rule kind {self.kind!r} has no row predicate")


def load_rules(doc: str | dict[str, Any]) -> list[Rule]:
    """Parse a JSON/YAML rules document (string, path contents, or dict).

    Accepted shape::

        {"rules": [{"name": ..., "column": ..., "type": "not_null",
                    "severity": "ERROR", "action": "QUARANTINE",
                    "threshold": 1.0, "min": 1, "max": 8,
                    "values": [...], "sql": "..."}, ...]}
    """
    if isinstance(doc, str):
        text = doc.strip()
        if text.startswith("{"):
            parsed = json.loads(text)
        elif yaml is not None:
            parsed = yaml.safe_load(text)
        else:  # pragma: no cover
            parsed = json.loads(text)
    else:
        parsed = doc
    rules = []
    for r in parsed["rules"]:
        params = {k: r[k] for k in ("min", "max", "values", "sql") if k in r}
        rules.append(
            Rule(
                name=r.get("name") or f"{r['type']}_{r.get('column', 'dataset')}",
                column=r.get("column", ""),
                kind=r["type"],
                params=params,
                severity=r.get("severity", "ERROR"),
                action=r.get("action", "QUARANTINE"),
                threshold=float(r.get("threshold", 1.0)),
            )
        )
    return rules


def evaluate_rules(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Per-rule violation metrics in one scan.

    Output: rule_name, column_name, kind, severity, action, threshold,
    total_rows, violations, pass_rate, passed. Row-level rules become
    conditional sums in a single agg; `unique` rules each need their own
    groupBy (a shuffle on the key — unavoidable, but keyed shuffles on a
    candidate key are balanced by construction).
    """
    row_rules = [r for r in rules if r.kind in ROW_KINDS]
    uniq_rules = [r for r in rules if r.kind in DATASET_KINDS]

    parts: list[DataFrame] = []
    if row_rules:
        aggs = [F.count(F.lit(1)).alias("total_rows")]
        for i, r in enumerate(row_rules):
            fail = ~F.coalesce(r.predicate(), F.lit(False))
            aggs.append(F.coalesce(F.sum(F.when(fail, 1).otherwise(0)), F.lit(0)).alias(f"_v{i}"))
        wide = df.agg(*aggs)
        stack_args = ", ".join(
            f"'{r.name}', '{r.column}', '{r.kind}', '{r.severity}', '{r.action}', "
            f"CAST({r.threshold} AS DOUBLE), _v{i}"
            for i, r in enumerate(row_rules)
        )
        parts.append(
            wide.selectExpr(
                "total_rows",
                f"stack({len(row_rules)}, {stack_args}) AS "
                "(rule_name, column_name, kind, severity, action, threshold, violations)",
            )
        )
    for r in uniq_rules:
        dup = (
            df.groupBy(r.column)
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(
                F.coalesce(F.sum("n"), F.lit(0)).alias("total_rows"),
                F.coalesce(F.sum(F.when(F.col("n") > 1, F.col("n") - 1).otherwise(0)), F.lit(0)).alias(
                    "violations"
                ),
            )
            .select(
                "total_rows",
                F.lit(r.name).alias("rule_name"),
                F.lit(r.column).alias("column_name"),
                F.lit(r.kind).alias("kind"),
                F.lit(r.severity).alias("severity"),
                F.lit(r.action).alias("action"),
                F.lit(r.threshold).cast("double").alias("threshold"),
                "violations",
            )
        )
        parts.append(dup)

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out = out.withColumn(
        "pass_rate",
        F.when(F.col("total_rows") == 0, F.lit(1.0)).otherwise(
            (F.col("total_rows") - F.col("violations")) / F.col("total_rows")
        ),
    ).withColumn("passed", F.col("pass_rate") >= F.col("threshold"))
    return out.select(
        "rule_name", "column_name", "kind", "severity", "action", "threshold",
        "total_rows", "violations", "pass_rate", "passed",
    )
