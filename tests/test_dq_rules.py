from __future__ import annotations

from nyc_taxi_data_engineering_spark.operators.integrity import ri_gate
from nyc_taxi_data_engineering_spark.plans.dq_rules import evaluate_rules, load_rules
from nyc_taxi_data_engineering_spark.plans.governance import governance_gate

YAML_RULES = """
rules:
  - name: zone_not_null
    column: zone
    type: not_null
    severity: ERROR
    action: QUARANTINE
  - name: borough_domain
    column: borough
    type: allowed_values
    values: [Manhattan, Brooklyn, Queens, Bronx, Staten Island]
    threshold: 0.99
    action: FAIL_JOB
  - name: locationid_unique
    column: locationid
    type: unique
"""


def zones(spark):
    return spark.createDataFrame(
        [
            (1, "Manhattan", "Midtown"),
            (2, "Brooklyn", "Park Slope"),
            (2, "Queens", "Astoria"),  # duplicate id
            (4, "Gotham", "Nowhere"),  # bad borough
            (5, "Bronx", None),  # null zone
        ],
        "locationid int, borough string, zone string",
    )


def test_load_rules_yaml_and_json():
    rules = load_rules(YAML_RULES)
    assert [r.kind for r in rules] == ["not_null", "allowed_values", "unique"]
    assert rules[1].threshold == 0.99
    rules_json = load_rules('{"rules": [{"column": "x", "type": "positive"}]}')
    assert rules_json[0].name == "positive_x"


def test_evaluate_rules_metrics(spark):
    m = {r["rule_name"]: r for r in evaluate_rules(zones(spark), load_rules(YAML_RULES)).collect()}
    assert m["zone_not_null"]["violations"] == 1
    assert m["borough_domain"]["violations"] == 1 and not m["borough_domain"]["passed"]
    assert m["locationid_unique"]["violations"] == 1
    assert m["zone_not_null"]["total_rows"] == 5


def test_governance_gate_pass_fail(spark):
    metrics = spark.createDataFrame(
        [("r1", "job", 100, 97, 3), ("r2", "job", 100, 80, 20)],
        "run_id string, job_name string, records_read long, records_valid long, "
        "records_quarantined long",
    )
    decisions = {r["run_id"]: r["decision"] for r in governance_gate(metrics, 95.0).collect()}
    assert decisions == {"r1": "PASS", "r2": "FAIL"}


def test_ri_gate_semi_join_no_fanout(spark):
    fact = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    dim = spark.createDataFrame([(1,), (1,), (2,)], "k int")  # duplicate dim key
    gate = ri_gate(fact, dim, "k", "k")
    assert gate.kept.count() == 2  # semi join: no duplication from dup dim keys
    assert [r["k"] for r in gate.orphans.collect()] == [3]
