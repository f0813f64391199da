from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table
from nyc_taxi_data_engineering_spark.operators.validate import split_metrics, validate_split
from nyc_taxi_data_engineering_spark.plans.governance import governance_gate
from nyc_taxi_data_engineering_spark.plans.lineage import LineageHop, lineage_table
from nyc_taxi_data_engineering_spark.plans.orchestrator import (
    Pipeline,
    PipelineHalt,
    StageOutput,
)
from nyc_taxi_data_engineering_spark.plans.pipeline import PipelineConfig, run_pipeline
from nyc_taxi_data_engineering_spark.plans.sql_runner import (
    SqlCheckFailure,
    SqlStep,
    run_sql_workflow,
)
from nyc_taxi_data_engineering_spark.queries.validation import lineitem_checks
from nyc_taxi_data_engineering_spark.sources import (
    latest_partition,
    read_csv,
    write_csv,
    write_json_metrics,
)
from tests.conftest import TEST_SF_DIR


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    out_root = tmp_path_factory.mktemp("medallion")
    ctx, runs = run_pipeline(spark, PipelineConfig(sf_dir=TEST_SF_DIR, out_root=str(out_root)))
    return out_root, ctx, runs


def _independent_metrics(spark):
    """The run-metrics row recomputed by its own aggregate over the input."""
    split = validate_split(load_table(spark, TEST_SF_DIR, "lineitem"), lineitem_checks())
    return split_metrics(split.flagged, "r1", "validate")


@pytest.fixture(scope="module")
def expected_metrics(spark) -> dict:
    return _independent_metrics(spark).collect()[0].asDict()


def _metrics_json(out_root) -> list[str]:
    files = glob.glob(os.path.join(str(out_root), "audit/metrics/validate/*.json"))
    return [ln for f in files for ln in open(f) if ln.strip()]


def test_end_to_end_pipeline(spark, pipeline_run):
    tmp_path, ctx, runs = pipeline_run
    assert [r.status for r in runs] == ["SUCCEEDED"] * 5
    validated = spark.read.parquet(ctx["validate"])
    quarantine = spark.read.parquet(str(tmp_path / "quarantine/trips"))
    raw_count = spark.read.parquet(f"{TEST_SF_DIR}/lineitem.parquet").count()
    assert validated.count() + quarantine.count() == raw_count
    assert "run_date" in validated.columns  # partitioned write survived
    curated = spark.read.parquet(ctx["curate"])
    assert "supp_nation_name" in curated.columns
    agg = spark.read.parquet(ctx["analytics"])
    assert agg.count() > 0
    lineage = spark.read.parquet(ctx["lineage"])
    assert lineage.count() == 3
    assert {r["pipeline_stage"] for r in lineage.collect()} == {"validate", "curate", "aggregate"}


def test_pipeline_gate_halts(spark, tmp_path, expected_metrics):
    """The gate decides on the Observation-based metrics JSON: it halts
    with the quality the independent aggregate gives."""
    cfg = PipelineConfig(sf_dir=TEST_SF_DIR, out_root=str(tmp_path), quality_threshold=99.9)
    ctx, runs = run_pipeline(spark, cfg)
    status = {r.stage: r.status for r in runs}
    assert status["validate"] == "SUCCEEDED"
    assert status["gate"] == "HALTED"
    assert status["curate"] == status["analytics"] == status["lineage"] == "SKIPPED"
    assert [json.loads(ln) for ln in _metrics_json(tmp_path)] == [expected_metrics]
    quality = governance_gate(_independent_metrics(spark), cfg.quality_threshold).collect()[0]
    assert runs[1].error == (
        f"governance gate FAIL: quality {quality['quality_pct']} < {cfg.quality_threshold}"
    )


def test_pipeline_metrics_json_matches_split_metrics(pipeline_run, expected_metrics):
    """The observed counts written by the validate stage equal an
    independent aggregate over the raw input — same keys, same order,
    status included — and the validate StageRun carries them."""
    out_root, _ctx, runs = pipeline_run
    lines = _metrics_json(out_root)
    assert len(lines) == 1
    assert list(json.loads(lines[0]).items()) == list(expected_metrics.items())
    validate = runs[0]
    assert (validate.rows_in, validate.rows_out) == (
        expected_metrics["records_read"], expected_metrics["records_valid"]
    )
    assert all(r.rows_in is None and r.rows_out is None for r in runs[1:])


def test_pipeline_lineage_rows(spark, pipeline_run):
    _out_root, ctx, _runs = pipeline_run
    lineage = spark.read.parquet(ctx["lineage"]).withColumn(
        "created_at", F.date_format("created_at", "yyyy-MM-dd HH:mm:ss")
    )
    def hop(*stage_to_transformation):
        return ("medallion_demo", *stage_to_transformation, "batch_etl", "engine",
                "2024-01-01 00:00:00", True, 1)

    rows = [tuple(r) for r in lineage.collect()]
    assert len(rows) == 3
    assert set(rows) == {
        hop("validate", "raw", "lineitem", "validated", "trips", "validate_and_split"),
        hop("curate", "validated", "trips", "curated", "trips", "enrich_with_dims"),
        hop("aggregate", "curated", "trips", "analytics", "daily_revenue", "daily_vendor_revenue"),
    }
    assert len(glob.glob(os.path.join(ctx["lineage"], "*.parquet"))) == 1


def test_lineage_table_starts_no_python_worker(spark):
    hop = LineageHop("p", "s", "raw", "a", "validated", "b", "t", "batch_etl",
                     created_at="2024-01-01 00:00:00")
    df = lineage_table(spark, [hop, hop])
    assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()
    assert df.rdd.getNumPartitions() == 1
    row = df.select(F.date_format("created_at", "yyyy-MM-dd HH:mm:ss").alias("ts")).first()
    assert row.ts == "2024-01-01 00:00:00"


def test_orchestrator_retry_and_failure():
    calls = {"n": 0}

    def flaky(ctx):
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    p = Pipeline("t").add("flaky", flaky, retries=3).add("after", lambda ctx: ctx["flaky"])
    ctx, runs = p.run()
    assert runs[0].status == "SUCCEEDED" and runs[0].attempts == 3
    assert ctx["after"] == "ok"

    p2 = Pipeline("t2").add("dies", lambda ctx: 1 / 0, retries=2).add("never", lambda ctx: 1)
    _, runs2 = p2.run()
    assert [r.status for r in runs2] == ["FAILED", "SKIPPED"]
    assert runs2[0].attempts == 2


def test_orchestrator_stage_output_rows():
    p = Pipeline("t").add("a", lambda ctx: StageOutput("path", rows_in=10, rows_out=7))
    p.add("b", lambda ctx: ctx["a"])
    ctx, runs = p.run()
    assert ctx == {"a": "path", "b": "path"}
    assert (runs[0].rows_in, runs[0].rows_out) == (10, 7)
    assert (runs[1].rows_in, runs[1].rows_out) == (None, None)


def test_sql_runner_fail_fast(spark, sf_dir):
    from nyc_taxi_data_engineering_spark.catalog import register_views

    register_views(spark, sf_dir, ("lineitem",))
    bad = [SqlStep("always_fails", "test", "SELECT COUNT(*) FROM lineitem WHERE l_quantity > 0")]
    with pytest.raises(SqlCheckFailure, match="always_fails"):
        run_sql_workflow(spark, bad, fail_fast=True)
    res = run_sql_workflow(spark, bad, fail_fast=False)
    assert res[0].status == "VIOLATIONS" and res[0].violations > 0


def test_sql_runner_error_identity_in_concurrent_batch(spark, sf_dir):
    """A later check erroring (missing view) in the same concurrent
    batch must not mask the SqlCheckFailure an earlier-ordered
    violating check would raise serially."""
    from nyc_taxi_data_engineering_spark.catalog import register_views

    register_views(spark, sf_dir, ("lineitem",))
    steps = [
        SqlStep("violates_first", "test", "SELECT COUNT(*) FROM lineitem WHERE l_quantity > 0"),
        SqlStep("errors_second", "test", "SELECT COUNT(*) FROM no_such_view_xyz"),
    ]
    with pytest.raises(SqlCheckFailure, match="violates_first"):
        run_sql_workflow(spark, steps, fail_fast=True)
    # serially-first ERROR still surfaces when nothing earlier violates
    with pytest.raises(Exception, match="no_such_view_xyz|NOT_FOUND|cannot be found"):
        run_sql_workflow(spark, steps[::-1], fail_fast=True)


def test_csv_json_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string")
    write_csv(df, str(tmp_path / "csv"))
    back = read_csv(spark, str(tmp_path / "csv"))
    assert {(r["id"], r["name"]) for r in back.collect()} == {(1, "a"), (2, "b")}
    write_json_metrics(df, str(tmp_path / "json"))
    assert spark.read.json(str(tmp_path / "json")).count() == 2


def test_latest_partition(spark):
    df = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-02", 2), ("2024-01-02", 3)], "run_date string, v int"
    )
    latest = latest_partition(df, "run_date")
    assert sorted(r["v"] for r in latest.collect()) == [2, 3]


def test_write_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """S12 integration: the JDBC sink bulk-loads into an embedded Derby
    database (bundled with Spark) and reads back identically — the same
    write path a Postgres target would use (ppcurated_rds.py:64-72)."""
    from nyc_taxi_data_engineering_spark.sources import write_jdbc

    url = f"jdbc:derby:{tmp_path}/jdbc_db;create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    df = spark.createDataFrame(
        [(1, "Acme", 10.5), (2, "Globex", -3.25)], "id int, name string, bal double"
    )
    write_jdbc(df, url, "curated_t", driver=driver)
    # overwrite mode must replace, not append
    write_jdbc(df, url, "curated_t", driver=driver)
    back = (
        spark.read.format("jdbc")
        .option("url", url).option("dbtable", "curated_t").option("driver", driver)
        .load()
    )
    assert sorted((r["id"], r["name"], r["bal"]) for r in back.collect()) == [
        (1, "Acme", 10.5),
        (2, "Globex", -3.25),
    ]


def test_freshness_gate_decisions(spark):
    from nyc_taxi_data_engineering_spark.plans.governance import freshness_gate

    df = spark.createDataFrame([("2024-01-20 12:00:00",), ("2024-01-30 00:00:00",)], "ts string")
    fresh = freshness_gate(df, "ts", "refdata", as_of="2024-02-05", max_age_days=30).collect()[0]
    assert (fresh["decision"], fresh["age_days"]) == ("FRESH", 6)
    assert fresh["newest_ts"] == "2024-01-30 00:00:00"
    stale = freshness_gate(df, "ts", "refdata", as_of="2024-12-01", max_age_days=30).collect()[0]
    assert stale["decision"] == "STALE"
