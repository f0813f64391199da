"""Table loading: ``catalog.load_table`` declares each table's schema from
its Parquet footer, so opening a table starts no Spark job, and the
declared schema is the one Spark would have inferred."""

from __future__ import annotations

import datetime as dt
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from nyc_taxi_data_engineering_spark.catalog import TABLES, load_table, parquet_schema, table_path
from nyc_taxi_data_engineering_spark.queries import run
from nyc_taxi_data_engineering_spark.queries.runner import next_job_id
from tools import adversarial_tier as adv

ADVERSARIAL = {
    "tiny": adv.CUTS,
    "empty": adv.EMPTY_CUTS,
    "skew": adv.SKEW_CUTS,
    "weird": adv.WEIRD_CUTS,
}


def test_load_table_starts_no_job(spark, sf_dir):
    first = next_job_id(spark)
    for t in TABLES:
        load_table(spark, sf_dir, t)
    assert next_job_id(spark) == first


@pytest.fixture(scope="module")
def adversarial_dirs(tmp_path_factory) -> list[str]:
    root = tmp_path_factory.mktemp("tiers")
    for name, cuts in ADVERSARIAL.items():
        adv.build(str(root / name), cuts)
    return [str(root / name) for name in ADVERSARIAL]


def test_footer_schema_is_the_inferred_schema(spark, sf_dir, adversarial_dirs):
    """For every table of every tier: the generated scale factors beside
    the test tier and the four adversarial tiers."""
    tiers = sorted(glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*")))
    assert sf_dir in tiers
    for tier in tiers + adversarial_dirs:
        for t in TABLES:
            path = table_path(tier, t)
            declared = spark.read.schema(parquet_schema(path)).parquet(path).schema
            assert declared == spark.read.parquet(path).schema, path


INSTANTS = [
    dt.datetime(2024, 1, 15, 12, 34, 56, 123456, tzinfo=dt.timezone.utc),
    dt.datetime(1999, 12, 31, 23, 59, 59, 999999, tzinfo=dt.timezone.utc),
    dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc),
]
MICROS = [(t - INSTANTS[2]) // dt.timedelta(microseconds=1) for t in INSTANTS]

# events.ts as each writer may encode it: (arrow type, write_table options)
ENCODINGS = {
    "nanos": (pa.timestamp("ns"), {}),
    "utc_micros": (pa.timestamp("us", "UTC"), {}),
    "ntz_micros": (pa.timestamp("us"), {}),
    "int96": (pa.timestamp("ns"), {"use_deprecated_int96_timestamps": True}),
}


@pytest.mark.parametrize("encoding", sorted(ENCODINGS))
def test_events_ts_loads_as_timestamp_for_every_encoding(spark, tmp_path, encoding):
    """The nanos values exceed 2^52, so a float division would shift them."""
    arrow_type, options = ENCODINGS[encoding]
    scale = 1000 if arrow_type.unit == "ns" else 1
    ts = pa.array([m * scale for m in MICROS], pa.int64()).cast(arrow_type)
    table = pa.table({"event_id": pa.array(range(len(MICROS)), pa.int64()), "ts": ts})
    pq.write_table(table, str(tmp_path / "events.parquet"), **options)

    first = next_job_id(spark)
    df = load_table(spark, str(tmp_path), "events")
    assert next_job_id(spark) == first
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = df.selectExpr("event_id", "unix_micros(ts) AS us").orderBy("event_id").collect()
    assert [r["us"] for r in got] == MICROS


def test_unconvertible_column_is_named(tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"ok": [1], "flags": pa.array([1], pa.uint32())}), path)
    with pytest.raises(TypeError, match="'flags'"):
        parquet_schema(path)


def test_one_table_query_builds_without_a_job(spark, sf_dir):
    n, record = run(spark, "text_token_stats", sf_dir, lambda df: df.count())
    assert n > 0
    assert record["build_jobs"] == 0
    assert record["exec_jobs"] > 0
