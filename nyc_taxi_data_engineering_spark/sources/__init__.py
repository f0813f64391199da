"""Sources & sinks (reference §2.1 S1–S15).

All AWS plumbing (S3 prefixes, Redshift COPY, Glue catalogs) becomes
local Parquet/CSV/JSON directories; Delta connectors are gated behind
an import-try (jars absent in this image — reference S3–S5, S9–S10 are
covered by Scd2Table's snapshot versioning instead).

Scale notes: partitioned parquet writes keep Hive-style layout so
partition pruning works on read; metrics sinks coalesce(1) only for
known-tiny frames; `latest_partition_value` computes max() on the
partition column, which Catalyst satisfies from parquet metadata
without a full scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

try:  # delta-spark needs jars on the classpath; absent in this image
    from delta.tables import DeltaTable  # type: ignore

    HAS_DELTA = True
except Exception:  # pragma: no cover - environment dependent
    DeltaTable = None
    HAS_DELTA = False


class EngineFeatureUnavailable(RuntimeError):
    pass


# -- scans (S1–S6) ----------------------------------------------------

def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S1: recursive, partition-discovering parquet scan."""
    return spark.read.parquet(path)


def read_csv(spark: SparkSession, path: str) -> DataFrame:
    """S2: header CSV scan with schema inference (an extra scan, and
    nondeterministic on dirty data: round trips only)."""
    return spark.read.option("header", True).option("inferSchema", True).csv(path)


def read_delta(spark: SparkSession, path: str, version_as_of: int | None = None) -> DataFrame:
    """S3/S4: Delta snapshot / time-travel scan. Prefers delta-spark
    when its jars are present; otherwise falls back to the engine's
    pure-Python transaction-log reader (sources/delta_log.py — real
    Delta protocol, same layout), so Delta tables written by either
    side stay readable here."""
    if HAS_DELTA:
        reader = spark.read.format("delta")
        if version_as_of is not None:
            reader = reader.option("versionAsOf", version_as_of)
        return reader.load(path)
    from nyc_taxi_data_engineering_spark.sources import delta_log

    if delta_log.is_delta_table(path):
        return delta_log.read_delta_log(spark, path, version_as_of)
    raise EngineFeatureUnavailable(
        f"{path} has no _delta_log and delta-spark jars are absent; use "
        "sources.delta_log.write_delta to create one, or Scd2Table for "
        "versioned business tables"
    )


# -- sinks (S7–S14) ---------------------------------------------------

def write_parquet(df: DataFrame, path: str, partition_by: Sequence[str] | None = None) -> None:
    """S7/S8: overwriting parquet sink, optionally Hive-partitioned."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_json_metrics(df: DataFrame, path: str) -> None:
    """S11: single-file overwriting JSON metrics sink (coalesce(1) —
    metrics frames are tiny by contract; never use for data tables)."""
    df.coalesce(1).write.mode("overwrite").json(path)


def write_csv(df: DataFrame, path: str) -> None:
    """S14: overwriting header CSV sink (steward queues, scorecards)."""
    df.write.mode("overwrite").option("header", True).csv(path)


def write_jdbc(df: DataFrame, url: str, table: str, **options) -> None:
    """S12: JDBC bulk load (untestable here — no database in the image;
    thin passthrough kept for API parity with ppcurated_rds.py:64-72)."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.mode("overwrite").save()


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
) -> None:
    """Hash-bucketed managed table (overwritten) — the Spark analog of
    the reference's Redshift distkey physical design (Day16.md:27-34): joins and aggregations on the bucket columns
    read co-located, pre-hashed files and skip the shuffle entirely
    (see tests/test_scale_mechanisms.py for the plan proof). The
    100 TB lever for repeated fact-fact joins on a stable key."""
    df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols).format("parquet").saveAsTable(table)


# -- partition discovery (S15) ---------------------------------------

def latest_partition_value(df: DataFrame, col: str):
    """S15: newest batch discovery — scalar max on the partition column
    (parquet metadata satisfies this without reading data pages)."""
    return df.agg(F.max(col)).collect()[0][0]


def latest_partition(df: DataFrame, col: str) -> DataFrame:
    """Filter to the newest batch; the equality predicate on a partition
    column prunes to one directory at scan time."""
    return df.filter(F.col(col) == latest_partition_value(df, col))
