"""Sources & sinks (reference §2.1 S1–S15).

All AWS plumbing (S3 prefixes, Redshift COPY, Glue catalogs) becomes
local Parquet/JSON directories. Scans are ``catalog.load_table``'s; the
Delta connectors (reference S3–S5, S9–S10: snapshot, time travel,
MERGE) are the pure-Python transaction log in ``sources/delta_log.py``,
which needs no delta-spark jars.

Scale notes: partitioned parquet writes keep Hive-style layout so
partition pruning works on read; metrics sinks coalesce(1) only for
known-tiny frames.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


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


def write_jdbc(df: DataFrame, url: str, table: str, **options) -> None:
    """S12: JDBC bulk load (untestable here — no database in the image;
    thin passthrough kept for API parity with ppcurated_rds.py:64-72)."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.mode("overwrite").save()
