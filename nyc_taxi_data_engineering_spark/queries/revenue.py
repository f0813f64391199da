"""Flagship query wired to the driver's star schema.

Mapping (FIXTURES.md §Mapping): trips/fact ↔ lineitem (l_shipdate as the
business timestamp, extendedprice*(1-discount) as the amount), vendor
master ↔ supplier with ``s_acctbal > 0`` as the active flag.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table
from nyc_taxi_data_engineering_spark.operators.revenue import daily_vendor_revenue
from nyc_taxi_data_engineering_spark.queries.registry import query

DAILY_REVENUE_ORACLE = """
SELECT
  l_suppkey,
  CAST(l_shipdate AS DATE) AS trip_date,
  CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS total_revenue,
  COUNT(*) AS trip_count
FROM lineitem
JOIN (SELECT DISTINCT s_suppkey FROM supplier WHERE s_acctbal > 0) s
  ON l_suppkey = s_suppkey
WHERE l_extendedprice > 0
GROUP BY l_suppkey, CAST(l_shipdate AS DATE)
"""


@query("daily_vendor_revenue", oracle=DAILY_REVENUE_ORACLE, bench=True)
def q_daily_vendor_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    return daily_vendor_revenue(
        fact=lineitem,
        vendors=supplier.withColumnRenamed("s_suppkey", "l_suppkey"),
        vendor_key="l_suppkey",
        ts_col="l_shipdate",
        amount_col=F.col("l_extendedprice") * (1 - F.col("l_discount")),
        amount_pred=F.col("l_extendedprice") > 0,
    )


@query("daily_vendor_revenue_sql", oracle=DAILY_REVENUE_ORACLE)
def q_daily_vendor_revenue_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship through the PURE SQL surface: temp views +
    ``spark.sql`` running the exact oracle text — Catalyst parses
    ANSI SQL into the same optimized plan the DataFrame build gets
    (broadcast dim, pushed filters, partial agg), proving a SQL-first
    user of the engine needs no DataFrame code at all. The only query
    intentionally registered as both API styles."""
    from nyc_taxi_data_engineering_spark.catalog import register_views

    register_views(spark, sf_dir, names=("lineitem", "supplier"))
    return spark.sql(DAILY_REVENUE_ORACLE)
