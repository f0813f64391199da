"""Daily revenue aggregation — the reference's flagship analytic.

Reference: sql/transformations/daily_vendor_revenue.sql:28-53 —
``SELECT vendorid, DATE(pickup) AS trip_date, SUM(total_amount) AS
total_revenue, COUNT(*) AS trip_count FROM trips JOIN active_vendors
GROUP BY 1, 2`` restricted to positive amounts and active vendors.

Spark-first shape: filter → broadcast inner join on the small vendor
dim → hash aggregate. Catalyst pushes the amount filter and the 4-column
projection into the parquet scan; the dim join broadcasts (explicit
hint, belt-and-braces under AQE); the groupBy is a partial+final hash
agg with map-side combine — at 100 TB the only shuffle is the final agg
on (vendor, day), which is high-cardinality enough to spread evenly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.functions import stable_sum


def daily_vendor_revenue(
    fact: DataFrame,
    vendors: DataFrame,
    vendor_key: str,
    ts_col: str,
    amount_col: Column | str,
    amount_pred: Column | None = None,
) -> DataFrame:
    """Revenue per (vendor, day) over active vendors (positive
    ``s_acctbal``).

    ``amount_col`` may be a derived Column (e.g. extendedprice*(1-disc)).
    Output columns: <vendor_key>, trip_date, total_revenue, trip_count.
    """
    amount = F.col(amount_col) if isinstance(amount_col, str) else amount_col
    base = fact
    if amount_pred is not None:
        base = base.filter(amount_pred)
    base = base.select(
        F.col(vendor_key),
        F.to_date(F.col(ts_col)).alias("trip_date"),
        amount.alias("_amount"),
    )
    dim = vendors.filter(F.col("s_acctbal") > 0).select(vendor_key).distinct()

    return (
        base.join(F.broadcast(dim), on=vendor_key, how="inner")
        .groupBy(vendor_key, "trip_date")
        .agg(
            stable_sum("_amount").alias("total_revenue"),
            F.count(F.lit(1)).alias("trip_count"),
        )
    )
