from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.operators.validate import validate_split


def trips(spark):
    rows = [
        # valid
        (1, "2025-08-01 10:00:00", "2025-08-01 10:30:00", 2, 3.5, 10.0, 15.0, 100),
        # negative fare
        (2, "2025-08-01 11:00:00", "2025-08-01 11:30:00", 1, 2.0, -5.0, -5.0, 101),
        # zero distance
        (1, "2025-08-01 12:00:00", "2025-08-01 12:10:00", 1, 0.0, 4.0, 5.0, 102),
        # dropoff before pickup
        (2, "2025-08-01 13:00:00", "2025-08-01 12:59:00", 1, 1.0, 4.0, 5.0, 103),
        # null pulocation
        (1, "2025-08-01 14:00:00", "2025-08-01 14:30:00", 1, 1.0, 4.0, 5.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "vendorid int, pickup string, dropoff string, passenger_count int, "
        "trip_distance double, fare_amount double, total_amount double, pulocationid int",
    )
    return df.withColumn("tpep_pickup_datetime", F.col("pickup").cast("timestamp")).withColumn(
        "tpep_dropoff_datetime", F.col("dropoff").cast("timestamp")
    )


def trip_checks():
    # Mirrors the reference validity CASE (nyc_raw_to_validated_etl.py:67-74)
    return {
        "pulocation_not_null": F.col("pulocationid").isNotNull(),
        "fare_non_negative": F.col("fare_amount") >= 0,
        "distance_positive": F.col("trip_distance") > 0,
        "dropoff_after_pickup": F.col("tpep_dropoff_datetime") >= F.col("tpep_pickup_datetime"),
    }


def test_validate_split_reasons(spark):
    split = validate_split(trips(spark), trip_checks())
    assert split.valid.count() == 1
    reasons = {r["pulocationid"]: r["reason"] for r in split.quarantine.collect()}
    assert reasons[101] == "fare_non_negative"
    assert reasons[102] == "distance_positive"
    assert reasons[103] == "dropoff_after_pickup"
    assert reasons[None] == "pulocation_not_null"
