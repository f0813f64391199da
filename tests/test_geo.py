"""Geo family semantics: the neighbor-cell radius join is LOSSLESS vs
the brute-force pair scan, the derived points stay inside the pinned
box, and the cell-size guard rejects under-sized grids."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table
from nyc_taxi_data_engineering_spark.operators.geo import (
    LAT0,
    LAT_SPAN,
    LON0,
    LON_SPAN,
    derive_point,
    distance_km,
    radius_pairs,
)


def _points(spark, sf_dir):
    return derive_point(
        load_table(spark, sf_dir, "customer").select("c_custkey"), "c_custkey", "loc", "p"
    ).select("c_custkey", F.col("p_lat").alias("lat"), F.col("p_lon").alias("lon"))


def test_points_inside_pinned_box(spark, sf_dir):
    bad = (
        _points(spark, sf_dir)
        .filter(
            (F.col("lat") < LAT0)
            | (F.col("lat") >= LAT0 + LAT_SPAN)
            | (F.col("lon") < LON0)
            | (F.col("lon") >= LON0 + LON_SPAN)
        )
        .count()
    )
    assert bad == 0


def test_radius_pairs_match_brute_force(spark, sf_dir):
    """Losslessness: cell-join pairs == brute crossJoin pairs (same ids,
    same bit-identical distances) on the full sf0.01 customer set."""
    pts = _points(spark, sf_dir)
    fast = radius_pairs(pts, "c_custkey", 1.0, 0.01, 0.012)
    b = pts.select(
        F.col("c_custkey").alias("id_b"),
        F.col("lat").alias("latb"),
        F.col("lon").alias("lonb"),
    )
    brute = (
        pts.crossJoin(b)
        .filter(F.col("c_custkey") < F.col("id_b"))
        .withColumn("dist_km", distance_km(F.col("lat"), F.col("lon"), F.col("latb"), F.col("lonb")))
        .filter(F.col("dist_km") <= 1.0)
        .select(F.col("c_custkey").alias("id_a"), "id_b", "dist_km")
    )
    assert fast.count() == brute.count()
    assert fast.exceptAll(brute).count() == 0
    assert brute.exceptAll(fast).count() == 0


def test_radius_pairs_rejects_undersized_cells(spark, sf_dir):
    with pytest.raises(ValueError, match="radius_km"):
        radius_pairs(_points(spark, sf_dir), "c_custkey", 5.0, 0.01, 0.012)


def test_pair_ordering_and_bound(spark, sf_dir):
    rows = radius_pairs(_points(spark, sf_dir), "c_custkey", 1.0, 0.01, 0.012).collect()
    assert rows, "planted density should yield pairs at sf0.01"
    assert all(r.id_a < r.id_b for r in rows)
    assert all(r.dist_km <= 1.0 for r in rows)
