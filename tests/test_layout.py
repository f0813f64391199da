"""Layout-operator tests: Z-order clustering must yield file-level
min/max pruning on BOTH clustered columns (vs a 1-column sort, which
helps only its own column), and the Hilbert curve must walk its grid."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.operators.layout import zorder_cluster

# 16 files → a 4-bit z-prefix splits 2/2 across the two dims (~0.3-0.4
# span each). At 8 files the 3-bit prefix gives one dim only 1 bit and
# its span sits at ~0.58 — within sampling jitter of the 0.6 assert
# (repartitionByRange's bound sampling is seeded by rdd id, so spans
# shift run-to-run inside a shared session).
N_FILES = 16


def _per_file_span_frac(spark, path, col):
    """Mean (file max - file min) / (global max - global min) — the
    data-skipping proxy: small span = a point/range predicate on the
    column prunes most files."""
    df = spark.read.parquet(path).withColumn("_f", F.input_file_name())
    spans = (
        df.groupBy("_f")
        .agg((F.max(col) - F.min(col)).alias("span"))
        .agg(F.avg("span").alias("mean_span"))
        .collect()[0]["mean_span"]
    )
    g = df.agg((F.max(col) - F.min(col)).alias("g")).collect()[0]["g"]
    return float(spans) / float(g)


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    """100k rows over two INDEPENDENT uniform dims: sorted-by-x packs x
    tightly (span ~1/N_FILES) but leaves y unpruned (~1); z-order gives
    BOTH dims a span well below the unclustered baseline."""
    df = (
        spark.range(100_000)
        .withColumn("x", (F.col("id") * 2654435761) % 100_000)
        .withColumn("y", (F.col("id") * 40503) % 100_000)
        .drop("id")
    )
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    zorder_cluster(df, ["x", "y"], N_FILES).write.parquet(zpath)
    df.repartitionByRange(N_FILES, "x").sortWithinPartitions("x").write.parquet(spath)

    sx, sy = _per_file_span_frac(spark, spath, "x"), _per_file_span_frac(spark, spath, "y")
    zx, zy = _per_file_span_frac(spark, zpath, "x"), _per_file_span_frac(spark, zpath, "y")
    assert sx < 0.2 and sy > 0.8  # 1-col sort: only x prunes
    assert zx < 0.6 and zy < 0.6  # z-order: both dims prune
    assert len(glob.glob(os.path.join(zpath, "*.parquet"))) == N_FILES


def test_zorder_preserves_rows(spark, tmp_path):
    df = spark.range(1000).withColumn("x", F.col("id") % 37).withColumn("y", F.col("id") % 11)
    path = str(tmp_path / "zr")
    zorder_cluster(df, ["x", "y"], 4).write.parquet(path)
    back = spark.read.parquet(path)
    assert back.count() == 1000
    assert back.agg(F.sum("id")).collect()[0][0] == 999 * 1000 // 2
    assert "_z" not in back.columns


def test_hilbert_curve_is_a_gapless_unit_step_walk(spark):
    """The defining Hilbert property (and what Morton lacks): d values
    over the full 8x8 grid are a permutation of 0..63 AND every
    consecutive pair of cells on the curve is one unit apart in the
    grid — no diagonal jumps, ever."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.operators.layout import with_hilbert

    cells = spark.range(64).select(
        (F.col("id") % 8).alias("x"), (F.col("id") / 8).cast("long").alias("y")
    )
    rows = (
        with_hilbert(cells, F.col("x"), F.col("y"), bits=3)
        .orderBy("_hd")
        .collect()
    )
    assert [r["_hd"] for r in rows] == list(range(64))
    for a, b in zip(rows, rows[1:]):
        assert abs(a["x"] - b["x"]) + abs(a["y"] - b["y"]) == 1


def test_hilbert_cluster_prunes_both_dimensions(spark, tmp_path):
    """Hilbert-clustered files must allow stats skipping on BOTH
    columns, like Z-order: a range predicate on either column selects
    a strict subset of files by footer min/max."""
    import pyarrow.parquet as pq

    from nyc_taxi_data_engineering_spark.operators.layout import hilbert_cluster

    df = spark.range(64_000).selectExpr(
        "id % 256 AS x", "CAST(id / 256 AS LONG) AS y", "id AS payload"
    )
    path = str(tmp_path / "hilbert")
    hilbert_cluster(df, ["x", "y"], 16).write.mode("overwrite").parquet(path)

    import glob

    files = sorted(glob.glob(f"{path}/*.parquet"))
    assert len(files) >= 8
    kept_x = kept_y = 0
    for f in files:
        md = pq.read_metadata(f)
        lo_x = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
        hi_x = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
        lo_y = min(md.row_group(i).column(1).statistics.min for i in range(md.num_row_groups))
        hi_y = max(md.row_group(i).column(1).statistics.max for i in range(md.num_row_groups))
        if lo_x <= 32:
            kept_x += 1
        if lo_y <= 32:
            kept_y += 1
        del hi_x, hi_y
    # a predicate x<=32 (or y<=32) must skip most files on stats alone
    assert kept_x <= len(files) // 2
    assert kept_y <= len(files) // 2


def test_hilbert_cluster_preserves_rows(spark, tmp_path):
    from nyc_taxi_data_engineering_spark.operators.layout import hilbert_cluster

    df = spark.range(10_000).selectExpr("id % 100 AS x", "CAST(id / 100 AS LONG) AS y")
    path = str(tmp_path / "h2")
    hilbert_cluster(df, ["x", "y"], 4).write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.selectExpr("sum(x)", "sum(y)").collect() == df.selectExpr(
        "sum(x)", "sum(y)"
    ).collect()
