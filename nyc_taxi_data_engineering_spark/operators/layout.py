"""Physical-layout operators: Z-order (Morton) and Hilbert clustering
for multi-dimensional data skipping.

Z-ordering is what makes "WHERE a BETWEEN ... AND b BETWEEN ..."
prune files on BOTH columns: sorting by (a, b) gives perfect skipping
on `a` and none on `b`; interleaving the bits of both keys gives good
(bounded-loss) skipping on each. This is the same layout strategy
Delta Lake's OPTIMIZE ZORDER BY and Iceberg's sort-order rewrite use;
here it is expressed as pure DataFrame ops so any parquet table can be
clustered.

Scale design:
- Column normalization uses GLOBAL min/max from one agg (broadcast 1
  row) — a second full pass is avoided by letting the range join ride
  the same scan.
- The z-value is native bit arithmetic (shiftright/&/<<) inside
  whole-stage codegen — no UDF.
- ``repartitionByRange(z)`` does one range shuffle (sampled bounds),
  and ``sortWithinPartitions`` keeps row groups internally ordered so
  parquet page/row-group stats are tight, not just file stats.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Z_BITS = 16  # per-column resolution: 2^16 cells per dimension


def _normalize_to_grid(col: Column, lo: Column, hi: Column) -> Column:
    """Map a numeric column onto the [0, 2^Z_BITS) integer grid by global
    min/max scaling (constant columns collapse to cell 0)."""
    cells = (1 << Z_BITS) - 1
    span = (hi - lo).cast("double")
    frac = F.when(span > 0, (col.cast("double") - lo.cast("double")) / span).otherwise(
        F.lit(0.0)
    )
    return F.least(F.floor(frac * cells).cast("long"), F.lit(cells))


def zvalue(grid_cols: list[Column]) -> Column:
    """Morton code: interleave the bits of pre-gridded integer columns
    (col i contributes bit b to output bit b*n + i)."""
    n = len(grid_cols)
    z = F.lit(0).cast("long")
    for b in range(Z_BITS):
        for i, g in enumerate(grid_cols):
            bit = F.shiftright(g, b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, b * n + i)
    return z


def zorder_cluster(df: DataFrame, cols: list[str], n_files: int) -> DataFrame:
    """``df`` range-partitioned into ``n_files`` tasks by the Z-order
    of ``cols`` and sorted within each — every output file then covers
    a tight min/max range on EVERY clustered column, so any stats-aware
    sink (parquet footers, the Delta log's per-file ``stats``) can skip
    most files for a filter on any of them."""
    bounds = df.agg(
        *[f(c).alias(f"_{tag}_{c}") for c in cols for tag, f in (("lo", F.min), ("hi", F.max))]
    )
    with_bounds = df.crossJoin(F.broadcast(bounds))  # 1-row bounds side
    grids = [_normalize_to_grid(F.col(c), F.col(f"_lo_{c}"), F.col(f"_hi_{c}")) for c in cols]
    return (
        with_bounds.withColumn("_z", zvalue(grids))
        .drop(*[f"_{tag}_{c}" for c in cols for tag in ("lo", "hi")])
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def hilbert_step(df: DataFrame, b: int, bits: int) -> DataFrame:
    """One bit-level of the Hilbert curve transform (classic xy2d:
    quadrant digit + rotation/reflection) over ``_hx``/``_hy`` into
    ``_hd``, as a PROJECTION producing fresh columns. Chained
    projections keep the expression tree linear — inlining the step
    into one nested Column would duplicate x/y three times per level
    (3^bits nodes). CollapseProject leaves the
    chain alone because each alias is referenced more than once by
    non-cheap expressions."""
    s = 1 << b
    n1 = (1 << bits) - 1
    x, y, d = "_hx", "_hy", "_hd"
    rx = F.shiftright(F.col(x), b).bitwiseAND(F.lit(1))
    ry = F.shiftright(F.col(y), b).bitwiseAND(F.lit(1))
    digit = (rx * 3).bitwiseXOR(ry)
    new_d = F.col(d) + F.lit(s).cast("long") * F.lit(s) * digit
    # ry==0: reflect when rx==1 (about the FULL grid, n-1-v), then swap
    new_x = F.when(ry == 1, F.col(x)).otherwise(
        F.when(rx == 1, F.lit(n1) - F.col(y)).otherwise(F.col(y))
    )
    new_y = F.when(ry == 1, F.col(y)).otherwise(
        F.when(rx == 1, F.lit(n1) - F.col(x)).otherwise(F.col(x))
    )
    return df.withColumns({d: new_d, x: new_x, y: new_y})


def with_hilbert(df: DataFrame, xcol: Column, ycol: Column, bits: int = Z_BITS) -> DataFrame:
    """Add the Hilbert-curve distance of two pre-gridded integer
    columns as ``_hd``. Pure native bit arithmetic in codegen (no
    UDF); ``bits`` chained projections."""
    work = df.withColumns(
        {"_hx": xcol.cast("long"), "_hy": ycol.cast("long"), "_hd": F.lit(0).cast("long")}
    )
    for b in range(bits - 1, -1, -1):
        work = hilbert_step(work, b, bits)
    return work.drop("_hx", "_hy")


def hilbert_cluster(df: DataFrame, cols: list[str], n_files: int) -> DataFrame:
    """Two-dimensional Hilbert clustering — same contract as
    :func:`zorder_cluster` but along the Hilbert curve, which never
    takes the Morton curve's long diagonal jumps: every unit step on
    the curve is a unit step in the grid, so file min/max boxes are
    tighter on average and stats-based skipping prunes at least as
    well. Hilbert costs ``Z_BITS`` chained projections instead of
    Morton's one, which only matters at write time."""
    if len(cols) != 2:
        raise ValueError("hilbert_cluster is 2-D; use zorder_cluster for other arities")
    bounds = df.agg(
        *[f(c).alias(f"_{tag}_{c}") for c in cols for tag, f in (("lo", F.min), ("hi", F.max))]
    )
    with_bounds = df.crossJoin(F.broadcast(bounds))
    gx, gy = [
        _normalize_to_grid(F.col(c), F.col(f"_lo_{c}"), F.col(f"_hi_{c}")) for c in cols
    ]
    return (
        with_hilbert(with_bounds, gx, gy)
        .drop(*[f"_{tag}_{c}" for c in cols for tag in ("lo", "hi")])
        .repartitionByRange(n_files, "_hd")
        .sortWithinPartitions("_hd")
        .drop("_hd")
    )
