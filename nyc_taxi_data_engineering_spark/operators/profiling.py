"""Table-profiling operator: per-column null counts, cardinality, and
min/max in ONE scan, returned in long format (one row per column).

The reference has no profiling surface at all; its closest analog is
the ad-hoc count/null checks scattered through the Glue jobs
(nyc_raw_to_validated_etl.py's per-rule counts). This generalizes them
into a reusable ``profile(df, cols)``.

Scale design:
- Everything is computed in a SINGLE ``df.agg(...)`` — one scan, one
  reduce, map-side partial aggregation for every stat. The long-format
  pivot happens on the 1-row result via ``stack``, which is free.
- Exact distinct counts plan as Catalyst's Expand: the input is
  replicated once per distinct-agg column before the shuffle. Fine up
  to a handful of columns; a 100 TB or wide profile wants HLL sketches
  (``approx_count_distinct``: one pass, no Expand, ~2% error) instead.
- min/max stringification is type-directed (see ``_stringify``) so the
  output schema is stable regardless of profiled column types, and
  formats are engine-portable (decimal rendering, not raw double
  repr, which differs between engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as Ty

# Decimal shape used to render float min/max — wide enough for money
# and metrics, fixed scale so Spark and DuckDB print identical text.
FLOAT_DEC = "decimal(24,6)"
TS_FMT = "yyyy-MM-dd HH:mm:ss"


def _stringify(col: Column, dt: Ty.DataType) -> Column:
    """Engine-portable string rendering of a min/max value."""
    if isinstance(dt, (Ty.FloatType, Ty.DoubleType)):
        return col.cast(FLOAT_DEC).cast("string")
    if isinstance(dt, Ty.TimestampType):
        return F.date_format(col, TS_FMT)
    if isinstance(dt, Ty.DateType):
        return F.date_format(col, "yyyy-MM-dd")
    return col.cast("string")


def profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Profile ``cols`` of ``df``.

    Returns one row per column:
    (column_name, n_rows, n_nulls, n_distinct, min_value, max_value,
    null_pct) — null_pct rounded to 2, min/max as portable strings.
    """
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"__cnt__{c}"),
            F.countDistinct(F.col(c)).alias(f"__dst__{c}"),
            _stringify(F.min(F.col(c)), dtypes[c]).alias(f"__min__{c}"),
            _stringify(F.max(F.col(c)), dtypes[c]).alias(f"__max__{c}"),
        ]
    wide = df.agg(*aggs)
    # Pivot the 1-row wide result to long format: stack(n, label, expr...)
    stack_args: list[str] = []
    for c in cols:
        stack_args += [
            f"'{c}'",
            f"`__cnt__{c}`",
            f"`__dst__{c}`",
            f"`__min__{c}`",
            f"`__max__{c}`",
        ]
    n_cols = len(cols)
    long = wide.select(
        F.col("__n").alias("n_rows"),
        F.expr(
            f"stack({n_cols}, {', '.join(stack_args)}) AS "
            "(column_name, __cnt, n_distinct, min_value, max_value)"
        ),
    )
    return long.select(
        "column_name",
        "n_rows",
        (F.col("n_rows") - F.col("__cnt")).alias("n_nulls"),
        "n_distinct",
        "min_value",
        "max_value",
        # guarded for the 0-row table (ANSI divide-by-zero in Spark,
        # engine-dependent float 0/0 in DuckDB): pinned NULL both sides
        F.when(
            F.col("n_rows") > 0,
            F.round((F.col("n_rows") - F.col("__cnt")) * 100.0 / F.col("n_rows"), 2),
        ).alias("null_pct"),
    )


def sql_profile_oracle(table: str, cols: list[tuple[str, str]]) -> str:
    """DuckDB twin: UNION ALL of per-column profile rows.

    ``cols`` is (name, kind) with kind in {'str','int','float','ts',
    'date'} selecting the same stringification as :func:`_stringify`.
    """

    def render(c: str, kind: str, agg: str) -> str:
        e = f"{agg}({c})"
        if kind == "float":
            return f"CAST(CAST({e} AS DECIMAL(24,6)) AS VARCHAR)"
        if kind == "ts":
            return f"strftime({e}, '%Y-%m-%d %H:%M:%S')"
        if kind == "date":
            return f"strftime({e}, '%Y-%m-%d')"
        return f"CAST({e} AS VARCHAR)"

    selects = [
        f"""SELECT '{c}' AS column_name,
            COUNT(*) AS n_rows,
            COUNT(*) - COUNT({c}) AS n_nulls,
            CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
            {render(c, kind, 'MIN')} AS min_value,
            {render(c, kind, 'MAX')} AS max_value,
            CASE WHEN COUNT(*) > 0 THEN
                 ROUND((COUNT(*) - COUNT({c})) * 100.0 / COUNT(*), 2) END AS null_pct
            FROM {table}"""
        for c, kind in cols
    ]
    return "\nUNION ALL\n".join(selects)
