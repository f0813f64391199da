"""Chunked EXACT value compare for sf10 result grains too large for a
whole-result toPandas (VERDICT r11 task 3: the five comparison-bound
rows — daily_vendor_revenue{,_sql}, supplier_daily_gapfill,
supplier_daily_interpolate, supplier_rolling_revenue_7d — whose
per-(key,day) grains reach ~240M rows at sf10).

Method: both engines materialize the FULL result once (Spark → a temp
parquet under .tmp/, DuckDB → a temp table), then the comparison
streams by md5 hash-bucket of the first integer key column — the SAME
oracle-portable bucket function the sampling operators use
(operators/sampling.hash_bucket / hash_bucket_sql), so both engines
partition the result identically without assuming anything about row
order. Each chunk goes through tools/oracle_check.compare, i.e. the
exact-bit comparator (sorted columns, canonicalized rows, NaN==NaN) —
this is the full driver-grade value check, just applied a few million
rows at a time, NOT a weaker aggregate digest (tools/sf10_agg_check.py
remains the quick screen).

Usage: python tools/sf10_chunked_check.py [sf_dir] [query ...]
Defaults: .scale_data/sf10 and the five comparison-bound queries.
"""

from __future__ import annotations

import math
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TARGET_CHUNK_ROWS = 4_000_000

DEFAULT_NAMES = [
    "daily_vendor_revenue",
    "daily_vendor_revenue_sql",
    "supplier_daily_gapfill",
    "supplier_daily_interpolate",
    "supplier_rolling_revenue_7d",
]


def _key_col(df) -> str:
    from pyspark.sql import types as T

    for f in df.schema.fields:
        if isinstance(f.dataType, (T.LongType, T.IntegerType, T.ShortType)):
            return f.name
    raise SystemExit(f"no integer key column to bucket on in {df.columns}")


def check(spark, con, name: str, spec, sf_dir: str, tmp_root: str) -> list[str]:
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.operators.sampling import (
        hash_bucket,
        hash_bucket_sql,
    )
    from nyc_taxi_data_engineering_spark.queries import run
    from tools.oracle_check import compare

    snap = os.path.join(tmp_root, f"chunked_{name}")
    shutil.rmtree(snap, ignore_errors=True)
    # materialize Spark ONCE
    run(spark, name, sf_dir, lambda df: df.write.mode("overwrite").parquet(snap))
    res = spark.read.parquet(snap)
    key = _key_col(res)
    n_rows = res.count()
    nchunks = max(1, math.ceil(n_rows / TARGET_CHUNK_ROWS))

    con.execute("DROP TABLE IF EXISTS _chunked_res")
    con.execute(f"CREATE TEMP TABLE _chunked_res AS {spec.oracle}")  # oracle ONCE
    o_rows = con.execute("SELECT COUNT(*) FROM _chunked_res").fetchone()[0]
    if o_rows != n_rows:
        return [f"row count: spark={n_rows} oracle={o_rows}"]

    errs: list[str] = []
    sb = hash_bucket(F.col(key), seed="chunk", n_buckets=nchunks)
    ob = hash_bucket_sql(f'"{key}"', seed="chunk", n_buckets=nchunks)
    for i in range(nchunks):
        spark_pdf = res.filter(sb == i).toPandas()
        oracle_pdf = con.execute(
            f"SELECT * FROM _chunked_res WHERE {ob} = {i}"
        ).fetchdf()
        errs += [
            f"chunk {i}/{nchunks}: {e}"
            for e in compare(spark_pdf, oracle_pdf, f"{name}[{i}]")
        ]
        if errs:
            break  # first divergent chunk is enough signal
        print(
            f"     {name}: chunk {i + 1}/{nchunks} ok ({len(spark_pdf)} rows)",
            flush=True,
        )
    shutil.rmtree(snap, ignore_errors=True)
    con.execute("DROP TABLE IF EXISTS _chunked_res")
    return errs


def main() -> int:
    from nyc_taxi_data_engineering_spark.queries import registry
    from nyc_taxi_data_engineering_spark.session import get_spark
    from tools.oracle_check import duckdb_con

    argv = sys.argv[1:]
    sf_dir = argv[0] if argv else os.path.join(REPO, ".scale_data", "sf10")
    names = argv[1:] or DEFAULT_NAMES

    reg = registry()
    spark = get_spark("sf10_chunked_check")
    con = duckdb_con(sf_dir)
    tmp_root = os.path.join(REPO, ".tmp")
    os.makedirs(tmp_root, exist_ok=True)
    failed = []
    for name in names:
        try:
            errs = check(spark, con, name, reg[name], sf_dir, tmp_root)
        except Exception as e:  # noqa: BLE001
            errs = [f"exception: {e}"]
        if errs:
            failed.append(name)
            print(f"FAIL {name}: " + "; ".join(errs))
        else:
            print(f"OK   {name}: chunk-exact value-verified")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
