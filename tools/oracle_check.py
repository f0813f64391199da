"""Local mirror of the driver's DuckDB-oracle correctness harness.

For every registered query with an oracle: run the Spark query and the
DuckDB SQL on the same parquet tables, then compare row count, sorted
column names, and order-insensitive values. Floats are compared with
EXACT bit equality (NaN==NaN allowed) — the driver hashes values
exactly, so any tolerance here is a hole the driver will find.
Pass --tolerant for np.isclose triage mode (diagnosis only; a query is
NOT certified until it passes the default exact mode).

Usage: python tools/oracle_check.py [--tolerant] [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from nyc_taxi_data_engineering_spark.catalog import TABLES, table_path  # noqa: E402


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = table_path(sf_dir, t)
        if os.path.isdir(p):
            # Spark-written tables (e.g. the .scale_data tiers) are
            # directories of part files; DuckDB needs the glob form.
            # Recursive + hive_partitioning so a partitionBy() layout
            # (part files nested under key=value dirs) reads fully
            # instead of silently becoming an empty view (ADVICE r10);
            # the non-empty assert catches any remaining layout drift.
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{p}/**/*.parquet', hive_partitioning=true)"
            )
            n = con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
            assert n > 0, f"oracle view {t} is EMPTY — glob missed {p}'s layout"
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dtype, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            df[c] = s.map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    sort_key = df.astype(str)
    order = sort_key.sort_values(by=list(df.columns), kind="mergesort").index
    return df.loc[order].reset_index(drop=True)


def compare(
    spark_pdf: pd.DataFrame,
    oracle_pdf: pd.DataFrame,
    name: str,
    tolerant: bool = False,
) -> list[str]:
    errs: list[str] = []
    if sorted(map(str.lower, spark_pdf.columns)) != sorted(map(str.lower, oracle_pdf.columns)):
        errs.append(f"columns differ: spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}")
        return errs
    oracle_pdf = oracle_pdf.rename(columns={c: c.lower() for c in oracle_pdf.columns})
    spark_pdf = spark_pdf.rename(columns={c: c.lower() for c in spark_pdf.columns})
    if len(spark_pdf) != len(oracle_pdf):
        errs.append(f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
        return errs
    a, b = _canon(spark_pdf), _canon(oracle_pdf)
    for c in a.columns:
        sa, sb = a[c], b[c]
        # The driver hashes values exactly: an int64 Spark column vs a
        # float64 oracle column (e.g. DuckDB SUM(int) -> HUGEINT -> float64)
        # hash-mismatches even when values are numerically equal. Mirror that.
        fa_f, fb_f = pd.api.types.is_float_dtype(sa), pd.api.types.is_float_dtype(sb)
        ia_i = pd.api.types.is_integer_dtype(sa) or pd.api.types.is_bool_dtype(sa)
        ib_i = pd.api.types.is_integer_dtype(sb) or pd.api.types.is_bool_dtype(sb)
        if (fa_f and ib_i) or (ia_i and fb_f):
            errs.append(
                f"col {c}: dtype mismatch spark={sa.dtype} oracle={sb.dtype} "
                "(driver hashes exactly; CAST the oracle to BIGINT/DOUBLE to match)"
            )
            continue
        if fa_f or fb_f:
            fa = sa.astype(float).to_numpy()
            fb = sb.astype(float).to_numpy()
            both_nan = np.isnan(fa) & np.isnan(fb)
            if tolerant:
                close = np.isclose(fa, fb, rtol=1e-9, atol=1e-9) | both_nan
            else:
                # Driver contract: exact bit equality (the driver hashes
                # repr'd values; any sub-ULP disagreement fails the hash).
                close = (fa == fb) | both_nan
            if not close.all():
                i = int(np.argmin(close))
                errs.append(
                    f"col {c}: value mismatch at sorted-row {i}: {fa[i]!r} vs {fb[i]!r}"
                    f" (diff {fa[i] - fb[i]:.3e})"
                )
        else:
            eq = (sa.astype(str) == sb.astype(str)) | (sa.isna() & sb.isna())
            if not eq.all():
                i = int(np.argmin(eq.to_numpy()))
                errs.append(f"col {c}: value mismatch at sorted-row {i}: {sa.iloc[i]!r} vs {sb.iloc[i]!r}")
    return errs


def main() -> int:
    argv = [a for a in sys.argv[1:]]
    tolerant = "--tolerant" in argv
    if tolerant:
        argv.remove("--tolerant")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    from nyc_taxi_data_engineering_spark.queries import registry, run
    from nyc_taxi_data_engineering_spark.session import get_spark

    reg = registry()
    unknown = only - set(reg)
    if unknown:
        print(f"unknown queries: {sorted(unknown)}; available: {sorted(reg)}")
        return 2

    spark = get_spark("oracle_check")
    con = duckdb_con(sf_dir)
    failed = []
    for name, spec in sorted(reg.items()):
        if only and name not in only:
            continue
        try:
            spark_pdf, _ = run(spark, name, sf_dir, lambda df: df.toPandas())
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if spec.oracle is None:
            print(f"SKIP {name}: no oracle (rows-only) — spark rows={len(spark_pdf)}")
            continue
        try:
            oracle_pdf = con.execute(spec.oracle).fetchdf()
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        errs = compare(spark_pdf, oracle_pdf, name, tolerant=tolerant)
        if errs:
            failed.append(name)
            print(f"FAIL {name}: " + "; ".join(errs))
        else:
            print(f"OK   {name}: rows={len(spark_pdf)}")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
