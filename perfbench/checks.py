"""Correctness checks run by the benchmark, outside every timed region.

* Query workloads: each query's collected output is compared exactly with
  its DuckDB oracle through ``tools/oracle_check.compare``.  Oracle results
  are computed once and cached on disk, keyed by the oracle SQL and the
  bytes of the input files, because a few of them take many seconds.
* Medallion workload: after every pipeline run the per-zone row counts,
  the stage statuses and the run-metrics JSON are checked against DuckDB
  counts over the same generated input.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from nyc_taxi_data_engineering_spark.queries.validation import _ALL_PASS as _VALID
from tools.oracle_check import duckdb_con


def files_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


class OracleCache:
    """DuckDB oracle results for one input directory, memoised in
    ``cache_dir`` as pickled DataFrames (pickle keeps the exact dtypes
    ``compare`` checks)."""

    def __init__(self, sf_dir: str, cache_dir: str):
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self.inputs = files_digest(glob.glob(os.path.join(sf_dir, "*.parquet")))
        self._con: duckdb.DuckDBPyConnection | None = None

    def result(self, sql: str) -> pd.DataFrame:
        key = hashlib.sha256((self.inputs + "\0" + sql).encode()).hexdigest()[:32]
        path = os.path.join(self.cache_dir, f"{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        if self._con is None:
            self._con = duckdb_con(self.sf_dir)
        df = self._con.execute(sql).fetchdf()
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        df.to_pickle(tmp)
        os.replace(tmp, path)
        return df

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def etl_expected(etl_dir: str) -> dict[str, int]:
    """Row counts every medallion zone must hold for the input in ``etl_dir``."""
    li = os.path.join(etl_dir, "lineitem.parquet", "*.parquet")
    sup = os.path.join(etl_dir, "supplier.parquet")
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW li AS SELECT * FROM read_parquet('{li}')")
        con.execute(f"CREATE VIEW sup AS SELECT * FROM read_parquet('{sup}')")
        read, valid = con.execute(
            f"SELECT COUNT(*), COUNT(*) FILTER (WHERE {_VALID}) FROM li").fetchone()
        daily = con.execute(
            f"SELECT COUNT(*) FROM (SELECT l_suppkey, CAST(l_shipdate AS DATE) FROM li "
            f"WHERE {_VALID} AND l_suppkey IN (SELECT s_suppkey FROM sup WHERE s_acctbal > 0) "
            "GROUP BY 1, 2)").fetchone()[0]
    finally:
        con.close()
    return {
        "records_read": int(read),
        "validated": int(valid),
        "quarantine": int(read - valid),
        "curated": int(valid),
        "daily_revenue": int(daily),
        "lineage": 3,
    }


def _parquet_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def check_etl_run(out_root: str, runs, expected: dict[str, int], run_id: str) -> list[str]:
    """Mismatches between one finished pipeline run and ``expected``."""
    errs = [f"stage {r.stage} {r.status}: {r.error}" for r in runs if r.status != "SUCCEEDED"]
    zones = {
        "validated": "validated/trips",
        "quarantine": "quarantine/trips",
        "curated": "curated/trips",
        "daily_revenue": "analytics/daily_revenue",
        "lineage": "governance/lineage",
    }
    for name, rel in zones.items():
        got = _parquet_rows(os.path.join(out_root, rel))
        if got != expected[name]:
            errs.append(f"{name} rows {got} != {expected[name]}")
    metric_files = glob.glob(os.path.join(out_root, "audit", "metrics", "validate", "*.json"))
    lines = [json.loads(ln) for f in metric_files for ln in open(f) if ln.strip()]
    want = {
        "run_id": run_id,
        "job_name": "validate",
        "records_read": expected["records_read"],
        "records_valid": expected["validated"],
        "records_quarantined": expected["quarantine"],
        "status": "PARTIAL" if expected["quarantine"] else "CLEAN",
    }
    if lines != [want]:
        errs.append(f"metrics json {lines} != {[want]}")
    return errs
