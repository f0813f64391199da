"""Registry-wide physical-plan audit (optimization r12, guide §7.2).

Builds EVERY registered query's DataFrame (default sf0.01 — query
construction executes any eager pins) and records plan-shape features
from ``explain('formatted')``: exchanges, join strategies, cartesian /
nested-loop joins, Python eval nodes, sorts, windows — plus the wall
and Spark-job count of construction. One row per query to
``plans/<tag>/plan_audit.json``; flags the shapes worth human eyes:

  - CartesianProduct anywhere;
  - BroadcastNestedLoopJoin (fine for 1-row scalar merges, a smell
    otherwise);
  - more than one Python-eval node (duplicated UDF evaluation, §4.4);
  - top decile of construction jobs (pin-heavy loops).

Usage:
    python tools/plan_audit.py [--sf-dir /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import re
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

PLAN_FEATURES = {
    "exchanges": re.compile(r"^\s*[+:*-]*\s*\(?\d+\)?\s*Exchange", re.M),
    "broadcast_exch": re.compile(r"BroadcastExchange", re.M),
    "smj": re.compile(r"SortMergeJoin", re.M),
    "bhj": re.compile(r"BroadcastHashJoin", re.M),
    "shj": re.compile(r"ShuffledHashJoin", re.M),
    "bnlj": re.compile(r"BroadcastNestedLoopJoin", re.M),
    "cartesian": re.compile(r"CartesianProduct", re.M),
    "py_eval": re.compile(r"BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|FlatMapGroupsIn", re.M),
    "sorts": re.compile(r"^\s*[+:*-]*\s*\(?\d+\)?\s*Sort\b", re.M),
    "windows": re.compile(r"\bWindow\b", re.M),
    "scan_rdd": re.compile(r"Scan ExistingRDD", re.M),
}


def plan_summary(text: str) -> dict[str, int]:
    return {k: len(rx.findall(text)) for k, rx in PLAN_FEATURES.items()}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="r12")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from nyc_taxi_data_engineering_spark.queries import all_queries
    from nyc_taxi_data_engineering_spark.session import get_spark

    reg = all_queries()
    names = args.names or list(reg)
    spark = get_spark("plan_audit")
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    rows = []
    for name in names:
        spark.catalog.clearCache()
        j0 = store.jobsList(None).size()
        t0 = time.perf_counter()
        try:
            df = reg[name](spark, args.sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            rec = dict(name=name, **plan_summary(buf.getvalue()))
        except Exception as e:  # noqa: BLE001 — audit must finish the sweep
            traceback.print_exc()
            rec = dict(name=name, error=str(e)[:200])
        rec["build_s"] = round(time.perf_counter() - t0, 3)
        rec["build_jobs"] = store.jobsList(None).size() - j0
        rows.append(rec)
        print(json.dumps(rec), flush=True)

    out_dir = os.path.join(REPO, "plans", args.tag)
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, "plan_audit.json")
    with open(out, "w") as fh:
        json.dump(rows, fh, indent=1)

    flags = []
    for r in rows:
        if r.get("error"):
            flags.append((r["name"], "ERROR: " + r["error"]))
        if r.get("cartesian"):
            flags.append((r["name"], f"CartesianProduct x{r['cartesian']}"))
        if r.get("py_eval", 0) > 1:
            flags.append((r["name"], f"python-eval x{r['py_eval']}"))
        if r.get("bnlj", 0) > 2:
            flags.append((r["name"], f"BroadcastNestedLoopJoin x{r['bnlj']}"))
    print(f"\n# {len(rows)} queries audited -> {out}")
    for n, why in flags:
        print(f"FLAG {n}: {why}")


if __name__ == "__main__":
    main()
