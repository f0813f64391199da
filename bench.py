"""Benchmark harness: run headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print a
single JSON line with per-query wall-clock seconds.

Each query is forced end-to-end with the ``noop`` sink (full execution,
no driver-side collect). One warm-up pass of the flagship query pays
JVM/codegen startup so numbers reflect steady-state throughput.

Per-query times are the MEDIAN of per-query reps: base
$SPARK_GRAFT_BENCH_REPS (default 3), AUTO-RAISED to
$SPARK_GRAFT_BENCH_REPS_FAST (default 7) for queries whose first rep
finishes under ``FAST_CUTOFF_S`` — on local mode a sub-second query
jitters by ±30% run-to-run (r6's customer_reach_by_nation swung 1.31×
with zero code change), and a 7-rep median narrows that band enough to
tell drift from regression. The FULL per-rep arrays are recorded under
``"reps_detail"`` so any future swing is classifiable from the
artifact alone, without re-running.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# Regime pin: every BENCH_r{N} record through r5 ran on an 8 g
# local-JVM heap (see BASELINE.md's heap note), and at sf0.1 the
# larger 16 g default measures ~7% slower from GC ergonomics alone.
# Pinning the bench heap keeps round-over-round totals like-for-like;
# big-memory workloads (scale probes, sf10+) export their own value.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

from nyc_taxi_data_engineering_spark.queries import bench_queries, run  # noqa: E402
from nyc_taxi_data_engineering_spark.queries.runner import noop_write  # noqa: E402
from nyc_taxi_data_engineering_spark.session import get_spark  # noqa: E402

FAST_CUTOFF_S = 1.0  # first-rep walls under this earn the larger rep count

# Queries pinned to the full rep count regardless of their first-rep
# wall: simhash_docs drifted 1.224 -> 2.154 -> 1.739 s across r4/r7/r8
# with UNCHANGED code and per-rep spans of 1.7-2.8 s — above the fast
# cutoff, so the 3-rep median couldn't separate JVM/page-cache state
# left by earlier queries from real regression. A 7-rep median can.
# r10: scd2_current_customers (0.853 -> 1.096 s r8->r9, reps
# 1.576/1.096/0.893 — a warm-in tail the 3-rep median catches
# mid-slope) and text_fingerprints (0.361 -> 0.401, same shape) join
# it per VERDICT r9 task 7 so their medians sit on converged tails.
FORCE_FULL_REPS = {"simhash_docs", "scd2_current_customers", "text_fingerprints"}

# Second board: a fixed 10-query slice of the heaviest engine families
# (dedup clustering, MinHash LSH, IVF-PQ ANN, LPA communities, TPC-H
# scan-agg, ExactSubstr spans, HLL windowed WAU, ALS, k-means,
# dangling-mass PageRank). The 13 headline queries cover <5% of the
# 300+-query registry and none of these families; this board puts them
# under the same median-noop regime so round-over-round regression
# tracking sees the new engine surface too. Recorded under "board2*"
# keys — "value"/"queries" stay the headline board, so cross-round
# totals remain like-for-like.
BOARD2 = [
    "dedup_clusters_docs",
    "minhash_lsh_pairs",
    "ivfpq_ann_topk",
    "lpa_copurchase_communities",
    "tpch_pricing_summary",
    "crossdoc_repeated_spans",
    "hll_wau_events",
    "als_supplier_recommendations",
    "kmeans_embeddings",
    "pagerank_purchase_sinks",
]

SKEW_PROBE = ("events_user_stats_salted", "supplier_copurchase_pairs", "key_skew_diagnostics")


def host_canary() -> float:
    """Single-core host-speed canary (VERDICT r10 task 3): the
    BASELINE.md 10M-iteration Python loop, best of 3. The build VM's
    CPU throughput swings ~2x between sessions (1.48 s <-> 0.65 s on
    this exact loop, BASELINE.md 'Host-throughput variance note'), so
    every bench record embeds its own host speed — a cross-round delta
    whose canaries differ is a host window, not a plan regression.
    Best-of-3 (not median) because the canary measures the host's
    PEAK, and transient stalls only ever inflate it."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        n = 0
        for i in range(10_000_000):
            n += i
        best = min(best, time.perf_counter() - t0)
    return best


def _canary_loop(_: int) -> float:
    t0 = time.perf_counter()
    n = 0
    for i in range(10_000_000):
        n += i
    return time.perf_counter() - t0


def host_canary_mc(procs: int = 8) -> float:
    """MULTI-core host-speed canary (optimization r12). The single-core
    canary repeatedly classified a window "fast" (0.37 s) while every
    32-way stage in the same run measured 2-4x slow — this VM's
    multi-core throughput swings independently of single-core
    (hypervisor neighbors stealing whole cores). Runs the same
    10M-iteration loop in ``procs`` concurrent processes and returns
    the total wall: on an uncontended host it tracks host_canary_s
    closely; a contended window inflates it, which is the signal.
    Recorded as ``host_canary_mc_s`` so cross-round deltas can be
    classified as host-window effects from the artifacts alone even
    when the single-core canary looks healthy."""
    from multiprocessing import Pool

    t0 = time.perf_counter()
    with Pool(procs) as pool:
        pool.map(_canary_loop, range(procs))
    return time.perf_counter() - t0


def run_query(spark, name: str, sf_dir: str) -> dict:
    """One rep: the runner's record (build and exec seconds and jobs)."""
    _, record = run(spark, name, sf_dir, noop_write)
    return record


def wall(record: dict) -> float:
    return record["build_s"] + record["exec_s"]


def run_query_reps(
    spark, name: str, sf_dir: str, reps: int, reps_fast: int, force_full: bool
) -> list[dict]:
    """The base reps' median decides the budget (the first rep alone
    is codegen-inflated): sub-``FAST_CUTOFF_S`` queries are
    noise-dominated, so they extend to ``reps_fast`` total — as do
    drift-flagged ``force_full`` queries. Returns every rep's record.

    Rep isolation (optimization r13, VERDICT r12 "What's wrong" #1):
    every rep starts from a CLEAN cache — ``queries.run`` releases every
    cache and pin in the context after each rep, OUTSIDE the timed
    region — so persist()-based optimizations (ALS ratings layout, CC
    edge lists, simhash proxies) are measured on full executions every
    rep instead of rep 1 silently feeding reps 2..N a warm cache.
    Medians for persist-touched queries are therefore cold-build walls
    from r13 on (r12's warm-rep medians understated them; the rep
    arrays in BENCH_DETAIL carry both regimes' evidence)."""
    records = [run_query(spark, name, sf_dir) for _ in range(reps)]
    if force_full or statistics.median(map(wall, records)) < FAST_CUTOFF_S:
        records.extend(run_query(spark, name, sf_dir) for _ in range(reps_fast - reps))
    return records


def run_board(spark, names, sf_dir: str, reps: int, reps_fast: int, forced) -> tuple[dict, dict, dict]:
    """``(median wall, every rep's wall, every rep's [build_jobs,
    exec_jobs])`` per query, each keyed by query name; the queries in
    ``forced`` run the full rep count."""
    medians, walls, jobs = {}, {}, {}
    for name in names:
        records = run_query_reps(spark, name, sf_dir, reps, reps_fast, name in forced)
        medians[name] = round(statistics.median(map(wall, records)), 3)
        walls[name] = [round(wall(r), 3) for r in records]
        jobs[name] = [[r["build_jobs"], r["exec_jobs"]] for r in records]
    return medians, walls, jobs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    canary_s = round(host_canary(), 3)  # before Spark starts: idle host
    canary_mc_s = round(host_canary_mc(), 3)
    run_id = f"run{int(time.time())}"

    spark = get_spark("bench")
    qs = bench_queries()

    # Warm-up: JVM JIT + codegen + parquet footer caches.
    warm = "daily_vendor_revenue" if "daily_vendor_revenue" in qs else next(iter(qs))
    run_query(spark, warm, sf_dir)

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    reps_fast = max(reps, int(os.environ.get("SPARK_GRAFT_BENCH_REPS_FAST", "7")))
    timings, detail, jobs = run_board(spark, sorted(qs), sf_dir, reps, reps_fast, FORCE_FULL_REPS)

    total = round(sum(timings.values()), 3)

    # Second board (heavy families), same regime. The runner's release
    # after every rep also isolates QUERIES from each other — the
    # pin()-heavy graph / clustering queries' checkpointed state is
    # freed before whoever runs next.
    board2, board2_detail, board2_jobs = run_board(spark, BOARD2, sf_dir, reps, reps_fast, ())

    # Skew probe (VERDICT r11 task 8): the hot-key tier certifies the
    # salting levers' ANSWERS (pytest -m adversarial); this records
    # their WALL-TIME behavior under a hot key in the same bench
    # record. Skipped silently when the local-only .scale_data/skew
    # tier isn't built (it is gitignored; `python
    # tools/adversarial_tier.py --build --skew` creates it).
    skew_dir = os.path.join(REPO, ".scale_data", "skew")
    skew_board, skew_detail, skew_jobs = (
        run_board(spark, SKEW_PROBE, skew_dir, reps, reps_fast, ())
        if os.path.isdir(skew_dir)
        else ({}, {}, {})
    )
    # The driver captures only the LAST 2000 bytes of stdout and parses
    # the final line as JSON: r9's line (rep arrays + board2 detail)
    # overflowed that window, the head of the line was cut, and
    # BENCH_r09.json recorded "parsed": null. Keep the stdout line
    # compact and spill the full per-rep detail to BENCH_DETAIL.json,
    # dropping optional keys if the line still wouldn't fit.
    record = {
        "metric": "total_bench_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # measurement regime, so cross-round comparisons can detect
        # apples-to-oranges (r1-r3 records were single-shot: no
        # "regime" key). tools/bench_compare.py warns on mismatch.
        "regime": "median-noop",
        "reps": reps,
        "reps_fast": reps_fast,
        "board2_total": round(sum(board2.values()), 3),
        "board2": board2,
        "detail_file": "BENCH_DETAIL.json",
        # host-speed self-classification + detail-file pairing id:
        # tools/bench_compare.py warns when canaries differ >1.3x and
        # refuses to merge a detail file whose run_id doesn't match
        # (BENCH_DETAIL.json is overwritten every run, so an unstamped
        # merge would graft the LATEST round's rep arrays onto any
        # historical record — ADVICE r10).
        "host_canary_s": canary_s,
        "host_canary_mc_s": canary_mc_s,
        # rep hygiene marker: every rep starts from a clean cache, so
        # medians of persist-touched queries are cold-build walls —
        # r12-and-earlier medians let reps 2..N reuse rep 1's persisted
        # intermediates. "clearCache" (r13) freed caches but kept pins;
        # "release" (queries.run) frees pins too.
        "rep_isolation": "release",
        "run_id": run_id,
    }
    if skew_board:
        record["skew_probe"] = skew_board
    detail_doc = {
        **record,
        "reps_detail": detail,
        "board2_reps_detail": board2_detail,
        "skew_reps_detail": skew_detail,
        # Spark jobs per rep, [build_jobs, exec_jobs] from the runner's
        # record: the build's share counts the eager pins' jobs.
        "jobs_detail": jobs,
        "board2_jobs_detail": board2_jobs,
        "skew_jobs_detail": skew_jobs,
        # First-rep (cold) wall per query, explicit (VERDICT r12 task 1):
        # with rep isolation every rep is cache-cold, so "cold" here
        # distinguishes the codegen/JIT-cold FIRST rep from the
        # converged tail the median reports.
        "queries_cold": {k: v[0] for k, v in detail.items()},
        "board2_cold": {k: v[0] for k, v in board2_detail.items()},
        "skew_cold": {k: v[0] for k, v in skew_detail.items()},
    }
    # Written twice: the unversioned name is the driver-facing latest,
    # the run_id-stamped copy makes rep arrays recoverable for ANY two
    # historical rounds (VERDICT r11 task 5 — BENCH_DETAIL.json alone
    # is overwritten every run, so only the latest round could merge).
    for fname in ("BENCH_DETAIL.json", f"BENCH_DETAIL_{run_id}.json"):
        with open(os.path.join(REPO, fname), "w") as fh:
            json.dump(detail_doc, fh, indent=1)
    line = json.dumps(record)
    for drop in ("skew_probe", "board2", "queries"):  # degrade gracefully, never overflow
        if len(line) <= 1800:
            break
        record.pop(drop, None)
        line = json.dumps(record)
    if len(line) > 1800:  # last-resort floor: the stdout contract can
        # never regress silently into the driver's 2000-byte tail
        # truncation (ADVICE r10) — a minimal record always fits.
        record = {
            "metric": "total_bench_seconds",
            "value": total,
            "unit": "sec",
            "sf": sf,
            "detail_file": "BENCH_DETAIL.json",
            "run_id": run_id,
        }
        line = json.dumps(record)
        assert len(line) <= 1800, f"minimal bench record still {len(line)}B"
    print(line)


if __name__ == "__main__":
    main()
