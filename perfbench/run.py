"""taxiflow benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 5 --trace 0

Workloads (perfbench/README.md says why each was chosen):

* ``queries``       — the 13 headline registry queries, then the 10
  heavy-family queries.
* ``medallion_etl`` — full ``plans.pipeline`` runs over seeded input.

A run prepares its inputs (generated once per checkout under
``perfbench/.work``), starts the engine's session and runs one small
warm-up job over those inputs: that is the set-up.  Then a closed loop with
one client runs operations (a query, or a pipeline run) pass after pass,
in a fixed order, until ``--seconds`` have passed and at least one full
pass is done; with the benchmark's ``run_seconds`` that is exactly one
pass on a freshly started engine.  A query's result is collected to
the driver (``toPandas``), and the first time a query runs in the process
that result is compared with its DuckDB oracle; every pipeline run is
checked against DuckDB counts.  Checks are outside the timers.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics from status-store snapshots taken around every measured call.  The
last stdout line is the result.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import layers  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CORES = len(os.sched_getaffinity(0))

# Pinned query sets: later edits to the registry's bench flags or to
# bench.BOARD2 do not move the workload.  A pass runs HEADLINE, then HEAVY.
HEADLINE = [
    "ann_cosine_topk", "customer_reach_by_nation", "daily_vendor_revenue",
    "events_tumbling_stats", "ngram_jaccard_pairs", "ri_gate_kept_by_supplier",
    "scd2_current_customers", "simhash_docs", "supplier_rolling_revenue_7d",
    "text_fingerprints", "text_token_stats", "trade_flows_by_nation",
    "validate_split_quarantine",
]
HEAVY = [
    "dedup_clusters_docs", "minhash_lsh_pairs", "ivfpq_ann_topk",
    "lpa_copurchase_communities", "tpch_pricing_summary", "crossdoc_repeated_spans",
    "hll_wau_events", "als_supplier_recommendations", "kmeans_embeddings",
    "pagerank_purchase_sinks",
]
WORKLOADS = ("queries", "medallion_etl")

# The query tables run the sf0.1 test tier's plans with a small fraction of
# its data, so a cold pass fits the round's time budget (perfbench/README.md,
# "Inputs against the test tiers").
QUERY_SF = 0.002  # 12 k lineitem rows
DATA_SEED = 42  # the query tables are fixed, so oracle results stay cached
ETL_BASE_SF = 0.01  # 60 k lineitem rows per replica
ETL_REPLICAS = 5  # 300 k rows per pipeline input
ETL_FILES = 6
PIPELINE_STAGES = ("validate", "gate", "curate", "analytics", "lineage")

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "query_p50_s": "s", "query_p90_s": "s",
    "etl_rows_per_s": "rows/s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "catalog.scan_tasks": "count", "catalog.scan_records": "count",
    "catalog.read_multiplicity": "ratio",
    "operators.exec_s": "s", "operators.jobs": "count", "operators.stages": "count",
    "operators.tasks": "count", "operators.cpu_s": "s", "operators.cpu_util": "ratio",
    "operators.gc_s": "s", "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes", "operators.spill_bytes": "bytes",
    "operators.cache_left_bytes": "bytes",
    **{f"plans.{s}_s": "s" for s in PIPELINE_STAGES},
    "plans.validate_read_multiplicity": "ratio",
    "sources.rows_written": "count", "sources.bytes_written": "bytes",
    "sources.files_written": "count", "sources.write_amplification": "ratio",
    "host.canary_s": "s", "trace.overhead_ratio": "ratio", "trace.evicted": "count",
    **{f"queries.build_s.{q}": "s" for q in HEADLINE + HEAVY},
    **{f"operators.exec_s.{q}": "s" for q in HEADLINE + HEAVY},
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env() -> dict[str, str]:
    """Pin the regime and keep every scratch file of Spark, the JVM and
    Python inside WORK.  The regime is local[cores] with an 8 g driver heap,
    as bench.py runs.  The heap also starts at 2 g, with a fixed 512 m young
    generation and 16 m regions: peak RSS then depends far less on when G1
    decides to grow the heap, resize eden or place arrays of a few MB as
    humongous objects."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "8g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -Xmn512m -XX:G1HeapRegionSize=16m",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Runner:
    """The closed loop's state: counters, timed walls and trace snapshots."""

    def __init__(self, args, spark, store, spans):
        self.args = args
        self.spark = spark
        self.store = store  # layers.StatusStore, or None in an untraced run
        self.spans = spans
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.walls: list[float] = []  # every timed operation
        self.cache_left: list[int] = []
        self.evicted = 0
        self.trace_s = 0.0  # time spent taking snapshots inside operations
        self.check_s = 0.0  # time spent in correctness checks
        self.drain_s = 0.0  # time spent waiting for storage to drain

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)

    def release(self) -> None:
        """Drop operator and catalog caches outside the timers and wait
        (bounded) for storage to drain; record what is still held."""
        from nyc_taxi_data_engineering_spark.operators import release_session_caches

        release_session_caches()
        self.spark.catalog.clearCache()
        t0 = time.perf_counter()
        self.cache_left.append(layers.drain_storage(self.spark))
        self.drain_s += time.perf_counter() - t0
        if self.store is not None:
            self.store.snapshot()  # what the release ran is no operation's

    def snapshot(self):
        t0 = time.perf_counter()
        d = self.store.snapshot()
        self.evicted += d.evicted
        self.trace_s += time.perf_counter() - t0
        return d

    def loop(self, ops: list[str], run_op) -> int:
        """Run whole passes of ``run_op(name)``, in the listed order, until
        ``--seconds`` have passed; always at least one.  Returns the number
        of passes."""
        deadline = time.perf_counter() + self.args.seconds
        passes = 0
        while passes < 1 or time.perf_counter() < deadline:
            for name in ops:
                self.release()
                self.attempted += 1
                try:
                    run_op(name)
                except Exception as e:  # noqa: BLE001 - a failed operation is counted
                    self.fail(f"{name}: {type(e).__name__}: {e}")
            passes += 1
        return passes


# --------------------------------------------------------------------------
# queries workload
# --------------------------------------------------------------------------


def query_tables(sql: str, tables) -> list[str]:
    """Tables a query reads, taken from its oracle SQL."""
    return [t for t in tables if re.search(rf"\b{t}\b", sql)]


def run_queries(r: Runner, names: list[str], sf_dir: str, oracle) -> dict:
    from nyc_taxi_data_engineering_spark.catalog import TABLES, parquet_row_count, table_path
    from nyc_taxi_data_engineering_spark.queries import registry
    from tools.oracle_check import compare

    reg = registry()
    traced = r.store is not None
    build: dict[str, list[float]] = {q: [] for q in names}
    execs: dict[str, list[float]] = {q: [] for q in names}
    stats: dict[str, list[dict]] = {q: [] for q in names}
    checked: set[str] = set()

    def op(q: str) -> None:
        t0 = time.perf_counter()
        df = reg[q].fn(r.spark, sf_dir)
        t1 = time.perf_counter()
        b = r.snapshot() if traced else None
        t2 = time.perf_counter()
        pdf = df.toPandas()
        t3 = time.perf_counter()
        build[q].append(t1 - t0)
        execs[q].append(t3 - t2)
        r.walls.append(t1 - t0 + t3 - t2)
        if traced:
            x = r.snapshot()
            stats[q].append({"build": b, "exec": x})
            r.spans.add(f"query.{q}", t0, time.perf_counter())
            r.spans.add(f"queries.build.{q}", t0, t1, f"query.{q}")
            r.spans.add(f"operators.exec.{q}", t2, t3, f"query.{q}")
        if q not in checked:  # once per process, outside the timers
            checked.add(q)
            c0 = time.perf_counter()
            errs = compare(pdf, oracle.result(reg[q].oracle), q)
            r.check_s += time.perf_counter() - c0
            if errs:
                r.fail(f"{q}: " + "; ".join(errs))

    passes = r.loop(names, op)
    rows = {t: parquet_row_count(table_path(sf_dir, t)) for t in TABLES}
    out = {
        "pass_s": sum(median(build[q]) + median(execs[q]) for q in names),
        "passes": passes,
        "lineitem_rows": rows["lineitem"],
    }
    if traced:
        q_rows = {q: sum(rows[t] for t in query_tables(reg[q].oracle, TABLES)) for q in names}
        out["layers"] = query_layers(names, build, execs, stats, q_rows)
    return out


def _med(samples: list, f) -> float:
    return median([f(s) for s in samples])


def query_layers(names, build, execs, stats, q_rows) -> dict[str, float]:
    """Per-pass sums of per-query medians."""

    def per_pass(f) -> float:
        return sum(_med(stats[q], f) for q in names)

    def exec_total(key):
        return lambda s: s["exec"].totals[key]

    m: dict[str, float] = {}
    for q in names:
        m[f"queries.build_s.{q}"] = median(build[q])
        m[f"operators.exec_s.{q}"] = median(execs[q])
    exec_s = sum(median(execs[q]) for q in names)
    cpu_s = per_pass(exec_total("executorCpuTime")) / 1e9
    scan_records = per_pass(lambda s: s["build"].totals["inputRecords"] + s["exec"].totals["inputRecords"])
    m.update({
        "queries.build_s": sum(median(build[q]) for q in names),
        "queries.build_jobs": per_pass(lambda s: s["build"].jobs),
        "catalog.scan_tasks": per_pass(lambda s: s["build"].scan_tasks + s["exec"].scan_tasks),
        "catalog.scan_records": scan_records,
        "catalog.read_multiplicity": scan_records / max(1, sum(q_rows.values())),
        "operators.exec_s": exec_s,
        "operators.jobs": per_pass(lambda s: s["exec"].jobs),
        "operators.stages": per_pass(lambda s: s["exec"].stages),
        "operators.tasks": per_pass(exec_total("numCompleteTasks")),
        "operators.cpu_s": cpu_s,
        "operators.cpu_util": cpu_s / max(1e-9, exec_s * CORES),
        "operators.gc_s": per_pass(exec_total("jvmGcTime")) / 1e3,
        "operators.shuffle_write_bytes": per_pass(exec_total("shuffleWriteBytes")),
        "operators.shuffle_read_bytes": per_pass(exec_total("shuffleReadBytes")),
        "operators.spill_bytes": per_pass(exec_total("diskBytesSpilled")),
    })
    return m


# --------------------------------------------------------------------------
# medallion workload
# --------------------------------------------------------------------------


def written(out_root: str) -> dict[str, int]:
    """Data files, bytes and rows a pipeline run left under ``out_root``."""
    import pyarrow.parquet as pq

    files = nbytes = rows = 0
    for root, _dirs, fnames in os.walk(out_root):
        for f in fnames:
            p = os.path.join(root, f)
            if f.endswith(".parquet"):
                rows += pq.ParquetFile(p).metadata.num_rows
            elif f.endswith(".json"):
                with open(p) as fh:
                    rows += sum(1 for ln in fh if ln.strip())
            else:
                continue
            files += 1
            nbytes += os.path.getsize(p)
    return {"files": files, "bytes": nbytes, "rows": rows}


def run_etl(r: Runner, etl_dir: str, expected: dict[str, int]) -> dict:
    from nyc_taxi_data_engineering_spark.plans.pipeline import (
        PipelineConfig,
        build_pipeline,
        run_pipeline,
    )

    from checks import check_etl_run

    traced = r.store is not None
    li_dir = os.path.join(etl_dir, "lineitem.parquet")
    input_bytes = sum(os.path.getsize(os.path.join(li_dir, f)) for f in os.listdir(li_dir))
    out_base = os.path.join(WORK, "etl-out", str(os.getpid()))
    runs: list[dict] = []

    def op(_name: str) -> None:
        run_id = f"r{len(runs) + 1}"
        cfg = PipelineConfig(sf_dir=etl_dir, out_root=os.path.join(out_base, run_id), run_id=run_id)
        stages: dict[str, dict] = {}
        t0 = time.perf_counter()
        if traced:
            pipe = build_pipeline(r.spark, cfg)
            for st in pipe.stages:
                st.fn = _traced_stage(st.name, st.fn, r, stages, run_id)
            _ctx, stage_runs = pipe.run({})
        else:
            _ctx, stage_runs = run_pipeline(r.spark, cfg)
        wall = time.perf_counter() - t0
        if traced:
            r.spans.add(f"pipeline.{run_id}", t0, t0 + wall)
        r.walls.append(wall)
        runs.append({"wall": wall, "stages": stages,
                     "written": written(cfg.out_root) if traced else None})
        c0 = time.perf_counter()
        errs = check_etl_run(cfg.out_root, stage_runs, expected, run_id)
        shutil.rmtree(cfg.out_root, ignore_errors=True)
        r.check_s += time.perf_counter() - c0
        if errs:
            r.fail(f"pipeline {run_id}: " + "; ".join(errs))

    passes = r.loop(["pipeline"], op)
    shutil.rmtree(out_base, ignore_errors=True)
    out = {"pass_s": median([x["wall"] for x in runs]), "passes": passes,
           "lineitem_rows": expected["records_read"]}
    if traced:
        out["layers"] = etl_layers(runs, expected["records_read"], input_bytes, etl_dir)
    return out


def _traced_stage(name, fn, r: Runner, stages: dict, run_id: str):
    """Wrap one ``Stage.fn``: a span around the call, a snapshot after it."""

    def traced(ctx):
        t0 = time.perf_counter()
        try:
            return fn(ctx)
        finally:
            t1 = time.perf_counter()
            r.spans.add(f"plans.{name}", t0, t1, f"pipeline.{run_id}")
            stages[name] = {"s": t1 - t0, "delta": r.snapshot()}

    return traced


def etl_layers(runs: list[dict], rows_in: int, input_bytes: int, etl_dir: str) -> dict[str, float]:
    from nyc_taxi_data_engineering_spark.catalog import parquet_row_count, table_path

    def run_total(run) -> layers.Delta:
        d = layers.Delta()
        for st in run["stages"].values():
            d.add(st["delta"])
        return d

    def stage(run, name) -> dict:  # a stage skipped after a failure has no entry
        return run["stages"].get(name) or {"s": 0.0, "delta": layers.Delta()}

    totals = [run_total(x) for x in runs]
    m: dict[str, float] = {
        f"plans.{s}_s": _med(runs, lambda x, s=s: stage(x, s)["s"]) for s in PIPELINE_STAGES
    }
    m["plans.validate_read_multiplicity"] = _med(
        runs, lambda x: stage(x, "validate")["delta"].totals["inputRecords"]) / rows_in
    dim_rows = sum(parquet_row_count(table_path(etl_dir, t)) for t in ("supplier", "nation"))
    exec_s = _med(runs, lambda x: sum(st["s"] for st in x["stages"].values()))
    cpu_s = _med(totals, lambda d: d.totals["executorCpuTime"]) / 1e9
    scan_records = _med(totals, lambda d: d.totals["inputRecords"])
    out_bytes = _med(runs, lambda x: x["written"]["bytes"])
    m.update({
        "catalog.scan_tasks": _med(totals, lambda d: d.scan_tasks),
        "catalog.scan_records": scan_records,
        "catalog.read_multiplicity": scan_records / (rows_in + dim_rows),
        "operators.exec_s": exec_s,
        "operators.jobs": _med(totals, lambda d: d.jobs),
        "operators.stages": _med(totals, lambda d: d.stages),
        "operators.tasks": _med(totals, lambda d: d.totals["numCompleteTasks"]),
        "operators.cpu_s": cpu_s,
        "operators.cpu_util": cpu_s / max(1e-9, exec_s * CORES),
        "operators.gc_s": _med(totals, lambda d: d.totals["jvmGcTime"]) / 1e3,
        "operators.shuffle_write_bytes": _med(totals, lambda d: d.totals["shuffleWriteBytes"]),
        "operators.shuffle_read_bytes": _med(totals, lambda d: d.totals["shuffleReadBytes"]),
        "operators.spill_bytes": _med(totals, lambda d: d.totals["diskBytesSpilled"]),
        "sources.rows_written": _med(runs, lambda x: x["written"]["rows"]),
        "sources.bytes_written": out_bytes,
        "sources.files_written": _med(runs, lambda x: x["written"]["files"]),
        "sources.write_amplification": out_bytes / input_bytes,
    })
    return m


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------


def _ready(path: str, build) -> str:
    """Build ``path`` once (atomically, via a temp dir) and reuse it."""
    if not os.path.isdir(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        build(tmp)
        os.replace(tmp, path)
    return path


def prepare_inputs(args) -> dict:
    import datagen
    from checks import OracleCache, etl_expected

    inputs = os.path.join(WORK, "inputs")
    os.makedirs(inputs, exist_ok=True)
    if args.workload == "medallion_etl":
        base = _ready(os.path.join(inputs, f"sf{ETL_BASE_SF}-seed{DATA_SEED}"),
                      lambda p: datagen.write_tables(p, ETL_BASE_SF, DATA_SEED))
        layout = f"x{ETL_REPLICAS}-{ETL_FILES}files-seed{args.seed}"
        etl = _ready(os.path.join(inputs, f"etl-sf{ETL_BASE_SF}{layout}"),
                     lambda p: datagen.write_etl_input(p, base, args.seed, ETL_REPLICAS, ETL_FILES))
        return {"etl_dir": etl, "expected": etl_expected(etl)}

    from nyc_taxi_data_engineering_spark.queries import registry

    sf_dir = _ready(os.path.join(inputs, f"sf{QUERY_SF}-seed{DATA_SEED}"),
                    lambda p: datagen.write_tables(p, QUERY_SF, DATA_SEED))
    oracle = OracleCache(sf_dir, os.path.join(WORK, "oracle"))
    names = HEADLINE + HEAVY
    reg = registry()
    for q in names:
        oracle.result(reg[q].oracle)  # fill the cache before the engine starts
    oracle.close()
    return {"sf_dir": sf_dir, "oracle": oracle, "names": names}


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------


def warm_up(spark, data_dir: str) -> None:
    """One small job over the two smallest tables of the run's input,
    collected as the queries are: it loads the Parquet reader, join,
    shuffle, codegen and Arrow classes before anything is timed, so that
    cost lands in ``setup_s`` and not on the first operations of the pass."""
    sup = spark.read.parquet(os.path.join(data_dir, "supplier.parquet"))
    nat = spark.read.parquet(os.path.join(data_dir, "nation.parquet"))
    sup.join(nat, sup.s_nationkey == nat.n_nationkey).groupBy("n_regionkey").count().toPandas()


def stop_engine(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    spark_conf = configure_env()
    sys.path[:0] = [ROOT, HERE]
    try:
        t0 = time.perf_counter()
        from bench import host_canary
        from nyc_taxi_data_engineering_spark.queries import registry
        from nyc_taxi_data_engineering_spark.session import get_spark

        registry()
        import_s = time.perf_counter() - t0
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2

    t0 = time.perf_counter()
    inputs = prepare_inputs(args)
    prepare_s = time.perf_counter() - t0

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    spans = layers.Spans(run_id)
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=spark_conf)
    t1 = time.perf_counter()
    try:
        warm_up(spark, inputs.get("sf_dir") or inputs["etl_dir"])
        t2 = time.perf_counter()
        spans.add("session.start", t0, t1)
        spans.add("session.warmup", t1, t2)
        setup_s = t2 - PROCESS_START - prepare_s
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        store = layers.StatusStore(spark) if args.trace else None
        runner = Runner(args, spark, store, spans)
        if args.workload == "medallion_etl":
            res = run_etl(runner, inputs["etl_dir"], inputs["expected"])
        else:
            res = run_queries(runner, inputs["names"], inputs["sf_dir"], inputs["oracle"])
        peak_rss = jvm_peak_rss_mb(jvm_pid)
        canary_s = host_canary()  # after the loop, on an idle engine
    finally:
        t3 = time.perf_counter()
        stop_engine(spark)
        stop_s = time.perf_counter() - t3

    n = len(runner.walls)
    p90 = layers.supported_percentile(n, 90.0)
    metrics = {
        "setup_s": setup_s,
        "pass_s": res["pass_s"],
        "query_p50_s": layers.percentile(runner.walls, 50.0),
        "query_p90_s": layers.percentile(runner.walls, p90),
        "etl_rows_per_s": res["lineitem_rows"] / max(res["pass_s"], 1e-9),  # 0 only if every op failed
        "peak_rss_mb": peak_rss,
    }
    per_layer = dict.fromkeys(PER_LAYER, 0.0)
    per_layer.update(res.get("layers", {}))
    timed = sum(runner.walls)
    per_layer.update({
        "session.start_s": t1 - t0,
        "session.warmup_s": t2 - t1,
        "operators.cache_left_bytes": max(runner.cache_left, default=0),
        "host.canary_s": canary_s,
        "trace.overhead_ratio": (timed + runner.trace_s) / max(timed, 1e-9),
        "trace.evicted": runner.evicted,
    })
    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        spans.dump(os.path.join(WORK, "traces", f"{run_id}.jsonl"))

    detail = {
        "run_id": run_id, "cores": CORES, "import_s": import_s, "prepare_s": prepare_s,
        "passes": res["passes"], "operations": n, "query_p90_percentile": p90,
        "check_s": runner.check_s, "drain_s": runner.drain_s, "canary_s": canary_s,
        "stop_s": stop_s, "run_s": time.perf_counter() - PROCESS_START,
        "failed_ratio": runner.failed / max(1, runner.attempted), "errors": runner.errors[:20],
        "end_to_end": metrics, "per_layer": per_layer if args.trace else None,
    }
    print(json.dumps(detail), file=sys.stderr)
    chosen, units = (per_layer, PER_LAYER) if args.trace else (metrics, END_TO_END)
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": float(chosen[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
