"""Scale probe: measure how queries scale across synthetic decades —
sf0.1 → sf1 (10x) for the headline bench set, and sf1 → sf10 (100x,
documents/embeddings only) for the dedup/similarity families whose
candidate-generation slopes are the 100 TB risk.

The driver provides parquet only up to sf0.1 (TESTDATA.md, read-only),
so bigger tiers are synthesized here from key-offset replicas of
sf0.1 — every key column gets ``replica * 100_000_000`` so joins stay
referentially intact and key cardinality grows Nx like a real scale-up.
Two tables need more than an offset to keep their *similarity
structure* scaling linearly instead of picking up artifacts:

- ``documents``: a verbatim copy would give every doc 9 exact twins,
  exploding near-dup pair counts ~45x (10 choose 2 per doc) and
  poisoning the ngram_jaccard_pairs slope. Each replica i>0 instead
  suffixes every word with ``~i`` — an isomorphic vocabulary rename,
  so intra-replica dup/near-dup structure is preserved EXACTLY (pair
  volume scales 10x linear) while cross-replica shingle spaces are
  disjoint (no artificial twins). Reordering words was tried first
  and is a trap: sorting by any global word order canonicalizes
  docs, turning shared-vocabulary docs into near-dups and blowing
  the candidate count quadratic.
- ``embeddings``: replica i>0 vectors get a deterministic per-replica
  Rademacher sign flip (multiply element j by ±1 from a hash of
  (replica, j)) — a diagonal orthogonal transform, so intra-replica
  norms and pairwise cosines are preserved EXACTLY (near-dup pair
  volume scales linearly) while cross-replica cosines decorrelate
  (std ~ 1/sqrt(dim) ≈ 0.125 at dim 64, far below any near-dup
  threshold). A small perturbation instead of a rotation is a trap
  that killed the first sf10 run: every vector then has N-1
  near-identical cross-replica twins, candidate volume grows ~N² per
  base vector (C(100,2) ≈ 5000x at 100 replicas), and the rescore
  shuffle spills until the disk fills.

``region``/``nation`` stay at their fixed dimension sizes, exactly as
TPC-H scale factors do.

Usage:
  python tools/scale_probe.py                       # sf0.1 -> sf1, bench set
  SPARK_GRAFT_SCALE_TIER=sf10 python tools/scale_probe.py
      # sf1 -> sf10 (documents+embeddings only), dedup/similarity set;
      # writes BENCH_sf10.json
Env: SPARK_GRAFT_SCALE_REPS (default 3), SPARK_GRAFT_SCALE_REPLICAS (10),
SPARK_GRAFT_SCALE_EXTRA (comma-separated registry queries to probe
alongside the tier's default set).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from nyc_taxi_data_engineering_spark import catalog  # noqa: E402
from nyc_taxi_data_engineering_spark.queries import bench_queries, run  # noqa: E402
from nyc_taxi_data_engineering_spark.queries.runner import noop_write  # noqa: E402
from nyc_taxi_data_engineering_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
OUT = os.path.join(REPO, ".scale_data", "sf1")
OUT10 = os.path.join(REPO, ".scale_data", "sf10")
OFFSET = 100_000_000

# sf10 tier: the dedup/similarity candidate generators — the queries
# whose slope at another decade is the 100 TB design risk. Only the
# tables they read are built at 100 replicas.
SF10_TABLES = ("documents", "embeddings")
SF10_QUERIES = [
    "exact_dedup_docs",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_docs",
    "simhash_neardup_pairs",
    "dedup_clusters_docs",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "embedding_neardup_pairs",
]

# Key columns to offset per table (dims region/nation excluded: fixed size).
KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
# Output file-split targets so the sf1 scan parallelizes like real data.
N_FILES = {
    "lineitem": 16,
    "orders": 8,
    "events": 8,
    "documents": 8,
    "embeddings": 8,
    # customer matters since the r8 geo family: a single-file customer
    # table capped the hub/radius probes at 2-way scan parallelism
    "customer": 4,
}


def _replicated(spark, src, table: str, replicas: int):
    """All ``replicas`` key-offset copies of one table as a SINGLE
    crossJoin-with-replica-ids plan — a 100-branch union would make
    analysis, not the data, the bottleneck. Replica 0 is bit-identical
    to the source; replica i>0 gets the vocabulary rename (documents) /
    the deterministic perturbation (embeddings) described above."""
    rep = spark.range(replicas).select(F.col("id").cast("int").alias("_rep"))
    out = src.crossJoin(F.broadcast(rep))
    for c in KEY_COLS.get(table, []):
        out = out.withColumn(c, F.col(c) + F.col("_rep").cast("long") * F.lit(OFFSET))
    if table == "documents":
        renamed = (
            "CASE WHEN _rep = 0 THEN text ELSE "
            "array_join(transform(split(text, ' '), w -> concat(w, '~', _rep)), ' ') END"
        )
        out = out.withColumn("text", F.expr(renamed)).withColumn("n_chars", F.length("text"))
    elif table == "embeddings":
        sign = "cast(1 - 2 * pmod(xxhash64(_rep, j), 2) as float)"
        out = out.withColumn(
            "embedding",
            F.expr(
                "CASE WHEN _rep = 0 THEN embedding ELSE "
                f"transform(embedding, (x, j) -> cast(x * {sign} as float)) END"
            ),
        )
    return out.drop("_rep")


def build(
    spark,
    replicas: int,
    out_dir: str = OUT,
    tables: tuple[str, ...] | None = None,
    file_scale: int = 1,
) -> None:
    if os.path.isdir(out_dir):
        if os.environ.get("SPARK_GRAFT_SCALE_REUSE") == "1":
            print(f"reusing {out_dir}", file=sys.stderr)
            return
        shutil.rmtree(out_dir)
    for table in tables if tables is not None else catalog.TABLES:
        src = catalog.load_table(spark, SRC, table)
        if table in ("region", "nation"):
            out = src
        else:
            out = _replicated(spark, src, table, replicas)
        if table in N_FILES:
            out = out.repartition(N_FILES[table] * file_scale)
        out.write.mode("overwrite").parquet(os.path.join(out_dir, f"{table}.parquet"))
        print(f"built {table} ({out_dir})", file=sys.stderr)


def _run(spark, name: str, sf_dir: str) -> float:
    _, record = run(spark, name, sf_dir, noop_write)
    return record["build_s"] + record["exec_s"]


def _probe(names, spark, small_dir, big_dir, reps, small_label, big_label):
    """Median walls per query on both tiers. Every rep starts cold, like
    bench.py's: the runner frees the previous rep's pins and caches, so
    pin()-heavy queries (graph/community family) leave no block-manager
    pressure to distort whoever runs next (wave-6 STL read 11.4 s
    in-probe vs 1.1 s in a clean session before queries were released)."""
    warm = "daily_vendor_revenue" if "daily_vendor_revenue" in names else names[0]
    _run(spark, warm, small_dir)
    _run(spark, warm, big_dir)
    small, big = {}, {}
    for name in sorted(names):
        small[name] = round(statistics.median(_run(spark, name, small_dir) for _ in range(reps)), 3)
        big[name] = round(statistics.median(_run(spark, name, big_dir) for _ in range(reps)), 3)
        print(f"{name}: {small_label}={small[name]}s {big_label}={big[name]}s", file=sys.stderr)
    return small, big


OUT100 = os.path.join(REPO, ".scale_data", "sf100")

# sf100 tier: a THIRD decade (5M docs) for the steepest two dedup
# slopes of the sf10 probe (minhash_lsh_pairs 6.05, dedup_clusters
# 6.46) — confirms they stay edge/row-proportional rather than bending
# quadratic — plus the one-permutation MinHash variant built to cut
# the k-hash signature cost that dominates minhash_lsh_pairs, and
# exact dedup as the linear control.
SF100_QUERIES = [
    "exact_dedup_docs",
    "minhash_lsh_pairs",
    "oph_minhash_pairs",
    "dedup_clusters_docs",
]


# graph tier: the round-6 graph/co-purchase/k-means families, probed a
# second decade (sf1 -> sf10) — their sf0.1->sf1 slopes (pagerank 4.96,
# copurchase 8.01) were single-decade reads, and r4/r5 proved candidate
# walls only show up in the probe. Key-offset replicas make N disjoint
# copies of the trade graph: nodes/edges scale Nx with per-replica
# degree structure preserved, exactly the keyed-join scaling question.
GRAPH_TABLES = ("orders", "lineitem", "documents", "embeddings")
GRAPH_QUERIES = [
    "pagerank_trade_graph",
    "pagerank_weighted_trade",
    "pagerank_purchase_sinks",
    "supplier_copurchase_pairs",
    "kmeans_embeddings",
    "containment_neardup_pairs",
]


def _copurchase_cap_stats(spark, sf_dir: str, cap: int) -> dict:
    """Quantify the degree_cap lever analytically: candidate volume of
    the co-purchase self-join is sum(d*(d-1)/2) over context degrees —
    computed exactly from ONE degree aggregation, no join needed."""
    o = catalog.load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = catalog.load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    deg = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("l_suppkey").alias("e"), F.col("o_custkey").alias("ctx"))
        .distinct()
        .groupBy("ctx")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    pairs = F.col("d") * (F.col("d") - 1) / 2
    row = deg.agg(
        F.sum(pairs).alias("uncapped"),
        F.sum(F.when(F.col("d") <= cap, pairs).otherwise(F.lit(0))).alias("capped"),
        F.sum(F.when(F.col("d") > cap, 1).otherwise(0)).alias("dropped_contexts"),
        F.count(F.lit(1)).alias("contexts"),
        F.max("d").alias("max_degree"),
    ).first()
    return {
        "degree_cap": cap,
        "candidates_uncapped": int(row["uncapped"]),
        "candidates_capped": int(row["capped"]),
        "dropped_contexts": int(row["dropped_contexts"]),
        "contexts": int(row["contexts"]),
        "max_degree": int(row["max_degree"]),
    }


def main() -> None:
    reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "3"))
    tier = os.environ.get("SPARK_GRAFT_SCALE_TIER", "sf1")
    extra = [n for n in os.environ.get("SPARK_GRAFT_SCALE_EXTRA", "").split(",") if n]
    spark = get_spark("scale_probe")

    if tier == "sf100":
        # sf10 -> a bigger documents tier, single-shot (minutes-long
        # runs don't need median-of-3 to read a slope). The big tier
        # defaults to 1000 replicas (sf100, 5M docs); override with
        # SPARK_GRAFT_SCALE_BIG_REPLICAS for queries whose shuffle
        # spill exceeds the box's disk at the full decade (e.g.
        # dedup_clusters_docs at 300 -> sf30), and with
        # SPARK_GRAFT_SCALE_QUERIES to pick the query subset.
        reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "1"))
        big_reps = int(os.environ.get("SPARK_GRAFT_SCALE_BIG_REPLICAS", "1000"))
        big_label = f"sf{big_reps // 10}"
        out_big = os.path.join(REPO, ".scale_data", big_label)
        names = [n for n in os.environ.get("SPARK_GRAFT_SCALE_QUERIES", "").split(",") if n]
        names = names or SF100_QUERIES + [e for e in extra if e not in SF100_QUERIES]
        build(spark, 100, OUT10, tables=("documents",), file_scale=4)
        build(spark, big_reps, out_big, tables=("documents",), file_scale=max(1, big_reps // 64))
        small, big = _probe(names, spark, OUT10, out_big, reps, "sf10", big_label)
        data_factor = big_reps / 100.0  # x data vs the sf10 tier
        result = {
            "metric": f"{big_label}_bench_seconds",
            "value": round(sum(big.values()), 3),
            "unit": "sec",
            "queries": big,
            "sf": big_reps / 10.0,
            "replicas": big_reps,
            "reps": reps,
            "sf10_queries": small,
            "data_factor_vs_sf10": data_factor,
            f"slopes_x{data_factor:g}_data": {
                n: round(big[n] / small[n], 2) for n in small
            },
        }
        out_name = f"BENCH_{big_label}.json"
    elif tier == "graph":
        # second decade for the graph family, single-shot like sf100
        # (multi-minute runs read a slope without median-of-3)
        reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "1"))
        names = [n for n in os.environ.get("SPARK_GRAFT_SCALE_QUERIES", "").split(",") if n]
        names = names or GRAPH_QUERIES + [e for e in extra if e not in GRAPH_QUERIES]
        build(spark, 10, OUT, tables=GRAPH_TABLES)
        build(spark, 100, OUT10, tables=GRAPH_TABLES, file_scale=4)
        small, big = _probe(names, spark, OUT, OUT10, reps, "sf1", "sf10")
        from nyc_taxi_data_engineering_spark.queries.graphq import COPURCHASE_DEGREE_CAP

        cap_stats = {
            "sf1": _copurchase_cap_stats(spark, OUT, COPURCHASE_DEGREE_CAP),
            "sf10": _copurchase_cap_stats(spark, OUT10, COPURCHASE_DEGREE_CAP),
        }
        result = {
            "metric": "graph_sf10_bench_seconds",
            "value": round(sum(big.values()), 3),
            "unit": "sec",
            "queries": big,
            "sf": 10.0,
            "replicas": 100,
            "reps": reps,
            "sf1_queries": small,
            "slopes_x10_data": {n: round(big[n] / small[n], 2) for n in small},
            "copurchase_degree_cap": cap_stats,
        }
        out_name = "BENCH_graph_sf10.json"
    elif tier == "sf10":
        # one decade beyond sf1, documents/embeddings only: slopes are
        # measured sf1 -> sf10 so each tier is a clean 10x step
        names = SF10_QUERIES + [e for e in extra if e not in SF10_QUERIES]
        build(spark, 10, OUT, tables=SF10_TABLES)
        build(spark, 100, OUT10, tables=SF10_TABLES, file_scale=4)
        small, big = _probe(names, spark, OUT, OUT10, reps, "sf1", "sf10")
        result = {
            "metric": "sf10_bench_seconds",
            "value": round(sum(big.values()), 3),
            "unit": "sec",
            "queries": big,
            "sf": 10.0,
            "replicas": 100,
            "reps": reps,
            "sf1_queries": small,
            "slopes_x10_data": {n: round(big[n] / small[n], 2) for n in small},
        }
        out_name = "BENCH_sf10.json"
    else:
        replicas = int(os.environ.get("SPARK_GRAFT_SCALE_REPLICAS", "10"))
        build(spark, replicas)
        names = list(bench_queries())
        names += [e for e in extra if e not in names]
        small, big = _probe(names, spark, SRC, OUT, reps, "sf0.1", "sf1")
        result = {
            "metric": "sf1_bench_seconds",
            "value": round(sum(big.values()), 3),
            "unit": "sec",
            "queries": big,
            "sf": 1.0,
            "replicas": replicas,
            "reps": reps,
            "sf0.1_queries": small,
            "slopes_x10_data": {n: round(big[n] / small[n], 2) for n in small},
        }
        out_name = "BENCH_sf1.json"
    with open(os.path.join(REPO, out_name), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
