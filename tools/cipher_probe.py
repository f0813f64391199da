"""Byte-decorrelated scale tier for MODALITY-FINGERPRINT probes.

The standard documents tier (tools/scale_probe.py) renames each
replica's vocabulary (`w~i`) so word-shingle operators see disjoint
replica spaces — but at the BYTE level replicas stay near-identical,
so byte-level fingerprints (audio energy deltas, frame dHash)
correctly pair every replica of a base doc with every other: real
replica-squared duplication in the tier, super-linear pair volume, and
a probe reading that says nothing about the operator (measured: audio
pairs 199k at sf1 -> 21.4M at sf10 on the rename tier).

This tier applies a per-replica substitution cipher over printable
ASCII (0x20..0x7e) instead — the byte-level analog of the embeddings
Rademacher sign flip: lengths, intra-replica structure, and planted
twins are preserved exactly (the cipher is a bijection applied
uniformly within a replica), while cross-replica block energies and
rasters decorrelate. Replica 0 stays identity.

Usage: python tools/cipher_probe.py          # sf1 + sf10 tiers, 3 queries
Results: SCALE.md "Modality fingerprints, second decade" +
BENCH_modality_sf10.json.
"""

from __future__ import annotations

import json
import os
import random
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from nyc_taxi_data_engineering_spark.queries import run  # noqa: E402
from nyc_taxi_data_engineering_spark.queries.runner import noop_write  # noqa: E402
from nyc_taxi_data_engineering_spark.session import get_spark  # noqa: E402

ALPHA = "".join(chr(c) for c in range(0x20, 0x7F))
OFFSET = 100_000_000
SRC = "/root/testdata/sf0.1/documents.parquet"
QUERIES = ("video_neardup_clips", "audio_neardup_clips", "image_dedup_clusters")


def build(spark, replicas: int, out: str) -> None:
    src = spark.read.parquet(SRC)
    rep = spark.range(replicas).select(F.col("id").cast("int").alias("_rep"))
    df = src.crossJoin(F.broadcast(rep)).withColumn(
        "doc_id", F.col("doc_id") + F.col("_rep").cast("long") * F.lit(OFFSET)
    )
    expr = F.col("text")
    for i in range(1, replicas):
        perm = list(ALPHA)
        random.Random(i).shuffle(perm)  # deterministic per replica
        expr = F.when(
            F.col("_rep") == i, F.translate(F.col("text"), ALPHA, "".join(perm))
        ).otherwise(expr)
    df = (
        df.withColumn("text", expr)
        .drop("_rep")
        .repartition(8 * max(1, replicas // 12))
    )
    df.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))


def main() -> None:
    spark = get_spark("cipher_probe")
    t1 = os.path.join(REPO, ".scale_data", "cipher_sf1")
    t10 = os.path.join(REPO, ".scale_data", "cipher_sf10")
    build(spark, 10, t1)
    build(spark, 100, t10)

    def wall(name: str, sf_dir: str) -> float:
        _, record = run(spark, name, sf_dir, noop_write)
        return round(record["build_s"] + record["exec_s"], 3)

    out = {}
    for name in QUERIES:
        wall(name, t1)  # warm the Python workers + plans
        s1, s10 = wall(name, t1), wall(name, t10)
        out[name] = {
            "sf1": s1,
            "sf10": s10,
            "slope": round(s10 / s1, 2),
            "rows_sf1": run(spark, name, t1, lambda df: df.count())[0],
            "rows_sf10": run(spark, name, t10, lambda df: df.count())[0],
        }
        print(name, out[name], file=sys.stderr)
    print(json.dumps({"metric": "cipher_tier_sf10", "queries": out}))


if __name__ == "__main__":
    main()
