"""Sequence packing: assign documents to fixed-size context windows.

The concat-and-chunk packing used to build LLM pretraining batches:
documents are concatenated in a deterministic order and the stream is
chunked into ``ctx_tokens``-sized windows; each document belongs to the
window its FIRST token lands in. Beyond-reference extension (the
reference has no corpus tooling) — this is the last step of a
training-data pipeline before the tokenized shards are written.

Distributed shape: a global concatenation order would serialize the
whole corpus through one task, so packing is sharded — documents are
hash-bucketed into ``n_shards`` deterministic shards per source and
packed independently within each (source, shard). That is exactly how
a 1000-executor packing job runs: each shard's running-offset window is
an independent partition of one shuffle, the order within a shard is
total (doc_id), and re-running the job reproduces the same bins
bit-for-bit. The cumulative sum is a running-frame window (state = one
counter), never a buffered frame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.operators.sampling import hash_bucket, hash_bucket_sql

DEFAULT_CTX_TOKENS = 256
DEFAULT_N_SHARDS = 16
PACK_SEED = "pack"


def pack_positions(df: DataFrame, token_count: Column) -> DataFrame:
    """Add shard / start-offset / bin columns to every row.

    ``bin_id = floor(start_offset / ctx_tokens)`` where start_offset is
    the running token count of all earlier docs in the same
    (group, shard), ordered by ``order_key``."""
    shard = hash_bucket(F.col("doc_id"), PACK_SEED, DEFAULT_N_SHARDS)
    with_shard = df.withColumn("shard", shard).withColumn("n_tokens", token_count)
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return with_shard.withColumn("start_offset", (cum - F.col("n_tokens")).cast("long")).withColumn(
        "bin_id", (F.col("start_offset") / F.lit(DEFAULT_CTX_TOKENS)).cast("long")
    )


def pack_positions_sql(token_count_expr: str) -> str:
    """DuckDB SELECT-list fragment matching :func:`pack_positions`
    (same md5 shard hash, same running-frame arithmetic)."""
    shard = hash_bucket_sql("doc_id", PACK_SEED, DEFAULT_N_SHARDS)
    cum = (
        f"SUM({token_count_expr}) OVER (PARTITION BY source, {shard} ORDER BY doc_id "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    return (
        f"{shard} AS shard, CAST({token_count_expr} AS BIGINT) AS n_tokens, "
        f"CAST({cum} - {token_count_expr} AS BIGINT) AS start_offset, "
        f"CAST(FLOOR((CAST({cum} AS BIGINT) - {token_count_expr}) / {DEFAULT_CTX_TOKENS}) AS BIGINT) AS bin_id"
    )
