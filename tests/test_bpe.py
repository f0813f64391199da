"""BPE tokenization (operators/bpe.py) on the classic Sennrich corpus
with its known merge sequence."""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.operators import bpe as B

# The canonical first five merges of low:5 lower:2 newest:6 widest:3
# (ties broken lexicographically), Sennrich et al. 2016.
SENNRICH_MERGES = [("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"), ("lo", "w")]


def test_merge_pair_greedy_non_overlapping(spark):
    """[a,a,a] under merge(a,a) -> [aa,a]: left-to-right greedy, no
    overlap re-use."""
    df = spark.createDataFrame([(["a", "a", "a"],)], "cs array<string>")
    out = df.select(B._merge_pair(F.col("cs"), "a", "a").alias("m")).first()["m"]
    assert out == ["aa", "a"]


def test_apply_bpe_tokenizes_with_learned_merges(spark):
    docs = spark.createDataFrame([(0, "low newest")], "doc_id long, text string")
    row = B.apply_bpe(docs, SENNRICH_MERGES).first()
    assert row["bpe_tokens"] == ["low", "</w>", "n", "e", "w", "est</w>"]
    assert row["n_bpe_tokens"] == 6
