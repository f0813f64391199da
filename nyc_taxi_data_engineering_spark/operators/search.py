"""Keyword search: distributed BM25 (Okapi) ranking over the document
corpus — the lexical-retrieval complement to the embedding ANN family
(queries/similarity.py) a training-data pipeline needs for corpus
exploration, targeted filtering, and hybrid retrieval.

Scale design: classic inverted-index dataflow, all keyed equi-joins —

- tokenize + explode once, then (doc, term) term frequencies and
  per-doc lengths via hash aggs with map-side combine;
- document frequencies per term are another hash agg (the "index");
- the query side is a tiny (query_id, term) table joined INTO the
  term-partitioned tf table — the shuffle moves only postings of terms
  that appear in some query, never the corpus;
- corpus-level scalars (N, avgdl) ride along as a broadcast 1-row
  cross join, no driver round-trip;
- per-(query, doc) scores sum term contributions in exact DECIMAL
  (stable_sum pattern) so results are order-independent and
  bit-reproducible across engines;
- top-k per query is one window over the already-tiny score table.

At 100 TB the tf/df aggregations are the only corpus-wide shuffles and
both are partial-agg friendly; persisting tf/df as a bucketed "index"
table amortizes them across query batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.functions import text as T

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(docs: DataFrame, queries: list[tuple[str, str]], k: int = 5) -> DataFrame:
    """Okapi BM25 top-k per query. ``queries`` is a small driver-side
    list of (query_id, query_text); duplicate query terms count once.

    idf = ln(1 + (N - df + 0.5)/(df + 0.5)) — the non-negative Okapi
    variant; contribution = idf * (tf*(k1+1)) / (tf + k1*(1-b+b*dl/avgdl)).
    """
    spark = docs.sparkSession
    toks = docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qt = spark.createDataFrame(
        sorted({(qid, t) for qid, text in queries for t in text.split()}),
        "query_id string, term string",
    )

    avgdl = F.col("sum_dl") * F.lit(1.0) / F.col("n_docs")
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(1.0) - F.lit(BM25_B) + F.lit(BM25_B) * F.col("dl") / avgdl
    )
    contrib = idf * (F.col("tf") * F.lit(BM25_K1 + 1)) / denom

    scored = (
        F.broadcast(qt)
        .join(tf, "term")  # inverted-index probe: only queried terms shuffle
        .join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", contrib.alias("_c"))
        .groupBy("query_id", "doc_id")
        # exact decimal sum -> order-independent, engine-portable score
        .agg(F.sum(F.col("_c").cast("decimal(18,9)")).cast("double").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", F.col("rank").cast("int").alias("rank"), "score")
    )
