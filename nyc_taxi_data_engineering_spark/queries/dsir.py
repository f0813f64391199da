"""DSIR-style importance weighting for targeted data selection
(Xie et al., "Data Selection for Language Models via Importance
Resampling", NeurIPS 2023): score every raw-corpus document by how
much more likely its hashed n-gram features are under a TARGET domain
(here: the ``src1`` slice of the documents table, standing in for a
curated corpus like Wikipedia) than under the raw corpus itself.

Beyond-reference extension. Recipe, per the paper but made
cross-engine exact:

- Features are token unigrams + bigrams (with multiplicity) hashed
  into ``DSIR_BUCKETS`` buckets via the repo's md5 bucket hash — the
  same hash DuckDB evaluates verbatim, so feature extraction is
  bit-identical on both engines.
- Bag-of-buckets unigram models with +1 smoothing:
  ``p_b = (t_b + 1) / (T + B)`` on the target slice,
  ``q_b = (r_b + 1) / (R + B)`` on the full corpus.
- Per-bucket log-ratio ``ln(p_b) - ln(q_b)`` is rounded to 6 dp and
  cast to DECIMAL(18,6) BEFORE the per-doc sum, so the aggregate is
  order-independent and exact across engines (the unigram-LM
  pattern: ln agrees to ~1 ulp, far inside the rounding guard; float
  sums are not associative, decimal sums are).
- A document is selected when its length-normalized weight is
  positive — more target-like than raw-average. Threshold selection
  instead of the paper's Gumbel top-k keeps the operator a pure
  projection + two bounded aggregations: no global sort, no RNG, so
  the same doc is selected on every rerun at any cluster size.

Scale shape (100 TB): explode features -> hash-agg to ≤B buckets
(map-side combine collapses each partition to ≤B rows before the
exchange) -> the B-row log-ratio table broadcasts back -> one per-doc
hash-agg. The only data-sized shuffles are keyed by bucket (bounded
fan-in) and doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table_parallel as load_table
from nyc_taxi_data_engineering_spark.functions import portable_round
from nyc_taxi_data_engineering_spark.functions import text as T
from nyc_taxi_data_engineering_spark.operators.sampling import hash_bucket, hash_bucket_sql
from nyc_taxi_data_engineering_spark.queries.registry import query

DSIR_BUCKETS = 256
DSIR_SEED = "dsir1"
DSIR_TARGET_SOURCE = "src1"  # the curated-domain proxy slice


def doc_features(docs: DataFrame) -> DataFrame:
    """(doc_id, source, bucket) hashed unigram+bigram feature stream,
    with multiplicity. Tokenization happens once per row; both n-gram
    orders explode from the same token array."""
    toksed = docs.select("doc_id", "source", T.tokens(F.col("text")).alias("_toks"))
    unis = toksed.select(
        "doc_id", "source", F.explode("_toks").alias("f")
    ).filter(F.length("f") > 0)
    bis = toksed.select(
        "doc_id", "source", F.explode(T.word_ngrams(F.col("_toks"), 2)).alias("f")
    )
    return unis.unionByName(bis).select(
        "doc_id",
        "source",
        hash_bucket(F.col("f"), seed=DSIR_SEED, n_buckets=DSIR_BUCKETS).alias("bucket"),
    )


_SQL_FEATURES = f"""
toksed AS (SELECT doc_id, source, {T.sql_tokens('text')} AS t FROM documents),
feats AS (
    SELECT doc_id, source,
           {hash_bucket_sql('f', seed=DSIR_SEED, n_buckets=DSIR_BUCKETS)} AS bucket
    FROM (
        SELECT doc_id, source, unnest(t) AS f FROM toksed
        UNION ALL
        SELECT doc_id, source, unnest({T.sql_word_ngrams('t', 2)}) AS f FROM toksed
    )
    WHERE len(f) > 0
)
"""


@query(
    "dsir_importance_docs",
    oracle=f"""
WITH {_SQL_FEATURES},
raw_b AS (SELECT bucket, COUNT(*) AS r_cnt FROM feats GROUP BY bucket),
tgt_b AS (SELECT bucket, COUNT(*) AS t_cnt FROM feats
          WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY bucket),
tot AS (
    SELECT (SELECT COUNT(*) FROM feats) AS r_tot,
           (SELECT COUNT(*) FROM feats WHERE source = '{DSIR_TARGET_SOURCE}') AS t_tot
),
lr AS (
    SELECT r.bucket,
           CAST((floor((ln((coalesce(t.t_cnt, 0) + 1) / CAST((SELECT t_tot FROM tot) + {DSIR_BUCKETS} AS DOUBLE))
             - ln((r.r_cnt + 1) / CAST((SELECT r_tot FROM tot) + {DSIR_BUCKETS} AS DOUBLE))) * 1e6 + 0.5) / 1e6) AS DECIMAL(18,6)) AS log_ratio
    FROM raw_b r LEFT JOIN tgt_b t USING (bucket)
)
SELECT f.doc_id,
       COUNT(*) AS n_features,
       CAST(CAST((SUM(l.log_ratio)) AS STRING) AS DOUBLE) AS dsir_weight,
       (floor((CAST(CAST((SUM(l.log_ratio)) AS STRING) AS DOUBLE) / COUNT(*)) * 1e6 + 0.5) / 1e6) AS avg_log_ratio,
       (floor((CAST(CAST((SUM(l.log_ratio)) AS STRING) AS DOUBLE) / COUNT(*)) * 1e6 + 0.5) / 1e6) > 0 AS selected
FROM feats f JOIN lr l USING (bucket)
GROUP BY f.doc_id
""",
)
def q_dsir_importance_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights over the documents table: src1 as the
    target domain, everything as raw. See module docstring for the
    exactness and 100 TB design notes."""
    docs = load_table(spark, sf_dir, "documents")
    feats = doc_features(docs).persist()
    raw_b = feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("r_cnt"))
    tgt_b = (
        feats.filter(F.col("source") == DSIR_TARGET_SOURCE)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("t_cnt"))
    )
    totals = feats.agg(
        F.count(F.lit(1)).alias("r_tot"),
        F.count(F.when(F.col("source") == DSIR_TARGET_SOURCE, 1)).alias("t_tot"),
    )
    lr = (
        raw_b.join(tgt_b, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            portable_round(
                F.log(
                    (F.coalesce(F.col("t_cnt"), F.lit(0)) + 1)
                    / (F.col("t_tot") + DSIR_BUCKETS).cast("double")
                )
                - F.log((F.col("r_cnt") + 1) / (F.col("r_tot") + DSIR_BUCKETS).cast("double")),
                6,
            )
            .cast("decimal(18,6)")
            .alias("log_ratio"),
        )
    )
    weight = F.sum("log_ratio").cast("double")
    avg = portable_round(weight / F.count(F.lit(1)), 6)
    return (
        feats.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            weight.alias("dsir_weight"),
            avg.alias("avg_log_ratio"),
            (avg > 0).alias("selected"),
        )
    )
