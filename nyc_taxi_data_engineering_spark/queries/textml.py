"""Text-ML scoring under the exact oracle gate: corpus TF-IDF term
ranking and a multinomial Naive Bayes classifier whose TRAINING and
EVALUATION both replay bit-for-bit in DuckDB.

Log contract (the DSIR precedent, queries/dsir.py): natural logs agree
between Spark and DuckDB to ~1 ulp; rounding every log to 6 dp and
carrying sums as DECIMAL(18,6) puts both engines on the same grid, so
even the *scores* — not just the argmax — sit under the hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table
from nyc_taxi_data_engineering_spark.functions import text as T
from nyc_taxi_data_engineering_spark.operators.sampling import hash_bucket, hash_bucket_sql
from nyc_taxi_data_engineering_spark.queries.registry import query

TFIDF_TOPK = 10


@query(
    "tfidf_top_terms",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, source, unnest({T.sql_tokens('text')}) AS w FROM documents
),
tf AS (SELECT source, w AS token, COUNT(*) AS tf FROM tok GROUP BY source, w),
df AS (SELECT w AS token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY w),
nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
scored AS (
  SELECT source, token, tf,
         round(ln((SELECT n FROM nd) / df), 6) AS idf
  FROM tf JOIN df USING (token)
),
ranked AS (
  SELECT source, token, CAST(tf AS BIGINT) AS tf, idf, tf * idf AS tfidf,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY tf * idf DESC, token) AS rn
  FROM scored
)
SELECT source, token, tf, idf, tfidf FROM ranked WHERE rn <= {TFIDF_TOPK}
""",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TFIDF_TOPK} TF-IDF terms per source — the keyword-profile /
    domain-signature primitive (and the BM25 cousin already covered by
    bm25_search_topk, operators/search.py). tf is term frequency within
    the source; idf = ln(N_docs/df) rounded to 6 dp (the shared log
    contract), so tf·idf multiplies an exact integer by an on-grid
    double — bit-identical cross-engine. Plan: one explode, two hash
    aggs (tf keyed on (source, token); df a distinct-doc count per
    token), a vocab-sized equi-join, and a top-k window over the
    per-source slices of the AGGREGATED table — never over the token
    stream."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "source", F.explode(T.tokens(F.col("text"))).alias("w"))
    tf = tok.groupBy("source", F.col("w").alias("token")).agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy(F.col("w").alias("token")).agg(F.count_distinct("doc_id").alias("df"))
    nd = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(nd))
        .select(
            "source",
            "token",
            "tf",
            F.round(F.log(F.col("n") / F.col("df")), 6).alias("idf"),
        )
    )
    win = Window.partitionBy("source").orderBy((F.col("tf") * F.col("idf")).desc(), "token")
    return (
        scored.withColumn("tfidf", F.col("tf") * F.col("idf"))
        .withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= TFIDF_TOPK)
        .select("source", "token", "tf", "idf", "tfidf")
    )


NB_BUCKETS = 64  # hashed-feature vocabulary (the hashing trick)
_NB_DEC = "DECIMAL(18,6)"


def _nb_oracle() -> str:
    b = hash_bucket_sql("w", seed="nb", n_buckets=NB_BUCKETS)
    return f"""
WITH tok AS (
  SELECT doc_id, lang, {b} AS bucket
  FROM (SELECT doc_id, lang, unnest({T.sql_tokens('text')}) AS w FROM documents)
),
train AS (SELECT * FROM tok WHERE doc_id % 3 <> 0),
test  AS (SELECT * FROM tok WHERE doc_id % 3 = 0),
classes AS (SELECT DISTINCT lang AS cls FROM train),
cls_tot AS (SELECT lang AS cls, COUNT(*) AS tot FROM train GROUP BY lang),
cls_cnt AS (SELECT lang AS cls, bucket, COUNT(*) AS cnt
            FROM train GROUP BY lang, bucket),
model AS (
  SELECT c.cls, g.bucket,
         CAST(round(ln((COALESCE(n.cnt, 0) + 1.0) / (t.tot + {NB_BUCKETS}.0)), 6)
              AS {_NB_DEC}) AS loglik
  FROM classes c
  CROSS JOIN (SELECT UNNEST(generate_series(0, {NB_BUCKETS - 1})) AS bucket) g
  JOIN cls_tot t ON t.cls = c.cls
  LEFT JOIN cls_cnt n ON n.cls = c.cls AND n.bucket = g.bucket
),
prior AS (
  SELECT lang AS cls,
         CAST(round(ln(CAST(COUNT(DISTINCT doc_id) AS DOUBLE)
                       / (SELECT COUNT(DISTINCT doc_id) FROM train)), 6)
              AS {_NB_DEC}) AS logprior
  FROM train GROUP BY lang
),
doc_scores AS (
  SELECT t.doc_id, m.cls, SUM(m.loglik) + ANY_VALUE(p.logprior) AS score
  FROM test t
  JOIN model m ON m.bucket = t.bucket
  JOIN prior p ON p.cls = m.cls
  GROUP BY t.doc_id, m.cls
),
pred AS (
  SELECT doc_id, cls AS predicted
  FROM (SELECT doc_id, cls,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cls DESC) AS rn
        FROM doc_scores)
  WHERE rn = 1
),
truth AS (SELECT DISTINCT doc_id, lang AS actual FROM test)
SELECT actual, predicted, COUNT(*) AS n_docs
FROM truth JOIN pred USING (doc_id)
GROUP BY actual, predicted
"""


@query("nb_lang_confusion", oracle=_nb_oracle())
def q_nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier with BOTH phases
    under the gate: train on docs with doc_id % 3 != 0 (add-one
    smoothed per-class log-likelihoods over {NB_BUCKETS} hashed token
    buckets — the hashing trick bounds model size BY CONSTRUCTION, so
    the model always broadcasts), score the held-out third, and report
    the confusion matrix. Every log rounds to 6 dp and per-doc scores
    sum as DECIMAL(18,6) (order-independent), so the oracle reproduces
    the exact same argmax — ties broken by (score desc, class desc) in
    both engines.

    Scale shape: one explode → two training hash aggs (class-bounded
    state) → a dense {NB_BUCKETS}×classes model table (tiny, broadcast)
    → test tokens join the model by bucket → one (doc, class) hash agg
    → per-doc argmax via max(struct) — no window on the big side —
    → classes² confusion agg. The per-doc argmax here mirrors
    lpa/kmeans: fold the comparison into the aggregate, never sort."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(T.tokens(F.col("text"))).alias("w")
    ).select("doc_id", "lang", hash_bucket(F.col("w"), seed="nb", n_buckets=NB_BUCKETS).alias("bucket"))
    train = tok.filter(F.col("doc_id") % 3 != 0)
    test = tok.filter(F.col("doc_id") % 3 == 0)
    classes = train.select(F.col("lang").alias("cls")).distinct()
    cls_tot = train.groupBy(F.col("lang").alias("cls")).agg(F.count(F.lit(1)).alias("tot"))
    cls_cnt = train.groupBy(F.col("lang").alias("cls"), "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    grid = spark.range(NB_BUCKETS).select(F.col("id").cast("int").alias("bucket"))
    model = (
        classes.crossJoin(grid)
        .join(cls_tot, "cls")
        .join(cls_cnt, ["cls", "bucket"], "left")
        .select(
            "cls",
            "bucket",
            F.round(
                F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1.0))
                    / (F.col("tot") + F.lit(float(NB_BUCKETS)))
                ),
                6,
            )
            .cast(_NB_DEC.lower())
            .alias("loglik"),
        )
    )
    ntd = train.agg(F.count_distinct("doc_id").alias("ntd"))
    prior = (
        train.groupBy(F.col("lang").alias("cls"))
        .agg(F.count_distinct("doc_id").alias("nd"))
        .crossJoin(F.broadcast(ntd))
        .select(
            "cls",
            F.round(F.log(F.col("nd").cast("double") / F.col("ntd")), 6)
            .cast(_NB_DEC.lower())
            .alias("logprior"),
        )
    )
    doc_scores = (
        test.join(F.broadcast(model), "bucket")
        .join(F.broadcast(prior), "cls")
        .groupBy("doc_id", "cls")
        .agg((F.sum("loglik") + F.any_value("logprior")).alias("score"))
    )
    pred = doc_scores.groupBy("doc_id").agg(
        F.max(F.struct("score", "cls")).alias("best")
    ).select("doc_id", F.col("best.cls").alias("predicted"))
    truth = test.select("doc_id", F.col("lang").alias("actual")).distinct()
    return (
        truth.join(pred, "doc_id")
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


ZIPF_TOPK = 100


@query(
    "zipf_fit_tokens",
    oracle=f"""
WITH tok AS (
  SELECT unnest({T.sql_tokens('text')}) AS w FROM documents
),
freq AS (SELECT w, COUNT(*) AS f FROM tok GROUP BY w),
ranked AS (
  SELECT CAST(round(ln(CAST(ROW_NUMBER() OVER (ORDER BY f DESC, w) AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS x,
         CAST(round(ln(CAST(f AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
  FROM freq
  ORDER BY f DESC, w
  LIMIT {ZIPF_TOPK}
),
mom AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 6) AS DECIMAL(18,6))) AS STRING) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 6) AS DECIMAL(18,6))) AS STRING) AS DOUBLE) AS sxy
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_tokens,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS zipf_slope,
       (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS intercept
FROM mom
""",
)
def q_zipf_fit_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit for the corpus: least-squares slope of
    ln(frequency) against ln(rank) over the top-{ZIPF_TOPK} tokens — a
    natural corpus should land near the canonical −1; a corpus of
    boilerplate or template spam bends the curve, making the slope a
    one-number corpus-health diagnostic (and a drift alarm between
    ingests). Every log AND every cross-product rounds to 6 dp and
    sums as DECIMAL (the dsir/textml grid contract), so slope and
    intercept are bit-identical cross-engine. Plan: one explode + one
    vocab hash agg; the rank window and the regression run over
    {ZIPF_TOPK} rows."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    # top-K via TakeOrderedAndProject (per-partition top-K, no global
    # sort of the vocabulary); the rank window then runs over the
    # {ZIPF_TOPK}-row result — bounded by the constant, not the corpus.
    topk = freq.orderBy(F.col("f").desc(), "w").limit(ZIPF_TOPK)
    ranked = (
        topk.withColumn(
            "rnk", F.row_number().over(Window.orderBy(F.col("f").desc(), "w"))  # ZIPF_TOPK-row table after TakeOrderedAndProject
        )
        .select(
            F.round(F.log(F.col("rnk").cast("double")), 6).cast("decimal(18,6)").alias("x"),
            F.round(F.log(F.col("f").cast("double")), 6).cast("decimal(18,6)").alias("y"),
        )
    )
    mom = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(
            F.round(F.col("x").cast("double") * F.col("x").cast("double"), 6).cast(
                "decimal(18,6)"
            )
        )
        .cast("double")
        .alias("sxx"),
        F.sum(
            F.round(F.col("x").cast("double") * F.col("y").cast("double"), 6).cast(
                "decimal(18,6)"
            )
        )
        .cast("double")
        .alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return mom.select(
        F.col("n").cast("long").alias("n_tokens"),
        slope.alias("zipf_slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
    )


FEATHASH_BUCKETS = 4096


@query(
    "feature_hashing_collisions",
    oracle=f"""
WITH toks AS (
    SELECT DISTINCT unnest({T.sql_tokens('text')}) AS tok FROM documents
),
h AS (
    SELECT tok,
           CAST(('0x' || substr(md5('feat' || '|' || tok), 1, 8))::BIGINT
                % {FEATHASH_BUCKETS} AS INT) AS bucket
    FROM toks
),
b AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_toks FROM h GROUP BY bucket)
SELECT CAST(SUM(n_toks) AS BIGINT) AS n_distinct_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_buckets_occupied,
       CAST({FEATHASH_BUCKETS} AS BIGINT) AS n_buckets,
       1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n_toks) AS DOUBLE) AS collision_rate,
       CAST(MAX(n_toks) AS BIGINT) AS max_bucket_tokens,
       CAST(SUM(CASE WHEN n_toks > 1 THEN n_toks ELSE 0 END) AS BIGINT)
         AS tokens_sharing_buckets
FROM b
""",
)
def q_feature_hashing_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick collision audit for the {FEATHASH_BUCKETS}-bucket
    feature space the hashed-feature models (Naive Bayes, DSIR, the
    linear probe) project into: how much of the vocabulary actually
    collides, the worst bucket's load, and the collision rate
    1 - occupied/distinct — the number that says whether a hashed
    model's errors are capacity or collisions. Deterministic md5
    bucketing (the sampling-family transport), one distinct + two hash
    aggs, one terminal division."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"))
        .distinct()
    )
    h = toks.select(
        (
            F.conv(
                F.substring(F.md5(F.concat_ws("|", F.lit("feat"), F.col("tok"))), 1, 8),
                16,
                10,
            ).cast("long")
            % FEATHASH_BUCKETS
        )
        .cast("int")
        .alias("bucket")
    )
    b = h.groupBy("bucket").agg(F.count(F.lit(1)).cast("bigint").alias("n_toks"))
    return b.agg(
        F.sum("n_toks").cast("bigint").alias("n_distinct_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets_occupied"),
        F.lit(FEATHASH_BUCKETS).cast("bigint").alias("n_buckets"),
        (
            F.lit(1.0)
            - F.count(F.lit(1)).cast("double") / F.sum("n_toks").cast("double")
        ).alias("collision_rate"),
        F.max("n_toks").cast("bigint").alias("max_bucket_tokens"),
        F.sum(F.when(F.col("n_toks") > 1, F.col("n_toks")).otherwise(0))
        .cast("bigint")
        .alias("tokens_sharing_buckets"),
    )
