"""Corpus-curation funnel: the composite pipeline an LLM training-data
refresh actually runs — language filter, quality gate, exact dedup,
near-dup cluster dedup — with per-stage retention counts. Each stage is
an existing engine operator; this query chains them and audits the
funnel, all exactly oracle-checked (the near-dup stage rides the same
recursive-CTE component oracle as dedup_clusters_docs).

Scale: the funnel narrows monotonically, so each stage's shuffle works
on the survivors only; the expensive stages (shingle join, components)
run last on the smallest set — the canonical ordering for corpus jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table_parallel as load_table
from nyc_taxi_data_engineering_spark.functions import text as T
from nyc_taxi_data_engineering_spark.operators import dedup as D
from nyc_taxi_data_engineering_spark.operators import pin
from nyc_taxi_data_engineering_spark.queries.registry import query

QUALITY_MIN = 0.65

_STAGES = ["raw", "lang_en", "quality_ge_min", "exact_canonical", "neardup_canonical"]


@query(
    "corpus_curation_funnel",
    oracle=f"""
WITH RECURSIVE d1 AS (
    SELECT * FROM documents WHERE lang = 'en'
),
d2 AS (SELECT * FROM d1 WHERE {T.sql_quality_score('text')} >= {QUALITY_MIN}),
d3 AS (
    SELECT * FROM d2 QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
),
shingle_sets AS (
    SELECT doc_id, {T.sql_word_shingles('text')} AS shingles FROM d3
),
inv AS (SELECT doc_id, unnest(shingles) AS s FROM shingle_sets),
sizes AS (SELECT doc_id, len(shingles) AS n FROM shingle_sets),
common AS (
    SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common_shingles
    FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
edges AS (
    SELECT a_id, b_id FROM common
    JOIN sizes na ON na.doc_id = a_id
    JOIN sizes nb ON nb.doc_id = b_id
    WHERE round(common_shingles * 1.0 / (na.n + nb.n - common_shingles), 6) >= 0.8
),
sym AS (SELECT a_id AS src, b_id AS dst FROM edges UNION SELECT b_id, a_id FROM edges),
reach AS (
    SELECT doc_id AS src, doc_id AS dst FROM d3
    UNION
    SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
),
comp AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
d4 AS (SELECT doc_id FROM comp WHERE doc_id = cluster_id)
SELECT CAST(1 AS INT) AS stage_no, 'raw' AS stage,
       CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS rows_kept
UNION ALL SELECT 2, 'lang_en', CAST((SELECT COUNT(*) FROM d1) AS BIGINT)
UNION ALL SELECT 3, 'quality_ge_min', CAST((SELECT COUNT(*) FROM d2) AS BIGINT)
UNION ALL SELECT 4, 'exact_canonical', CAST((SELECT COUNT(*) FROM d3) AS BIGINT)
UNION ALL SELECT 5, 'neardup_canonical', CAST((SELECT COUNT(*) FROM d4) AS BIGINT)
""",
)
def q_corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    d1 = docs.filter(F.col("lang") == "en")
    d2 = d1.filter(T.quality_score(text) >= QUALITY_MIN)
    w = Window.partitionBy(F.md5(text))
    # Materialize the exact-dedup survivors once: three consumers
    # (the shingle-pair pipeline, the component node list, and the
    # stage-4 count) would otherwise each re-run the lang+quality+
    # window pipeline. Survivors are the narrowed set — the cheap
    # thing to persist, exactly what a production funnel stages.
    d3 = pin(
        d2.withColumn("_canon", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("_canon"))
        .drop("_canon")
    )
    edges = D.shingle_jaccard_pairs(d3, threshold=0.8).select("a_id", "b_id")
    comp = D.connected_components(edges, nodes=d3, node_col="doc_id")
    d4 = comp.filter(F.col("id") == F.col("component"))

    def stage(no: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(no).alias("stage_no"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("rows_kept"),
        )

    out = stage(1, "raw", docs)
    for no, (name, df) in enumerate(
        [("lang_en", d1), ("quality_ge_min", d2), ("exact_canonical", d3), ("neardup_canonical", d4)],
        start=2,
    ):
        out = out.unionByName(stage(no, name, df))
    return out


TOKEN_BUDGET_PER_SOURCE = 700  # ws-token budget per source bucket (~half of each source's ~1.4k at sf0.01)


@query(
    "token_budget_selection",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source,
         len({T.sql_tokens('text')}) AS n_tokens,
         {T.sql_quality_score('text')} AS quality_score
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens, quality_score,
         SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY quality_score DESC, doc_id
             ROWS UNBOUNDED PRECEDING
         ) AS cum_tokens
  FROM t
)
SELECT doc_id, source, n_tokens, quality_score, CAST(cum_tokens AS BIGINT) AS cum_tokens,
       cum_tokens <= {TOKEN_BUDGET_PER_SOURCE} AS selected
FROM c
""",
)
def q_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered corpus selection under a per-source token
    budget — the data-mixing step that decides which documents make
    the training cut when each source is capped. Docs are ranked by
    quality (ties broken by doc_id for determinism), the running token
    total is a per-source window, and a doc is selected while the
    cumulative count stays within budget. One hash shuffle on source;
    the window never crosses sources, so at 100 TB the sort is
    per-partition, not global."""
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    t = docs.select(
        "doc_id",
        "source",
        T.token_count_ws(c).alias("n_tokens"),
        T.quality_score(c).alias("quality_score"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("quality_score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t.withColumn("cum_tokens", F.sum("n_tokens").over(w)).withColumn(
        "selected", F.col("cum_tokens") <= TOKEN_BUDGET_PER_SOURCE
    )
