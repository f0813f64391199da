"""Deterministic sampling / split queries (operators/sampling.py):
train/val/test assignment, stratified corpus rebalancing, weighted
source mixtures, and a cross-split contamination audit. All
exact-oracle-checked — the DuckDB SQL is generated from the SAME
split-fraction constants and the same md5-bucket arithmetic as the
Spark expressions, so a single definition drives both sides.

Beyond-reference extension (the reference has no sampling; SURVEY
§2.2 covers only predicates). These are the entry tickets of a
training-data pipeline: every corpus refresh starts by splitting and
rebalancing, and every release gates on train/test contamination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table
from nyc_taxi_data_engineering_spark.functions import stable_sum, stable_sum_sql
from nyc_taxi_data_engineering_spark.operators import sampling as S
from nyc_taxi_data_engineering_spark.queries.registry import query

SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}
SPLIT_SEED = "r1"

# Corpus rebalance: downsample dominant English, keep the tail whole.
LANG_FRACTIONS = {"en": 0.25, "zh": 0.8, "de": 1.0, "es": 1.0, "fr": 1.0}

# Source mixture weights (sampling rates) for the training blend.
SOURCE_WEIGHTS = {"web": 0.3, "wiki": 1.0, "books": 0.9, "news": 0.6}


@query(
    "split_assignment_orders",
    oracle=f"""
SELECT {S.assign_split_sql('o_orderkey', SPLITS, SPLIT_SEED)} AS split,
       COUNT(*) AS n_rows,
       {stable_sum_sql('o_totalprice')} AS total_price
FROM orders
GROUP BY 1
""",
)
def q_split_assignment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment by hash bucket of the order
    key — deterministic across reruns and cluster layouts (unlike
    randomSplit), narrow (no shuffle for the assignment itself; the
    audit aggregation here adds the only exchange). The per-split
    price sum makes the oracle sensitive to any misassigned row."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        S.assign_split(orders, "o_orderkey", SPLITS, SPLIT_SEED)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_rows"), stable_sum("o_totalprice").alias("total_price"))
    )


@query(
    "stratified_sample_docs",
    oracle=f"""
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE {S.stratified_sample_sql('doc_id', 'lang', LANG_FRACTIONS, seed=SPLIT_SEED)}
GROUP BY lang
""",
)
def q_stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-rebalanced corpus sample: per-language keep-rates
    applied by hash-bucket thresholding — one narrow filter, no join
    against a rate table, no sampling state, rerun-stable."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        S.stratified_sample(docs, "doc_id", "lang", LANG_FRACTIONS, seed=SPLIT_SEED)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@query(
    "corpus_mixture_by_source",
    oracle=f"""
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE {S.stratified_sample_sql('doc_id', 'source', SOURCE_WEIGHTS, seed='mix1')}
GROUP BY source
""",
)
def q_corpus_mixture_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixture for a training blend (web downweighted,
    wiki kept whole): the same stratified-threshold operator keyed on
    the source column. Composable with the split assignment — both are
    projections/filters over one scan."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        S.stratified_sample(docs, "doc_id", "source", SOURCE_WEIGHTS, seed="mix1")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@query(
    "split_contamination_docs",
    oracle=f"""
WITH labeled AS (
    SELECT md5(text) AS content_hash,
           {S.assign_split_sql('doc_id', SPLITS, SPLIT_SEED)} AS split
    FROM documents
),
hashes AS (
    SELECT content_hash,
           COUNT(DISTINCT CASE WHEN split = 'train' THEN 1 END) > 0 AS in_train,
           COUNT(DISTINCT CASE WHEN split <> 'train' THEN 1 END) > 0 AS in_eval,
           COUNT(*) AS n_copies
    FROM labeled GROUP BY content_hash
)
SELECT content_hash, n_copies
FROM hashes WHERE in_train AND in_eval
""",
)
def q_split_contamination_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination audit: content hashes that appear in
    BOTH the train split and an eval split (exact-dup leakage across
    the split boundary — hash-of-key splitting dedupes nothing, so
    duplicated content can straddle splits). One shuffle on the
    content hash; at corpus scale this is the release gate run after
    every split, and its output feeds the dedup family
    (queries/dedup.py) for near-dup leakage."""
    docs = load_table(spark, sf_dir, "documents")
    labeled = S.assign_split(docs, "doc_id", SPLITS, SPLIT_SEED).select(
        F.md5("text").alias("content_hash"), "split"
    )
    return (
        labeled.groupBy("content_hash")
        .agg(
            F.max(F.col("split") == "train").alias("in_train"),
            F.max(F.col("split") != "train").alias("in_eval"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("in_train") & F.col("in_eval"))
        .select("content_hash", "n_copies")
    )


@query(
    "weighted_sample_docs",
    oracle=S.weighted_sample_sql(
        "documents", "doc_id, lang, n_chars", "doc_id", "n_chars", 50, seed="ws"
    ),
)
def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted doc sample (50 without replacement, probability
    proportional to n_chars) — deterministic Efraimidis–Spirakis via
    hash-derived uniforms, so the drawn set is identical on every rerun
    and in the DuckDB oracle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return S.weighted_sample(docs, "doc_id", "n_chars", 50, seed="ws")


_TOKEN_COUNT_SQL = "len(string_split_regex(trim(text), '\\s+'))"


def _packing_oracle() -> str:
    from nyc_taxi_data_engineering_spark.operators import packing as P

    return f"""
WITH positioned AS (
  SELECT source, doc_id,
         {P.pack_positions_sql(_TOKEN_COUNT_SQL)}
  FROM documents
)
SELECT source, shard, bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc_id
FROM positioned
GROUP BY source, shard, bin_id
"""


@query("sequence_packing_bins", oracle=_packing_oracle())
def q_sequence_packing_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents hash-sharded per
    source, concatenated in doc_id order within each (source, shard),
    and chunked into 256-token context windows; each doc joins the bin
    its first token lands in. Output audits the bins (doc count, token
    mass, first doc). See operators/packing.py for the distributed
    shape — per-shard running-offset windows, no global order."""
    from nyc_taxi_data_engineering_spark.functions import text as T
    from nyc_taxi_data_engineering_spark.operators import packing as P

    docs = load_table(spark, sf_dir, "documents").select("source", "doc_id", "text")
    positioned = P.pack_positions(docs, T.token_count_ws(F.col("text")).cast("long"))
    return positioned.groupBy("source", "shard", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc_id"),
    )


N_SHUFFLE_SHARDS = 8


@query(
    "corpus_shuffle_shards",
    oracle=S.shuffle_shards_sql(
        "documents", "doc_id", N_SHUFFLE_SHARDS, "doc_id, lang, source"
    ),
)
def q_corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pre-training shuffle-and-shard: every document
    gets a shard and a position from two independent md5 hashes of its
    key — the same (shard, pos) on every rerun and any cluster layout.
    The full assignment is the query output, so the oracle hash checks
    every row's placement, not just shard counts."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return S.shuffle_shards(docs, "doc_id", N_SHUFFLE_SHARDS)


TEMP_ALPHA = 0.5  # mixture temperature (mBERT/XLM-R-style alpha)
TEMP_SEED = "temp1"


@query(
    "temperature_mixture_by_source",
    oracle=f"""
WITH rates AS (
{S.temperature_rates_sql('source', TEMP_ALPHA)}
),
kept AS (
    SELECT d.source, d.doc_id, d.n_chars
    FROM documents d JOIN rates r USING (source)
    WHERE {S.hash_bucket_sql('d.doc_id', seed=TEMP_SEED)} < CAST(round(r.keep_rate * {S.N_BUCKETS}) AS INT)
)
SELECT r.source, r.n_total, r.keep_rate,
       COUNT(k.doc_id) AS n_kept,
       CAST(COALESCE(SUM(k.n_chars), 0) AS BIGINT) AS kept_chars
FROM rates r LEFT JOIN kept k USING (source)
GROUP BY r.source, r.n_total, r.keep_rate
""",
)
def q_temperature_mixture_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-alpha source mixture (operators/sampling
    temperature_rates): keep-rates derived from the
    corpus's own source distribution (∝ p_s^(alpha-1), rarest source
    kept whole), then the usual deterministic md5-threshold filter.
    The per-source audit this query returns is what a mixture job
    publishes next to its output. Unlike corpus_mixture_by_source
    (static weights), the rates here adapt to the observed
    distribution — the two compose: static policy caps on top of
    temperature flattening. One tiny agg + broadcast join + narrow
    filter; nothing data-sized shuffles except the final per-source
    rollup."""
    docs = load_table(spark, sf_dir, "documents")
    rates = S.temperature_rates(docs, "source", TEMP_ALPHA)
    thresh = F.round(F.col("keep_rate") * S.N_BUCKETS).cast("int")
    kept = (
        docs.join(F.broadcast(rates), "source")
        .filter(S.hash_bucket(F.col("doc_id"), seed=TEMP_SEED) < thresh)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("kept_chars"),
        )
    )
    return (
        rates.join(kept, "source", "left")
        .select(
            "source",
            "n_total",
            "keep_rate",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("kept_chars", F.lit(0)).cast("bigint").alias("kept_chars"),
        )
    )


_DRIFT_EXP = (
    "CAST(rt.split_total AS DOUBLE) * CAST(ct.source_total AS DOUBLE)"
    " / CAST(nt.n_total AS DOUBLE)"
)


@query(
    "split_drift_chi2",
    oracle=f"""
WITH a AS (
    SELECT {S.assign_split_sql('doc_id', SPLITS, SPLIT_SEED)} AS split, source
    FROM documents
),
cells AS (SELECT split, source, COUNT(*) AS obs FROM a GROUP BY split, source),
rt AS (SELECT split, SUM(obs) AS split_total FROM cells GROUP BY split),
ct AS (SELECT source, SUM(obs) AS source_total FROM cells GROUP BY source),
nt AS (SELECT SUM(obs) AS n_total FROM cells)
SELECT c.split, c.source, c.obs AS n_docs,
       {_DRIFT_EXP} AS expected,
       (CAST(c.obs AS DOUBLE) - {_DRIFT_EXP}) * (CAST(c.obs AS DOUBLE) - {_DRIFT_EXP})
           / ({_DRIFT_EXP}) AS chi2_term
FROM cells c JOIN rt USING (split) JOIN ct USING (source) CROSS JOIN nt
""",
)
def q_split_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-vs-source independence audit — the drift check every
    train/val/test assignment needs (a biased split over-represents a
    source and silently shifts eval): the full chi-square contingency
    over (split, source), each cell's expected count and chi2 term
    derived from the margins. Pure +,-,*,/ on exact counts — no logs,
    no rounding — so both engines produce bit-identical doubles by
    IEEE arithmetic alone. Scale shape: one narrow hash-bucket
    assignment + one (split, source) hash agg; the margins are
    broadcast-sized re-aggregations of the TINY cell table, never a
    second corpus scan."""
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        S.assign_split(docs, "doc_id", SPLITS, SPLIT_SEED)
        .groupBy("split", "source")
        .agg(F.count(F.lit(1)).alias("obs"))
        .persist()
    )
    rt = cells.groupBy("split").agg(F.sum("obs").alias("split_total"))
    ct = cells.groupBy("source").agg(F.sum("obs").alias("source_total"))
    nt = cells.agg(F.sum("obs").alias("n_total"))
    exp = (
        F.col("split_total").cast("double")
        * F.col("source_total").cast("double")
        / F.col("n_total").cast("double")
    )
    obs_d = F.col("obs").cast("double")
    return (
        cells.join(F.broadcast(rt), "split")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(nt))
        .select(
            "split",
            "source",
            F.col("obs").alias("n_docs"),
            exp.alias("expected"),
            ((obs_d - exp) * (obs_d - exp) / exp).alias("chi2_term"),
        )
    )
