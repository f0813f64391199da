"""Deduplication queries over the ``documents`` table: exact
hash-groupBy, n-gram Jaccard, MinHash+LSH, SimHash. All oracle-checked
— the DuckDB SQL is generated from the same constants as the Spark
expressions so both sides share one definition of shingles, seeds,
bands, and thresholds.

The sf0.01 corpus plants 25 near-dup pairs at Jaccard ≥ 0.9 (measured)
— the thresholds below are calibrated so each query surfaces them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table_parallel as load_table
from nyc_taxi_data_engineering_spark.functions import text as T
from nyc_taxi_data_engineering_spark.operators import dedup as D
from nyc_taxi_data_engineering_spark.queries.registry import query

_H = D.MINHASH_HASHES
_B = D.LSH_BANDS
_R = _H // _B

# Shared oracle CTE: per-doc distinct word shingles + set size.
_SHINGLES_CTE = f"""
shingle_sets AS (
    SELECT doc_id, {T.sql_word_shingles('text')} AS shingles FROM documents
),
inv AS (SELECT doc_id, unnest(shingles) AS s FROM shingle_sets),
sizes AS (SELECT doc_id, len(shingles) AS n FROM shingle_sets)
"""

_SIG_COLS = ",\n           ".join(
    f"{e} AS s{i}"
    for i, e in enumerate(T.sql_minhash_signature(T.sql_word_shingles("text"), _H))
)

_SEP = " || '|' || "
def _band_selects(src: str) -> str:
    """Band-bucket SELECTs over a signature CTE named ``src``."""
    return "\n    UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, md5({_SEP.join(f's{i * _R + j}' for j in range(_R))}) AS bucket FROM {src}"
        for i in range(_B)
    )


_BAND_SELECTS = _band_selects("sig")

_SIG_MATCHES = " + ".join(f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)" for i in range(_H))


@query(
    "exact_dedup_docs",
    oracle="""
SELECT doc_id,
       md5(text) AS content_hash,
       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_doc_id,
       doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
FROM documents
""",
)
def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one shuffle on the content hash (operators/dedup
    exact_dedup). The always-first, cheapest dedup pass."""
    return D.exact_dedup(load_table(spark, sf_dir, "documents"))


@query(
    "ngram_jaccard_pairs",
    oracle=f"""
WITH {_SHINGLES_CTE},
common AS (
    SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common_shingles
    FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT a_id, b_id, common_shingles,
       round(common_shingles * 1.0 / (na.n + nb.n - common_shingles), 6) AS jaccard
FROM common
JOIN sizes na ON na.doc_id = a_id
JOIN sizes nb ON nb.doc_id = b_id
WHERE round(common_shingles * 1.0 / (na.n + nb.n - common_shingles), 6) >= 0.8
""",
    bench=True,
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs at threshold 0.8 via
    the inverted shingle index (keyed join, never n²)."""
    return D.shingle_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.8)


@query(
    "containment_neardup_pairs",
    oracle=f"""
WITH {_SHINGLES_CTE},
common AS (
    SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common_shingles
    FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
sized AS (
    SELECT c.a_id, c.b_id, c.common_shingles, na.n AS na, nb.n AS nb
    FROM common c
    JOIN sizes na ON na.doc_id = c.a_id
    JOIN sizes nb ON nb.doc_id = c.b_id
),
directional AS (
    SELECT a_id AS inner_id, b_id AS outer_id, common_shingles,
           round(common_shingles * 1.0 / na, 6) AS containment
    FROM sized
    UNION ALL
    SELECT b_id AS inner_id, a_id AS outer_id, common_shingles,
           round(common_shingles * 1.0 / nb, 6) AS containment
    FROM sized
)
SELECT inner_id, outer_id, common_shingles, containment
FROM directional WHERE containment >= 0.8
""",
)
def q_containment_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle-containment pairs at threshold 0.8 — the
    asymmetric (short-doc-inside-long-doc) companion to Jaccard; same
    inverted-index scale shape, one extra projection union."""
    return D.shingle_containment_pairs(load_table(spark, sf_dir, "documents"), threshold=0.8)


@query(
    "minhash_lsh_pairs",
    oracle=f"""
WITH sig AS (
    SELECT doc_id,
           {_SIG_COLS}
    FROM documents
),
bands AS (
    {_BAND_SELECTS}
),
pairs AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT p.a_id, p.b_id, ({_SIG_MATCHES}) / {float(_H)} AS est_similarity
FROM pairs p
JOIN sig sa ON sa.doc_id = p.a_id
JOIN sig sb ON sb.doc_id = p.b_id
""",
)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4x4 bands) candidate pairs scored by signature
    agreement — the sub-quadratic scale path for Jaccard dedup."""
    docs = load_table(spark, sf_dir, "documents")
    return D.lsh_candidate_pairs(D.minhash_signatures(docs))


@query(
    "simhash_docs",
    oracle=f"""
SELECT doc_id, {T.sql_simhash('text')} AS simhash FROM documents
""",
    bench=True,
)
def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document (explode + one hash-agg with 64
    conditional sums; map-side combine keeps the shuffle small)."""
    return D.simhash(load_table(spark, sf_dir, "documents"))


@query(
    "simhash_neardup_pairs",
    oracle=f"""
WITH sim AS (
    SELECT doc_id, {T.sql_simhash('text')} AS simhash FROM documents
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
)
def q_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance 3 via the Manku
    block-combination join (6 blocks, C(6,3)=20 combos, ~33-bit keys).
    The oracle deliberately scans ALL pairs — every parity run also
    re-proves the pigeonhole claim that the blocked join has zero
    false negatives at hamming <= 3."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_neardup_pairs(D.simhash(docs))


@query(
    "dedup_clusters_docs",
    oracle=f"""
WITH RECURSIVE {_SHINGLES_CTE},
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
sym AS (
    SELECT a_id AS src, b_id AS dst FROM edges
    UNION SELECT b_id, a_id FROM edges
),
reach AS (
    SELECT doc_id AS src, doc_id AS dst FROM documents
    UNION
    SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
),
comp AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
csize AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id)
SELECT c.doc_id, c.cluster_id, s.cluster_size, c.doc_id = c.cluster_id AS is_canonical
FROM comp c JOIN csize s USING (cluster_id)
""",
)
def q_dedup_clusters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the Jaccard>=0.8
    pair graph (iterative min-label propagation), every document
    assigned a cluster_id = min doc_id of its component, singletons
    included. The oracle recomputes components with a recursive CTE —
    the one genuinely iterative algorithm in the engine, still exactly
    checkable."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    edges = D.shingle_jaccard_pairs(docs, threshold=0.8).select("a_id", "b_id")
    comp = D.connected_components(edges, nodes=docs, node_col="doc_id")
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select(
            F.col("id").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            "cluster_size",
            (F.col("id") == F.col("component")).alias("is_canonical"),
        )
    )


@query(
    "neardup_canonical_docs",
    oracle=f"""
WITH RECURSIVE {_SHINGLES_CTE},
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
sym AS (
    SELECT a_id AS src, b_id AS dst FROM edges
    UNION SELECT b_id, a_id FROM edges
),
reach AS (
    SELECT doc_id AS src, doc_id AS dst FROM documents
    UNION
    SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
),
comp AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
scored AS (
    SELECT c.doc_id, c.cluster_id, {T.sql_quality_score('d.text')} AS quality
    FROM comp c JOIN documents d USING (doc_id)
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY cluster_id ORDER BY quality DESC, doc_id
    ) AS rn,
    CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM scored
)
SELECT cluster_id, doc_id AS canonical_doc_id, quality AS canonical_quality, cluster_size
FROM ranked WHERE rn = 1 AND cluster_size > 1
""",
)
def q_neardup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-based survivorship over near-dup clusters: within every
    multi-document Jaccard>=0.8 component, keep the HIGHEST-quality
    document (tie-break min doc_id) — the representative a curation
    pipeline retains, as opposed to dedup_clusters_docs' positional
    min-id canonical. Singleton clusters are excluded: they need no
    survivorship decision.

    Scale shape: components via iterative min-label propagation (the
    same operator as dedup_clusters_docs), then one window partitioned
    by cluster_id — cluster sizes are bounded by the near-dup graph's
    component structure, so the argmax window never sees unbounded
    partitions. Quality scores are the engine's exact text metrics, so
    the DESC ordering matches the oracle bit-for-bit."""
    from nyc_taxi_data_engineering_spark.functions import text as T2

    docs = load_table(spark, sf_dir, "documents")
    edges = D.shingle_jaccard_pairs(docs, threshold=0.8).select("a_id", "b_id")
    comp = D.connected_components(edges, nodes=docs, node_col="doc_id")
    scored = comp.join(docs, comp["id"] == docs["doc_id"]).select(
        "doc_id",
        F.col("component").alias("cluster_id"),
        T2.quality_score(F.col("text")).alias("quality"),
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("quality").desc(), "doc_id")
    ranked = scored.withColumn("rn", F.row_number().over(w)).withColumn(
        "cluster_size", F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
    )
    return ranked.filter((F.col("rn") == 1) & (F.col("cluster_size") > 1)).select(
        "cluster_id",
        F.col("doc_id").alias("canonical_doc_id"),
        F.col("quality").alias("canonical_quality"),
        "cluster_size",
    )


@query(
    "shingle_df_histogram",
    oracle=f"""
WITH {_SHINGLES_CTE},
df AS (SELECT s, count(*) AS df FROM inv GROUP BY s)
SELECT CASE WHEN df = 1 THEN '1'
            WHEN df <= 10 THEN '2-10'
            WHEN df <= 100 THEN '11-100'
            ELSE '>100' END AS df_bucket,
       COUNT(*) AS n_shingles,
       CAST(SUM(df) AS BIGINT) AS n_postings
FROM df
GROUP BY 1
""",
)
def q_shingle_df_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle document-frequency histogram — the operational
    diagnostic for hot shingles: candidate-pair volume from the
    inverted index is sum over shingles of C(df, 2),
    so the `>100` bucket is where a corpus goes quadratic and the
    posting mass (`n_postings`) tells you how much join input each
    bucket contributes. Run this BEFORE a 100 TB dedup pass to choose
    between the plain inverted index and the prefix filter, which
    keeps the hottest shingles out of its index; a fat tail here is
    the early warning the sf10 probe turns into a spilled join.

    Plan: the same explode the jaccard path uses -> shingle hash-agg
    (map-side combine) -> 4-key bucket agg. No joins."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    inv = toks.select("doc_id", F.explode(T.word_shingles_of(F.col("toks"))).alias("s"))
    df = inv.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    bucket = (
        F.when(F.col("df") == 1, F.lit("1"))
        .when(F.col("df") <= 10, F.lit("2-10"))
        .when(F.col("df") <= 100, F.lit("11-100"))
        .otherwise(F.lit(">100"))
    )
    return df.groupBy(bucket.alias("df_bucket")).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum("df").cast("bigint").alias("n_postings"),
    )


_OPH_K = D.OPH_BINS
_OPH_R = _OPH_K // _B

# OPH oracle: one md5 per distinct shingle, bin from the first 4 hex
# digits, per-bin min, rotation densification via two
# first_value-IGNORE-NULLS windows (forward then circular wrap) —
# bit-identical to the Spark expressions (same 'oph:' seed prefix,
# same hex-prefix arithmetic as hash_bucket/hash_bucket_sql).
_OPH_SIG_CTE = f"""
hashed AS (
    SELECT doc_id, md5('oph:' || s) AS h FROM inv
),
binned AS (
    SELECT doc_id,
           CAST(('0x' || substr(h, 1, 4))::BIGINT % {_OPH_K} AS INT) AS bin, h
    FROM hashed
),
mins AS (SELECT doc_id, bin, min(h) AS m FROM binned GROUP BY doc_id, bin),
dense AS (
    SELECT d.doc_id, b.bin, m.m
    FROM (SELECT DISTINCT doc_id FROM shingle_sets) d
    CROSS JOIN (SELECT unnest(range({_OPH_K})) AS bin) b
    LEFT JOIN mins m ON m.doc_id = d.doc_id AND m.bin = b.bin
),
osig AS (
    SELECT doc_id, bin,
           coalesce(
             first_value(m IGNORE NULLS) OVER (
                 PARTITION BY doc_id ORDER BY bin
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
             first_value(m IGNORE NULLS) OVER (
                 PARTITION BY doc_id ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           ) AS sig
    FROM dense
)
"""


@query(
    "oph_minhash_pairs",
    oracle=f"""
WITH {_SHINGLES_CTE},
{_OPH_SIG_CTE},
obands AS (
    SELECT doc_id, CAST(bin // {_OPH_R} AS INT) AS band,
           md5(string_agg(sig, '|' ORDER BY bin)) AS bucket
    FROM osig GROUP BY doc_id, CAST(bin // {_OPH_R} AS INT)
),
pairs AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM obands a JOIN obands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT p.a_id, p.b_id,
       SUM(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) / {float(_OPH_K)}
         AS est_similarity
FROM pairs p
JOIN osig sa ON sa.doc_id = p.a_id
JOIN osig sb ON sb.doc_id = p.b_id AND sb.bin = sa.bin
GROUP BY p.a_id, p.b_id
""",
)
def q_oph_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-Permutation-Hashing MinHash + LSH candidate pairs
    (operators/dedup oph_minhash_bins + oph_lsh_pairs): the 16-hash
    MinHash's banding and estimator at ~1/16 of the hash compute —
    ONE md5 per distinct shingle, per-bin mins, rotation
    densification. The estimator agreement fraction is exact in
    binary (x/16), so no cross-engine rounding is needed. The k-hash
    variant (minhash_lsh_pairs) stays registered as the reference
    implementation; this is the scale path the sf10 probe motivated
    (33 s/decade of signature compute at k=16)."""
    bins_df = D.oph_minhash_bins(load_table(spark, sf_dir, "documents")).persist()
    return D.oph_lsh_pairs(bins_df)


INCR_NEARDUP_MIN = 0.5  # signature-agreement floor for the incremental near-dup stage
INCR_BATCH_SOURCE = "src0"  # the "incoming crawl" slice of the documents table


@query(
    "incremental_dedup_docs",
    oracle=f"""
WITH batch AS (SELECT doc_id, text FROM documents WHERE source = '{INCR_BATCH_SOURCE}'),
corpus AS (SELECT doc_id, text FROM documents WHERE source <> '{INCR_BATCH_SOURCE}'),
ch AS (SELECT DISTINCT md5(text) AS h FROM corpus),
flags AS (
    SELECT b.doc_id,
           md5(b.text) IN (SELECT h FROM ch) AS in_corpus,
           MIN(b.doc_id) OVER (PARTITION BY md5(b.text)) AS canon
    FROM batch b
),
bsig AS (
    SELECT doc_id,
           {_SIG_COLS}
    FROM batch JOIN flags USING (doc_id)
    WHERE NOT in_corpus AND doc_id = canon
),
csig AS (
    SELECT doc_id,
           {_SIG_COLS}
    FROM corpus
),
bbands AS (
    {_band_selects('bsig')}
),
cbands AS (
    {_band_selects('csig')}
),
cand AS (
    SELECT DISTINCT a.doc_id AS b_id, c.doc_id AS c_id
    FROM bbands a JOIN cbands c ON a.band = c.band AND a.bucket = c.bucket
),
near AS (
    SELECT DISTINCT p.b_id AS doc_id
    FROM cand p
    JOIN bsig sa ON sa.doc_id = p.b_id
    JOIN csig sb ON sb.doc_id = p.c_id
    WHERE ({_SIG_MATCHES}) / {float(_H)} >= {INCR_NEARDUP_MIN}
)
SELECT doc_id,
       CASE WHEN in_corpus THEN 'exact_dup_corpus'
            WHEN doc_id <> canon THEN 'exact_dup_batch'
            WHEN doc_id IN (SELECT doc_id FROM near) THEN 'neardup_corpus'
            ELSE 'kept' END AS status
FROM flags
""",
)
def q_incremental_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch-vs-corpus dedup (operators/dedup
    incremental_dedup_status): treat source='src0' as the incoming
    crawl and every other source as the already-ingested corpus; each
    incoming doc is admitted or dropped with a reason
    (exact-dup-vs-corpus / exact-dup-within-batch / LSH near-dup-vs-
    corpus). The per-snapshot gate a continuously refreshed 100 TB
    corpus runs on every crawl — cost proportional to the batch, not
    the corpus, because the corpus hash set and band index persist
    across refreshes."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("source") == INCR_BATCH_SOURCE).select("doc_id", "text")
    corpus = docs.filter(F.col("source") != INCR_BATCH_SOURCE).select("doc_id", "text")
    return D.incremental_dedup_status(
        batch, corpus, neardup_min=INCR_NEARDUP_MIN
    )


@query(
    "minhash_recall_audit",
    oracle=f"""
WITH {_SHINGLES_CTE},
common AS (
    SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS cs
    FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
truth AS (
    SELECT a_id, b_id FROM common
    JOIN sizes na ON na.doc_id = a_id
    JOIN sizes nb ON nb.doc_id = b_id
    WHERE round(cs * 1.0 / (na.n + nb.n - cs), 6) >= 0.8
),
sig AS (
    SELECT doc_id,
           {_SIG_COLS}
    FROM documents
),
bands AS (
    {_BAND_SELECTS}
),
cands AS (
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
j AS (
    SELECT COALESCE(t.a_id, c.a_id) AS a_id,
           (t.a_id IS NOT NULL)::INT AS in_t,
           (c.a_id IS NOT NULL)::INT AS in_c
    FROM truth t FULL JOIN cands c ON t.a_id = c.a_id AND t.b_id = c.b_id
)
SELECT CAST(SUM(in_t) AS BIGINT) AS true_pairs,
       CAST(SUM(in_c) AS BIGINT) AS candidate_pairs,
       CAST(SUM(in_t * in_c) AS BIGINT) AS found_pairs,
       CAST(SUM(in_t * (1 - in_c)) AS BIGINT) AS missed_pairs,
       CAST(SUM((1 - in_t) * in_c) AS BIGINT) AS extra_candidates,
       round(SUM(in_t * in_c) * 1.0 / SUM(in_t), 6) AS recall
FROM j
""",
)
def q_minhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH probabilistic guarantee ITSELF under the oracle gate:
    exact word-3-gram Jaccard pairs at 0.8 (the inverted-index truth
    set) full-outer-joined against the MinHash(16)/LSH(4x4) candidate
    set, reduced to one audit row — true pairs, candidates, found,
    missed (LSH false negatives), extra candidates (the S-curve's tail
    the rescore filters), and recall. This is the calibration readout
    every production dedup needs before trusting a banding config: at
    0.8 Jaccard the collision probability is 1-(1-0.8^4)^4 ≈ 0.92 per
    the S-curve, so missed_pairs > 0 is EXPECTED and the audit proves
    the engines agree on exactly which pairs slip through. Runs the
    two already-green pipelines (ngram_jaccard_pairs,
    minhash_lsh_pairs) plus one keyed full-outer join and a 1-row agg
    — at 100 TB you run it on a sampled stratum, same plan."""
    docs = load_table(spark, sf_dir, "documents")
    truth = D.shingle_jaccard_pairs(docs, threshold=0.8).select(
        "a_id", "b_id", F.lit(1).alias("in_t")
    )
    cands = D.lsh_candidate_pairs(D.minhash_signatures(docs)).select(
        "a_id", "b_id", F.lit(1).alias("in_c")
    )
    j = truth.join(cands, ["a_id", "b_id"], "full_outer").select(
        F.coalesce(F.col("in_t"), F.lit(0)).alias("in_t"),
        F.coalesce(F.col("in_c"), F.lit(0)).alias("in_c"),
    )
    return j.agg(
        F.sum("in_t").cast("bigint").alias("true_pairs"),
        F.sum("in_c").cast("bigint").alias("candidate_pairs"),
        F.sum(F.col("in_t") * F.col("in_c")).cast("bigint").alias("found_pairs"),
        F.sum(F.col("in_t") * (1 - F.col("in_c"))).cast("bigint").alias("missed_pairs"),
        F.sum((1 - F.col("in_t")) * F.col("in_c")).cast("bigint").alias("extra_candidates"),
        F.round(
            F.sum(F.col("in_t") * F.col("in_c")) / F.sum("in_t"), 6
        ).alias("recall"),
    )


from nyc_taxi_data_engineering_spark.operators import exact_substr as XS  # noqa: E402


@query("crossdoc_repeated_spans", oracle=XS.crossdoc_repeated_spans_sql())
def q_crossdoc_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2022): maximal >=32-char spans
    appearing VERBATIM in >=2 distinct documents — the duplication
    class that document-level MinHash/SimHash misses (a shared
    paragraph inside two otherwise-different docs). One explode over
    character windows, one map-side-combined gram shuffle, a per-doc
    gaps-and-islands merge (window bounded by a single doc's length),
    and the span md5 puts the duplicated CONTENT itself under the hash
    gate. At sf0.01 the planted near-dup corpus yields 53 spans up to
    526 chars long."""
    return XS.crossdoc_repeated_spans(load_table(spark, sf_dir, "documents"))


@query("crossdoc_span_scrub", oracle=XS.crossdoc_span_scrub_sql())
def q_crossdoc_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr REMEDIATION: every duplicated >=32-char span is kept
    by one canonical holder (min doc_id over the span content hash) and
    CUT from every other document, order-preserving — detection AND
    surgery under the hash gate (clean_md5 is the md5 of each rebuilt
    text). Char-overlapping cuts are interval-merged first; the rebuild
    is a lag-complement + ordered concat, keyed per doc, no UDF."""
    return XS.crossdoc_span_scrub(load_table(spark, sf_dir, "documents"))


@query(
    "prefix_jaccard_pairs",
    oracle=f"""
WITH {_SHINGLES_CTE},
common AS (
    SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common_shingles
    FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT a_id, b_id, common_shingles,
       round(common_shingles * 1.0 / (na.n + nb.n - common_shingles), 6) AS jaccard
FROM common
JOIN sizes na ON na.doc_id = a_id
JOIN sizes nb ON nb.doc_id = b_id
WHERE round(common_shingles * 1.0 / (na.n + nb.n - common_shingles), 6) >= 0.8
""",
)
def q_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME answer as ngram_jaccard_pairs, computed the PPJoin way:
    prefix filtering indexes only each doc's ~(1-tau) rarest shingles
    (rarest-first global order), candidates come from prefix collisions
    alone, and each candidate verifies exactly against the cached full
    sets. The oracle is deliberately the BRUTE inverted-index SQL —
    identical output is a standing proof the prefix filter is lossless
    at tau=0.8 (operators/dedup.prefix_filter_jaccard_pairs)."""
    return D.prefix_filter_jaccard_pairs(load_table(spark, sf_dir, "documents"))


MLT_ANCHOR_DOC = 0
MLT_TOPK = 10


@query(
    "similar_docs_to_anchor",
    oracle=f"""
WITH {_SHINGLES_CTE},
anchor AS (SELECT s FROM inv WHERE doc_id = {MLT_ANCHOR_DOC}),
common AS (
    SELECT i.doc_id, CAST(COUNT(*) AS BIGINT) AS common_shingles
    FROM inv i JOIN anchor a ON a.s = i.s
    WHERE i.doc_id <> {MLT_ANCHOR_DOC}
    GROUP BY i.doc_id
),
na AS (SELECT n FROM sizes WHERE doc_id = {MLT_ANCHOR_DOC})
SELECT c.doc_id, c.common_shingles,
       round(c.common_shingles * 1.0
             / ((SELECT n FROM na) + nb.n - c.common_shingles), 6) AS jaccard
FROM common c JOIN sizes nb ON nb.doc_id = c.doc_id
ORDER BY jaccard DESC, c.doc_id
LIMIT {MLT_TOPK}
""",
)
def q_similar_docs_to_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """More-like-this: top-{MLT_TOPK} documents by exact shingle
    Jaccard to one anchor doc — the SERVING shape of the dedup index
    (the pair queries sweep the corpus; this probes it). The anchor's
    shingle set is one row, so its exploded postings BROADCAST onto
    the corpus-side inverted index: per-probe cost is
    df(anchor's shingles), never a self-join, and the top-k is a
    TakeOrdered. Same tokenizer/shingle width as the dedup family;
    integer intersections, one division per candidate."""
    docs = load_table(spark, sf_dir, "documents")
    sets = D._shingle_sets(docs)
    inv = sets.select("doc_id", F.explode("shingles").alias("s"))
    sizes = sets.select("doc_id", F.size("shingles").alias("n"))
    anchor = inv.filter(F.col("doc_id") == MLT_ANCHOR_DOC).select("s")
    na = sizes.filter(F.col("doc_id") == MLT_ANCHOR_DOC).select(
        F.col("n").alias("na")
    )
    common = (
        inv.filter(F.col("doc_id") != MLT_ANCHOR_DOC)
        .join(F.broadcast(anchor), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common_shingles"))
    )
    jac = F.round(
        F.col("common_shingles")
        * F.lit(1.0)
        / (F.col("na") + F.col("n") - F.col("common_shingles")),
        6,
    )
    return (
        common.join(sizes, "doc_id")
        .crossJoin(F.broadcast(na))
        .select("doc_id", "common_shingles", jac.alias("jaccard"))
        .orderBy(F.col("jaccard").desc(), "doc_id")
        .limit(MLT_TOPK)
    )
