"""Similarity search over the ``embeddings`` table (64-dim float
vectors): brute-force cosine top-k as the exact baseline, a
sign-LSH-bucketed variant as the sub-quadratic scale path, and
embedding-cosine near-dup pairs.

All vector math is native Column expressions — ``zip_with`` products
folded by ``aggregate`` (JVM-side, inside codegen), no Python UDFs.
Floats are cast to double before any arithmetic so Spark and the
DuckDB oracle accumulate identically (both fold left-to-right over the
array); scores are rounded to 6 decimals on both sides.

Scale notes: the query set is broadcast (tiny vs the corpus), so
brute-force top-k is a single corpus scan with a broadcast
nested-loop join — no shuffle of the big side — followed by a
small top-k aggregation. Corpus norms are precomputed once per row,
not once per (query, row). The LSH variant buckets on the sign
pattern of the first 8 dimensions (axis-aligned random-hyperplane
LSH): candidates shrink ~256x and the join becomes a keyed equi-join.
"""

from __future__ import annotations

import math
from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table_parallel as load_table
from nyc_taxi_data_engineering_spark.functions import portable_round, portable_round_sql
from nyc_taxi_data_engineering_spark.operators import pin
from nyc_taxi_data_engineering_spark.operators.kmeans import (
    KMEANS_ITERS,
    KMEANS_K,
    _l2sq,
    lloyd_kmeans,
)
from nyc_taxi_data_engineering_spark.queries.registry import query


def _pr9(expr: str) -> str:
    """portable 9-dp pre-quantizer for raw embedding doubles feeding a
    DECIMAL(18,9) transport — the double->decimal cast of an ARBITRARY
    double is not cross-engine deterministic near grid halves (r10
    sf0.1 exact-sweep find on the centroid means)."""
    return portable_round_sql(expr, 9)

N_QUERIES = 8  # vec_id < 8 are the query vectors
TOP_K = 5
LSH_SIGN_DIMS = 8  # bucket = sign bits of dims 0..7


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right fold of elementwise products (matches
    the oracle's list_sum accumulation order bit-for-bit)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings with precomputed L2 norms. Zero-norm vectors are
    excluded BY CONTRACT (mirrored in _ORACLE_CORPUS): cosine is
    undefined on them — under ANSI mode the division errors outright —
    and a retrieval answer that includes a direction-free vector is
    meaningless. The weird adversarial tier plants one to pin this."""
    v = F.col("embedding").cast("array<double>")
    return (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", v.alias("v"), F.sqrt(dot(v, v)).alias("nrm"))
        .filter(F.col("nrm") > 0)
    )


def sign_bucket(v: Column) -> Column:
    """Axis-aligned hyperplane LSH: bucket id from the sign bits of
    the first ``LSH_SIGN_DIMS`` components."""
    return reduce(
        add,
        [
            F.when(F.element_at(v, i + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
            for i in range(LSH_SIGN_DIMS)
        ],
    ).cast("int")


def nearest_centroid(corpus: DataFrame, cent: DataFrame, out: str = "cluster_id") -> DataFrame:
    """Nearest-centroid assignment as ONE hash aggregate, no window.

    The naive plan — score all n·k (vector, centroid) pairs, then
    ``row_number() OVER (PARTITION BY vec_id)`` — exchanges every
    scored row through a shuffle+sort just to keep rank 1. With k = √n
    (SemDeDup) that is an n^1.5-row sort exchange, the dominant
    shuffle of the repo's steepest-sloped query. This shape instead
    folds the argmax INTO the aggregate: ``max(struct(ccos, -c_id))``
    orders structs field-by-field, so partial (map-side) aggregation
    collapses each vector's k scored rows to one BEFORE the exchange —
    n rows shuffle, nothing sorts, FLOP count unchanged. Tie-break
    matches the window it replaces (and the DuckDB oracle): highest
    rounded cosine, then LOWEST centroid id (hence the negation).
    ``cent`` must be (c_id, cv, cnrm) and small enough to broadcast —
    the coarse-quantizer contract."""
    ccos = dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm"))
    return (
        corpus.crossJoin(F.broadcast(cent))
        .select("vec_id", "c_id", F.round(ccos, 6).alias("ccos"))
        .groupBy("vec_id")
        .agg(F.max(F.struct(F.col("ccos"), (-F.col("c_id")).alias("neg_id"))).alias("best"))
        .select("vec_id", (-F.col("best.neg_id")).alias(out))
    )


_ORACLE_CORPUS = """
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT * FROM (
        SELECT vec_id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM e) WHERE nrm > 0)
"""

_ORACLE_COS = (
    "list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]))"
    " / (q.nrm * c.nrm)"
)

_ORACLE_BUCKET = (
    "("
    + " + ".join(f"(CASE WHEN v[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)" for i in range(LSH_SIGN_DIMS))
    + ")::INT"
)


@query(
    "ann_cosine_topk",
    oracle=f"""
WITH {_ORACLE_CORPUS},
q AS (SELECT vec_id, v, nrm FROM n WHERE vec_id < {N_QUERIES}),
s AS (
    SELECT q.vec_id AS q_id, c.vec_id AS vec_id, {_ORACLE_COS} AS cos
    FROM q, n c
    WHERE c.vec_id <> q.vec_id
),
r AS (
    SELECT q_id, vec_id, cos,
           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
    FROM s
)
SELECT q_id, vec_id, rank::INT AS rank, round(cos, 6) AS cosine
FROM r WHERE rank <= {TOP_K}
""",
    bench=True,
)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for the 8 query vectors: one
    corpus scan, query side broadcast, per-query top-k window."""
    corpus = _corpus(spark, sf_dir)
    q = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    scored = corpus.join(F.broadcast(q), F.col("vec_id") != F.col("q_id")).select(
        "q_id", "vec_id", (dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm"))).alias("cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", F.col("rank").cast("int").alias("rank"), F.round("cos", 6).alias("cosine"))
    )


@query(
    "ann_lsh_topk",
    oracle=f"""
WITH {_ORACLE_CORPUS},
b AS (SELECT vec_id, v, nrm, {_ORACLE_BUCKET} AS bucket FROM n),
q AS (SELECT vec_id, v, nrm, bucket FROM b WHERE vec_id < {N_QUERIES}),
s AS (
    SELECT q.vec_id AS q_id, c.vec_id AS vec_id, c.bucket AS bucket, {_ORACLE_COS} AS cos
    FROM q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
),
r AS (
    SELECT q_id, vec_id, bucket, cos,
           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
    FROM s
)
SELECT q_id, vec_id, bucket, rank::INT AS rank, round(cos, 6) AS cosine
FROM r WHERE rank <= {TOP_K}
""",
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via sign-LSH bucketing: candidates restricted
    to the query's bucket (equi-join), then exact cosine within. The
    ~256x candidate reduction is the 100 TB path; recall is traded for
    the elimination of the all-pairs scan."""
    corpus = _corpus(spark, sf_dir).withColumn("bucket", sign_bucket(F.col("v")))
    q = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.col("bucket").alias("qbucket"),
    )
    scored = corpus.join(
        F.broadcast(q), (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("q_id"))
    ).select(
        "q_id",
        "vec_id",
        "bucket",
        (dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm"))).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "q_id",
            "vec_id",
            "bucket",
            F.col("rank").cast("int").alias("rank"),
            F.round("cos", 6).alias("cosine"),
        )
    )


N_CENTROIDS = 8
IVF_CENTROID_LO, IVF_CENTROID_HI = N_QUERIES, N_QUERIES + N_CENTROIDS - 1
N_PROBE = 2


@query(
    "ann_ivf_topk",
    oracle=f"""
WITH {_ORACLE_CORPUS},
cent AS (
    SELECT vec_id AS c_id, v AS cv, nrm AS cnrm FROM n
    WHERE vec_id BETWEEN {IVF_CENTROID_LO} AND {IVF_CENTROID_HI}
),
assign AS (
    SELECT vec_id, c_id,
           row_number() OVER (
               PARTITION BY vec_id
               ORDER BY round(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * cent.cv[i]))
                            / (c.nrm * cent.cnrm), 6) DESC, c_id
           ) AS crank
    FROM n c, cent
),
lists AS (SELECT vec_id, c_id AS list_id FROM assign WHERE crank = 1),
probes AS (
    SELECT vec_id AS q_id, c_id AS list_id FROM assign
    WHERE vec_id < {N_QUERIES} AND crank <= {N_PROBE}
),
s AS (
    SELECT p.q_id, l.vec_id, {_ORACLE_COS} AS cos
    FROM probes p
    JOIN lists l ON l.list_id = p.list_id AND l.vec_id <> p.q_id
    JOIN n q ON q.vec_id = p.q_id
    JOIN n c ON c.vec_id = l.vec_id
),
r AS (
    SELECT q_id, vec_id, cos,
           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
    FROM s
)
SELECT q_id, vec_id, rank::INT AS rank, round(cos, 6) AS cosine
FROM r WHERE rank <= {TOP_K}
""",
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-5: a deterministic coarse quantizer
    (centroids = corpus vectors {IVF range}) partitions the corpus into
    inverted lists by nearest centroid; each query probes its 2 nearest
    lists and scores candidates exactly. At corpus scale the
    assignment is an offline pass and queries touch ~nprobe/K of the
    data — the classic ANN recall/cost dial, here with every step a
    broadcast or keyed equi-join."""
    corpus = _corpus(spark, sf_dir)
    cent = corpus.filter(F.col("vec_id").between(IVF_CENTROID_LO, IVF_CENTROID_HI)).select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("cv"), F.col("nrm").alias("cnrm")
    )
    # full-corpus list assignment: argmax folded into a hash agg — the
    # n·k scored rows collapse map-side to n, no window/sort exchange
    lists = nearest_centroid(corpus, cent, out="list_id")
    # probe ranking DOES need top-N_PROBE per query, but only for the
    # N_QUERIES query vectors — filter FIRST, window over 8·k rows
    ccos = dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm"))
    cw = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("c_id"))
    probes = (
        corpus.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(cent))
        .select("vec_id", "c_id", F.round(ccos, 6).alias("ccos"))
        .withColumn("crank", F.row_number().over(cw))
        .filter(F.col("crank") <= N_PROBE)
        .select(F.col("vec_id").alias("q_id"), F.col("c_id").alias("list_id"))
    )
    q = corpus.select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    cands = (
        probes.join(lists, "list_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(F.broadcast(q), "q_id")
        .join(corpus, "vec_id")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        cands.select(
            "q_id",
            "vec_id",
            (dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm"))).alias("cos"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", F.col("rank").cast("int").alias("rank"), F.round("cos", 6).alias("cosine"))
    )


N_PLANTED = 32  # vec_id < 32 get a perturbed near-dup twin
PLANT_OFFSET = 100_000
NEARDUP_THRESHOLD = 0.95
# 4 bands x 16 sign bits cover all 64 dims. Band WIDTH is the scale
# lever: candidate volume on organic (non-near-dup) data is
# ~bands * n^2 / 2^width, so 8-bit bands hit n^2/256 — a quadratic
# wall the sf10 probe measured as a >30 GB rescore spill at 200k
# vectors. 16-bit bands push the wall out 256x (n^2/65536) while a
# cos ~0.999 twin still collides in >= 1 band with p ~0.998
# ((1-0.0142)^16 per band, 4 tries). Same fix as the r4 64-bit
# SimHash block-combination change, applied to sign-LSH.
NEARDUP_BANDS = 4
NEARDUP_BAND_DIMS = 16


def band_bucket(v: Column, band: int) -> Column:
    """Sign-LSH bucket for one band: the sign bits of dims
    [band*d, band*d + d), d = NEARDUP_BAND_DIMS."""
    off = band * NEARDUP_BAND_DIMS
    return reduce(
        add,
        [
            F.when(F.element_at(v, off + i + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
            for i in range(NEARDUP_BAND_DIMS)
        ],
    ).cast("int")


def _planted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings plus deterministic near-dup twins of vec_id < 32
    (tiny per-dimension additive perturbation, cos ~ 0.999). The twins
    make near-dup detection a non-trivial, fully deterministic query on
    a corpus whose organic pairs never exceed cos ~ 0.52."""
    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    pert = base.filter(F.col("vec_id") < N_PLANTED).select(
        (F.col("vec_id") + PLANT_OFFSET).alias("vec_id"),
        F.transform(F.col("v"), lambda x, i: x + (i % 7 - 3) * F.lit(0.005)).alias("v"),
    )
    u = base.unionByName(pert)
    # zero-norm exclusion: same contract as _corpus (the zero vector's
    # planted twin is the pure perturbation pattern — nonzero — so only
    # the base vector drops, identically in _ORACLE_PLANTED)
    return u.select(
        "vec_id", "v", F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm")
    ).filter(F.col("nrm") > 0)


_ORACLE_PLANTED = f"""
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (SELECT vec_id + {PLANT_OFFSET} AS vec_id,
             list_transform(range(1, len(v) + 1), i -> v[i] + ((i - 1) % 7 - 3) * 0.005) AS v
      FROM e WHERE vec_id < {N_PLANTED}),
u AS (SELECT * FROM e UNION ALL SELECT * FROM p),
n AS (SELECT * FROM (
        SELECT vec_id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM u) WHERE nrm > 0)
"""

_ORACLE_BANDS = " UNION ALL ".join(
    f"""SELECT vec_id, {j} AS band, ("""
    + " + ".join(
        f"(CASE WHEN v[{j * NEARDUP_BAND_DIMS + i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(NEARDUP_BAND_DIMS)
    )
    + ")::INT AS bucket FROM n"
    for j in range(NEARDUP_BANDS)
)


@query(
    "embedding_neardup_pairs",
    oracle=f"""
WITH {_ORACLE_PLANTED},
bands AS ({_ORACLE_BANDS}),
cand AS (
    SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
s AS (
    SELECT cand.a_id, cand.b_id,
           list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]))
               / (q.nrm * c.nrm) AS cos
    FROM cand JOIN n q ON q.vec_id = cand.a_id JOIN n c ON c.vec_id = cand.b_id
)
SELECT a_id, b_id, round(cos, 6) AS cosine
FROM s WHERE cos >= {NEARDUP_THRESHOLD}
""",
)
def q_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over the planted corpus:
    multi-band sign-LSH candidate generation (4 bands x 16 sign bits,
    keyed equi-join on (band, bucket) — never an all-pairs product)
    followed by exact cosine rescoring at threshold 0.95.

    Scale: candidate volume on organic data is ~bands * n^2 / 2^16
    (see the band-width comment above) while true near-dups (sign
    patterns almost identical) still collide in >= 1 band with
    p ~0.998 — recall ~1 at this threshold. The exact all-pairs
    variant survives only as a tiny-sf test oracle
    (tests/test_dedup_similarity.py)."""
    corpus = _planted_corpus(spark, sf_dir)
    bands = corpus.select(
        "vec_id",
        F.posexplode(
            F.array(*[band_bucket(F.col("v"), j) for j in range(NEARDUP_BANDS)])
        ).alias("band", "bucket"),
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id"))
        .distinct()
    )
    a = corpus.select(F.col("vec_id").alias("a_id"), F.col("v").alias("av"), F.col("nrm").alias("anrm"))
    b = corpus.select(F.col("vec_id").alias("b_id"), F.col("v").alias("bv"), F.col("nrm").alias("bnrm"))
    return (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            (dot(F.col("av"), F.col("bv")) / (F.col("anrm") * F.col("bnrm"))).alias("cos"),
        )
        .filter(F.col("cos") >= NEARDUP_THRESHOLD)
        .select("a_id", "b_id", F.round("cos", 6).alias("cosine"))
    )


@query(
    "embedding_centroids_by_lang",
    oracle=f"""
WITH j AS (
    SELECT d.lang, e.embedding::DOUBLE[] AS v
    FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
),
expl AS (
    SELECT lang, unnest(range(1, len(v) + 1)) AS i, v FROM j
)
SELECT lang, CAST(i AS INT) AS dim,
       CAST(CAST(SUM(CAST({_pr9('v[i]')} AS DECIMAL(18,9))) AS STRING) AS DOUBLE) / COUNT(*) AS centroid,
       CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM expl GROUP BY lang, i
""",
)
def q_embedding_centroids_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language embedding centroids (element-wise mean), the
    vector-aggregation primitive behind domain-mixture monitoring and
    IVF coarse-quantizer training. posexplode + one hash agg on
    (lang, dim) — map-side combine applies, components sum in exact
    DECIMAL for engine parity; never a collect of vectors."""
    from nyc_taxi_data_engineering_spark.catalog import load_table as load_plain

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    docs = load_plain(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    expl = emb.join(docs, "vec_id").select(
        "lang", F.posexplode("v").alias("pos", "x")
    )
    return expl.groupBy("lang", "pos").agg(
        (
            # pre-quantize: arbitrary doubles cast to a decimal grid round
            # differently across engines near grid halves (r10 sf0.1 find)
            F.sum(portable_round(F.col("x"), 9).cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("centroid"),
        F.count(F.lit(1)).alias("n_vectors"),
    ).select(
        "lang", (F.col("pos") + 1).cast("int").alias("dim"), "centroid", "n_vectors"
    )


SEMDEDUP_TAU = 0.95  # within-cluster cosine above which the later doc drops


@query(
    "semantic_dedup_prune",
    oracle=f"""
WITH {_ORACLE_PLANTED},
k AS (
    SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS n_cent FROM embeddings
),
cent AS (
    SELECT vec_id AS c_id, v AS cv, nrm AS cnrm FROM n
    WHERE vec_id BETWEEN {N_QUERIES}
          AND {N_QUERIES} + (SELECT n_cent FROM k) - 1
),
assign AS (
    SELECT vec_id, c_id,
           row_number() OVER (
               PARTITION BY vec_id
               ORDER BY round(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * cent.cv[i]))
                            / (c.nrm * cent.cnrm), 6) DESC, c_id
           ) AS crank
    FROM n c, cent
),
lists AS (SELECT vec_id, c_id AS cluster_id FROM assign WHERE crank = 1),
dropped AS (
    SELECT DISTINCT lb.vec_id
    FROM lists la
    JOIN lists lb ON la.cluster_id = lb.cluster_id AND la.vec_id < lb.vec_id
    JOIN n q ON q.vec_id = la.vec_id
    JOIN n c ON c.vec_id = lb.vec_id
    WHERE round({_ORACLE_COS}, 6) >= {SEMDEDUP_TAU}
)
SELECT l.vec_id, l.cluster_id,
       d.vec_id IS NULL AS keep
FROM lists l LEFT JOIN dropped d ON l.vec_id = d.vec_id
""",
)
def q_semantic_dedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-dup pruning inside
    coarse clusters. Vectors are assigned to their nearest centroid
    (broadcast quantizer, same deterministic coarse codebook as
    ann_ivf_topk); within each cluster, a vector is dropped when some
    LOWER-id cluster-mate has cosine ≥ SEMDEDUP_TAU (0.95) with it. The pairwise
    stage is confined to clusters — the SemDeDup bargain — and the
    codebook is sized k = ⌈√n⌉ from the corpus row count (a one-row
    metadata read: parquet footers answer COUNT(*)), so expected
    cluster size is ~√n and the within-cluster join does ~n·√n work,
    never corpus-quadratic; a fixed k would silently degrade to
    all-pairs as the corpus grows. Assignment is one broadcast pass
    (k centroid vectors ≪ executor memory even at 10^12 rows →
    k = 10^6 × 64 floats = 256 MB; shard the codebook if beyond).
    BOTH cosines — the pairwise one before the τ comparison AND the
    centroid-assignment one feeding the row_number ranking — are
    rounded to 6 decimals on both engines, so a 1-ulp fold difference
    can flip neither a keep/drop at the boundary nor a near-tie
    cluster assignment (which would silently move a vector's whole
    prune neighborhood). Runs over the planted corpus (organic pairs top out at
    cos ~0.52, so the planted twins are what makes the prune
    observable)."""
    from nyc_taxi_data_engineering_spark.catalog import parquet_row_count, table_path

    # √n codebook sizing from the parquet FOOTERS — a driver-side
    # metadata read, not an extra Spark scan of the corpus (the
    # previous .count() put a second full table scan in the plan)
    base_n = parquet_row_count(table_path(sf_dir, "embeddings"))
    k = int(math.ceil(math.sqrt(base_n)))
    # the planted corpus feeds four consumers (centroids, assignment,
    # both sides of the pairwise join) — cache it once instead of
    # re-deriving norms from the parquet scan per branch; at cluster
    # scale swap for persist(DISK_ONLY), same as the shingle-set cache
    corpus = _planted_corpus(spark, sf_dir).persist()
    cent = corpus.filter(
        F.col("vec_id").between(N_QUERIES, N_QUERIES + k - 1)
    ).select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"), F.col("nrm").alias("cnrm"))
    lists = nearest_centroid(corpus, cent, out="cluster_id")
    a = lists.select(F.col("vec_id").alias("a_id"), "cluster_id")
    b = lists.select(F.col("vec_id").alias("b_id"), "cluster_id")
    va = corpus.select(F.col("vec_id").alias("a_id"), F.col("v").alias("av"), F.col("nrm").alias("anrm"))
    vb = corpus.select(F.col("vec_id").alias("b_id"), F.col("v").alias("bv"), F.col("nrm").alias("bnrm"))
    pair_cos = dot(F.col("av"), F.col("bv")) / (F.col("anrm") * F.col("bnrm"))
    dropped = (
        a.join(b, "cluster_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .join(va, "a_id")
        .join(vb, "b_id")
        .filter(F.round(pair_cos, 6) >= SEMDEDUP_TAU)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return lists.join(
        dropped.withColumn("_drop", F.lit(True)), "vec_id", "left"
    ).select(
        "vec_id", "cluster_id", F.coalesce(F.col("_drop"), F.lit(False)).alias("_d")
    ).select("vec_id", "cluster_id", (~F.col("_d")).alias("keep"))


# --- Product quantization (Jégou et al., "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011): compress each 64-dim vector
# to PQ_M 4-bit codes (one per 8-dim subspace, 16 centroids each) and
# answer queries with asymmetric distance computation (ADC) — the raw
# query against per-subspace distance TABLES, summed over codes.
PQ_M = 8  # subspaces
PQ_DSUB = 8  # dims per subspace
PQ_K = 16  # centroids per subspace (4-bit codes)
# Deterministic codebook: the subvectors of corpus vectors
# [N_QUERIES, N_QUERIES + PQ_K) — a sampled codebook, the zeroth
# iteration of the k-means PQ training runs offline at scale.
PQ_CENT_LO, PQ_CENT_HI = N_QUERIES, N_QUERIES + PQ_K - 1


def _subspaces(df: DataFrame, vcol: str, id_out: str, v_out: str) -> DataFrame:
    """(id, m, subvector) — posexplode of the PQ_M 8-dim slices."""
    slices = F.array(*[F.slice(F.col(vcol), m * PQ_DSUB + 1, PQ_DSUB) for m in range(PQ_M)])
    return df.select(
        F.col("vec_id").alias(id_out), F.posexplode(slices).alias("m", v_out)
    )


_SQL_SUBSPACES = " UNION ALL ".join(
    f"SELECT vec_id, {m} AS m, v[{m * PQ_DSUB + 1}:{(m + 1) * PQ_DSUB}] AS sv FROM n"
    for m in range(PQ_M)
)
_SQL_L2SQ = "list_sum(list_transform(range(1, {d} + 1), i -> (a.sv[i] - c.cv[i]) * (a.sv[i] - c.cv[i])))".format(
    d=PQ_DSUB
)


@query(
    "pq_ann_topk",
    oracle=f"""
WITH {_ORACLE_CORPUS},
sub AS ({_SQL_SUBSPACES}),
cent AS (
    SELECT vec_id - {PQ_CENT_LO} AS c_id, m, sv AS cv FROM sub
    WHERE vec_id BETWEEN {PQ_CENT_LO} AND {PQ_CENT_HI}
),
scored AS (
    SELECT a.vec_id, a.m, c.c_id, round({_SQL_L2SQ}, 6) AS d
    FROM sub a, cent c
    WHERE a.m = c.m AND a.vec_id >= {N_QUERIES}
),
codes AS (
    SELECT vec_id, m, c_id AS code FROM (
        SELECT vec_id, m, c_id,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d, c_id) AS rnk
        FROM scored
    ) WHERE rnk = 1
),
dtab AS (
    SELECT a.vec_id AS q_id, a.m, c.c_id, CAST(round({_SQL_L2SQ}, 6) AS DECIMAL(18,6)) AS d
    FROM sub a, cent c
    WHERE a.m = c.m AND a.vec_id < {N_QUERIES}
),
adc AS (
    SELECT t.q_id, k.vec_id, CAST(SUM(t.d) AS DOUBLE) AS approx_dist
    FROM codes k JOIN dtab t ON t.m = k.m AND t.c_id = k.code
    GROUP BY t.q_id, k.vec_id
),
r AS (
    SELECT q_id, vec_id, approx_dist,
           row_number() OVER (PARTITION BY q_id ORDER BY approx_dist, vec_id) AS rank
    FROM adc
)
SELECT q_id, vec_id, rank::INT AS rank, approx_dist
FROM r WHERE rank <= {TOP_K}
""",
)
def q_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate top-5: corpus vectors compressed to 8
    4-bit codes (nearest sub-centroid per 8-dim subspace, the argmin
    folded into a min(struct) hash agg — no window over the n·K scored
    rows); queries stay raw and score against 8×16-entry distance
    tables (broadcast, 1024 rows for 8 queries) summed as
    DECIMAL(18,6) so the cross-engine aggregate is exact.

    The scale story is memory, not candidates: 64 float dims (256 B)
    become 8 nibbles (4 B) — a 100 TB embedding corpus fits hot as a
    ~1.6 TB code table that never re-touches the raw vectors at query
    time; encode is an offline narrow pass, ADC is one broadcast join
    + per-(query, vector) hash agg."""
    corpus = _corpus(spark, sf_dir)
    sub = _subspaces(corpus, "v", "vec_id", "sv")
    cent = (
        sub.filter(F.col("vec_id").between(PQ_CENT_LO, PQ_CENT_HI))
        .select((F.col("vec_id") - PQ_CENT_LO).alias("c_id"), "m", F.col("sv").alias("cv"))
    )
    scored = (
        sub.filter(F.col("vec_id") >= N_QUERIES)
        .join(F.broadcast(cent), "m")
        .select(
            "vec_id", "m", "c_id",
            F.round(_l2sq(F.col("sv"), F.col("cv")), 6).alias("d"),
        )
    )
    codes = (
        scored.groupBy("vec_id", "m")
        .agg(F.min(F.struct(F.col("d"), F.col("c_id"))).alias("best"))
        .select("vec_id", "m", F.col("best.c_id").alias("code"))
    )
    dtab = (
        sub.filter(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(cent), "m")
        .select(
            F.col("vec_id").alias("q_id"), "m", "c_id",
            F.round(_l2sq(F.col("sv"), F.col("cv")), 6).cast("decimal(18,6)").alias("d"),
        )
    )
    dt = dtab.withColumnRenamed("c_id", "code")
    adc = (
        codes.join(F.broadcast(dt), ["m", "code"])
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d").cast("double").alias("approx_dist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("approx_dist"), F.asc("vec_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "rank", "approx_dist")
    )


@query(
    "ivfpq_ann_topk",
    oracle=f"""
WITH {_ORACLE_CORPUS},
cent AS (
    SELECT vec_id AS c_id, v AS cv, nrm AS cnrm FROM n
    WHERE vec_id BETWEEN {IVF_CENTROID_LO} AND {IVF_CENTROID_HI}
),
assign AS (
    SELECT vec_id, c_id,
           row_number() OVER (
               PARTITION BY vec_id
               ORDER BY round(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * cent.cv[i]))
                            / (c.nrm * cent.cnrm), 6) DESC, c_id
           ) AS crank
    FROM n c, cent
),
lists AS (SELECT vec_id, c_id AS list_id FROM assign WHERE crank = 1),
probes AS (
    SELECT vec_id AS q_id, c_id AS list_id FROM assign
    WHERE vec_id < {N_QUERIES} AND crank <= {N_PROBE}
),
sub AS ({_SQL_SUBSPACES}),
pqcent AS (
    SELECT vec_id - {PQ_CENT_LO} AS c_id, m, sv AS cv FROM sub
    WHERE vec_id BETWEEN {PQ_CENT_LO} AND {PQ_CENT_HI}
),
scored AS (
    SELECT a.vec_id, a.m, c.c_id, round({_SQL_L2SQ}, 6) AS d
    FROM sub a, pqcent c
    WHERE a.m = c.m AND a.vec_id >= {N_QUERIES}
),
codes AS (
    SELECT vec_id, m, c_id AS code FROM (
        SELECT vec_id, m, c_id,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d, c_id) AS rnk
        FROM scored
    ) WHERE rnk = 1
),
dtab AS (
    SELECT a.vec_id AS q_id, a.m, c.c_id, CAST(round({_SQL_L2SQ}, 6) AS DECIMAL(18,6)) AS d
    FROM sub a, pqcent c
    WHERE a.m = c.m AND a.vec_id < {N_QUERIES}
),
adc AS (
    SELECT t.q_id, k.vec_id, CAST(SUM(t.d) AS DOUBLE) AS approx_dist
    FROM probes p
    JOIN lists l ON l.list_id = p.list_id AND l.vec_id <> p.q_id
    JOIN codes k ON k.vec_id = l.vec_id
    JOIN dtab t ON t.q_id = p.q_id AND t.m = k.m AND t.c_id = k.code
    GROUP BY t.q_id, k.vec_id
),
r AS (
    SELECT q_id, vec_id, approx_dist,
           row_number() OVER (PARTITION BY q_id ORDER BY approx_dist, vec_id) AS rank
    FROM adc
)
SELECT q_id, vec_id, rank::INT AS rank, approx_dist
FROM r WHERE rank <= {TOP_K}
""",
)
def q_ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the composed billion-vector index shape (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011;
    FAISS ``IVFPQ`` with by_residual=false): the IVF coarse quantizer
    PRUNES (each query probes its {N_PROBE} nearest of {N_CENTROIDS}
    inverted lists — candidates shrink ~nprobe/K) and PQ-ADC SCORES
    the survivors (4-bit codes against broadcast per-query distance
    tables — the raw vectors are never touched at query time).

    Both halves are individually gate-green (ann_ivf_topk,
    pq_ann_topk); this query verifies the COMPOSITION: list routing,
    candidate restriction, and code-table join all inside one plan.
    At 100 TB: assignment + encoding are offline passes; a query costs
    one broadcast probe ranking + a keyed join against ~nprobe/K of a
    4-byte-per-vector code table — memory 64x below raw floats, reads
    proportional to probed lists only. Every join is broadcast (probes,
    distance tables) or keyed (lists ⋈ codes); the only windows run
    over the {N_QUERIES}-query side."""
    corpus = _corpus(spark, sf_dir)
    ivf_cent = corpus.filter(
        F.col("vec_id").between(IVF_CENTROID_LO, IVF_CENTROID_HI)
    ).select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"), F.col("nrm").alias("cnrm"))
    lists = nearest_centroid(corpus, ivf_cent, out="list_id")
    ccos = dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm"))
    cw = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("c_id"))
    probes = (
        corpus.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(ivf_cent))
        .select("vec_id", "c_id", F.round(ccos, 6).alias("ccos"))
        .withColumn("crank", F.row_number().over(cw))
        .filter(F.col("crank") <= N_PROBE)
        .select(F.col("vec_id").alias("q_id"), F.col("c_id").alias("list_id"))
    )
    sub = _subspaces(corpus, "v", "vec_id", "sv")
    pq_cent = (
        sub.filter(F.col("vec_id").between(PQ_CENT_LO, PQ_CENT_HI))
        .select((F.col("vec_id") - PQ_CENT_LO).alias("c_id"), "m", F.col("sv").alias("cv"))
    )
    codes = (
        sub.filter(F.col("vec_id") >= N_QUERIES)
        .join(F.broadcast(pq_cent), "m")
        .select("vec_id", "m", "c_id", F.round(_l2sq(F.col("sv"), F.col("cv")), 6).alias("d"))
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct(F.col("d"), F.col("c_id"))).alias("best"))
        .select("vec_id", "m", F.col("best.c_id").alias("code"))
    )
    dtab = (
        sub.filter(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(pq_cent), "m")
        .select(
            F.col("vec_id").alias("q_id"), "m", F.col("c_id").alias("code"),
            F.round(_l2sq(F.col("sv"), F.col("cv")), 6).cast("decimal(18,6)").alias("d"),
        )
    )
    adc = (
        F.broadcast(probes)  # nprobe rows per query — always tiny
        .join(lists, "list_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(codes, "vec_id")  # the one corpus-keyed join
        .join(F.broadcast(dtab), ["q_id", "m", "code"])
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d").cast("double").alias("approx_dist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("approx_dist"), F.asc("vec_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", F.col("rank").cast("int").alias("rank"), "approx_dist")
    )


# ---------------------------------------------------------------- k-means

_KM_L2 = (
    "round(list_sum(list_transform(range(1, len(e.v) + 1),"
    " i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))), 6)"
)


def _km_assign_cte(cent_cte: str, out: str) -> str:
    return f"""{out} AS (
    SELECT vec_id, c_id FROM (
        SELECT e.vec_id, c.c_id,
               row_number() OVER (
                   PARTITION BY e.vec_id ORDER BY {_KM_L2}, c.c_id) AS rn
        FROM e CROSS JOIN {cent_cte} c
    ) t WHERE rn = 1
)"""


def _km_means_cte(assign_cte: str, out: str) -> str:
    return f"""{out} AS (
    SELECT c_id, i AS pos,
           CAST(CAST(SUM(CAST({_pr9('v[i]')} AS DECIMAL(18,9))) AS STRING) AS DOUBLE) / COUNT(*) AS val
    FROM (SELECT a.c_id, e.v, unnest(range(1, len(e.v) + 1)) AS i
          FROM e JOIN {assign_cte} a USING (vec_id))
    GROUP BY c_id, i
)"""


def _km_lloyd_ctes() -> str:
    """Twin of operators/kmeans.lloyd_kmeans over ``e`` (vec_id, v):
    the ``KMEANS_K`` seeds, ``KMEANS_ITERS`` Lloyd rounds (means ``m{t}``,
    centroids ``c{t}``) and the closing assignment ``a{KMEANS_ITERS+1}``."""
    parts = [
        f"""seeds AS (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS c_id, v AS cv
    FROM e ORDER BY vec_id LIMIT {KMEANS_K}
)"""
    ]
    prev = "seeds"
    for t in range(1, KMEANS_ITERS + 1):
        parts += [
            _km_assign_cte(prev, f"a{t}"),
            _km_means_cte(f"a{t}", f"m{t}"),
            f"c{t} AS (SELECT c_id, list(val ORDER BY pos) AS cv FROM m{t} GROUP BY c_id)",
        ]
        prev = f"c{t}"
    parts.append(_km_assign_cte(prev, f"a{KMEANS_ITERS + 1}"))
    return ",\n".join(parts)


_KM_M, _KM_C, _KM_A = f"m{KMEANS_ITERS}", f"c{KMEANS_ITERS}", f"a{KMEANS_ITERS + 1}"

_KMEANS_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_km_lloyd_ctes()},
counts AS (SELECT c_id, COUNT(*) AS n_members FROM {_KM_A} GROUP BY c_id)
SELECT {_KM_M}.c_id AS cluster_id, CAST({_KM_M}.pos AS INT) AS dim,
       {_KM_M}.val AS centroid, counts.n_members
FROM {_KM_M} JOIN counts USING (c_id)
"""


@query("kmeans_embeddings", oracle=_KMEANS_ORACLE)
def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 2-round Lloyd k-means (operators/kmeans) over the
    full embedding corpus, k=8 seeded from the smallest ids: the
    coarse-quantizer trainer for IVF/SemDeDup codebooks, every round a
    broadcast crossJoin + argmin HASH AGG (n rows shuffle, no window
    sort) + a DECIMAL-exact posexplode mean, plus a closing assignment
    so n_members counts memberships under the FINAL centroids. The
    oracle replays both Lloyd rounds AND the closing assignment as
    nested SQL CTEs, so assignment ties, float fold order, and the
    exact centroid doubles are all under the hash gate.
    Output: (cluster_id, dim, centroid, n_members) — k·64 rows."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).persist()
    assign, cent_long = lloyd_kmeans(emb)
    counts = assign.groupBy("c_id").agg(F.count(F.lit(1)).alias("n_members"))
    return cent_long.join(counts, "c_id").select(
        F.col("c_id").alias("cluster_id"),
        (F.col("pos") + 1).cast("int").alias("dim"),
        F.col("val").alias("centroid"),
        "n_members",
    )


@query(
    "embedding_dedup_clusters",
    oracle=f"""
WITH RECURSIVE {_ORACLE_PLANTED},
bands AS ({_ORACLE_BANDS}),
cand AS (
    SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
sc AS (
    SELECT cand.a_id, cand.b_id,
           list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]))
               / (q.nrm * c.nrm) AS cos
    FROM cand JOIN n q ON q.vec_id = cand.a_id JOIN n c ON c.vec_id = cand.b_id
),
edges AS (SELECT a_id, b_id FROM sc WHERE cos >= {NEARDUP_THRESHOLD}),
sym AS (
    SELECT a_id AS src, b_id AS dst FROM edges
    UNION SELECT b_id, a_id FROM edges
),
reach AS (
    SELECT vec_id AS src, vec_id AS dst FROM n
    UNION
    SELECT r.src, y.dst FROM reach r JOIN sym y ON r.dst = y.src
),
comp AS (SELECT src AS vec_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
csize AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id)
SELECT c.vec_id, c.cluster_id, z.cluster_size, c.vec_id = c.cluster_id AS is_canonical
FROM comp c JOIN csize z USING (cluster_id)
""",
)
def q_embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING near-dup CLUSTERS — the semantic twin of the text and
    image cluster queries: sign-LSH candidates → exact cosine rescore
    at {NEARDUP_THRESHOLD} → pointer-doubled connected components →
    cluster_id = min vec_id, canonical flag, cluster size, singletons
    included. With text (Jaccard graph), images (dHash graph), and now
    embeddings (cosine graph) all feeding the SAME iterative CC
    operator, cluster-then-keep-canonical is a uniform dedup surface
    across every representation the engine stores. Recursive-CTE
    oracle replays the clustering exactly."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.operators.dedup import connected_components

    corpus = _planted_corpus(spark, sf_dir)
    edges = q_embedding_neardup_pairs(spark, sf_dir).select("a_id", "b_id")
    comp = connected_components(edges, nodes=corpus, node_col="vec_id")
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "component").select(
        F.col("id").alias("vec_id"),
        F.col("component").alias("cluster_id"),
        "cluster_size",
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# PCA: dominant principal component by power iteration
# ---------------------------------------------------------------------------

_PCA_CORPUS_CTE = """x AS (
  SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
  FROM (SELECT vec_id, embedding,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings)
)"""


from nyc_taxi_data_engineering_spark.operators.pca import (
    power_iteration_component,
    power_iteration_sql,
)


@query("embedding_top_eigvec", oracle=power_iteration_sql(_PCA_CORPUS_CTE))
def q_embedding_top_eigvec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the embedding corpus by
    3-round power iteration (operators/pca) — the decorrelation /
    whitening primitive curation pipelines apply before cosine
    clustering, and a one-vector drift monitor (the top direction
    shifting between two corpus snapshots is the cheapest PCA-drift
    signal). Covariance-free: two keyed hash aggs per round over the
    long-form corpus, a 64-row vector broadcast back each time —
    never a d x d or n x n intermediate, no collect. Every sum is
    round-to-12dp + DECIMAL(38,12), so the DuckDB twin replays the
    iterations bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    x = emb.select("vec_id", F.posexplode("v").alias("pos", "val"))
    return power_iteration_component(x)


from nyc_taxi_data_engineering_spark.operators.linear_probe import (
    prepare_probe_corpus,
    train_linear_probe,
    train_linear_probe_sql,
)

_PROBE_TARGET_CTE = """y AS (
  SELECT vec_id, CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END AS y
  FROM embeddings
)"""


@query(
    "linear_probe_weights",
    oracle=train_linear_probe_sql(_PCA_CORPUS_CTE, _PROBE_TARGET_CTE),
)
def q_linear_probe_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier training, distributed: a one-vs-rest linear
    probe (class 0 vs rest) trained by 3 full-batch GD rounds over the
    embedding corpus (operators/linear_probe) — the DataComp/DCLM-style
    cheap-classifier curation step, here with the TRAINING itself under
    the correctness gate, not just the scoring. Squared loss keeps it
    algebraic (no sigmoid -> no cross-engine libm), every sum is
    12-dp DECIMAL, and the model flows between rounds as a broadcast
    65-row DataFrame — the corpus is touched by exactly two keyed
    hash-agg shuffles per round, nothing collected."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val")
    )
    y = emb.select(
        "vec_id",
        F.when(F.col("label") == 0, F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
    )
    return train_linear_probe(x, y)


@query(
    "linear_probe_class_scores",
    oracle=f"""
WITH model AS ({train_linear_probe_sql(_PCA_CORPUS_CTE, _PROBE_TARGET_CTE)}),
xx AS (
  SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
  FROM (SELECT vec_id, embedding,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings)
),
scores AS (
  SELECT xx.vec_id,
         round(CAST(CAST(SUM(CAST(round(xx.val * m.weight, 12) AS DECIMAL(38,12))) AS STRING) AS DOUBLE)
               + (SELECT weight FROM model WHERE dim = 0), 12) AS score
  FROM xx JOIN model m ON m.dim = xx.pos + 1
  GROUP BY xx.vec_id
)
SELECT e.label,
       COUNT(*) AS n_vectors,
       round(CAST(CAST(SUM(CAST(s.score AS DECIMAL(38,12))) AS STRING) AS DOUBLE) / COUNT(*), 9) AS mean_score
FROM scores s JOIN embeddings e ON e.vec_id = s.vec_id
GROUP BY e.label
""",
)
def q_linear_probe_class_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scoring half of the curation classifier: apply the trained
    probe (linear_probe_weights) back to the corpus and report mean
    score per true class — the separation readout (class 0 should
    float above the rest) a pipeline inspects before picking a keep
    threshold. The 65-row model broadcasts onto the long-form corpus:
    one keyed hash agg per vector, one tiny per-class agg; scoring
    100 TB is one shuffle-light pass. Scores land on the 12-dp grid so
    the per-class DECIMAL means replay exactly in the oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val")
    )
    y = emb.select(
        "vec_id",
        F.when(F.col("label") == 0, F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
    )
    # One prepared corpus layout serves training (2 reads/round) AND the
    # scoring pass (optimization r13 — see prepare_probe_corpus).
    x = prepare_probe_corpus(x)
    # bias_row and wpos both read the model: pin it once
    model = pin(train_linear_probe(x, y))
    bias_row = model.filter(F.col("dim") == 0).select(F.col("weight").alias("bias"))
    wpos = model.filter(F.col("dim") > 0).select(
        (F.col("dim") - 1).alias("pos"), F.col("weight").alias("w")
    )
    scores = (
        x.join(F.broadcast(wpos), "pos")
        .groupBy("vec_id")
        .agg(
            F.sum(F.round(F.col("val") * F.col("w"), 12).cast("decimal(38,12)"))
            .cast("double")
            .alias("xw")
        )
        .crossJoin(F.broadcast(bias_row))
        .select("vec_id", F.round(F.col("xw") + F.col("bias"), 12).alias("score"))
    )
    return (
        scores.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(
                F.sum(F.col("score").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_score"),
        )
    )


from nyc_taxi_data_engineering_spark.operators.pca import (
    top2_components,
    top2_components_sql,
)


@query("embedding_top2_pca", oracle=top2_components_sql(_PCA_CORPUS_CTE))
def q_embedding_top2_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal directions by power iteration + Hotelling
    deflation: pc1 as in embedding_top_eigvec, then the corpus is
    projected onto pc1's orthogonal complement (one keyed per-vector
    dot + one broadcast subtract, values back on the 12-dp grid) and
    iterated again for pc2 — the 2-D PCA drift monitor / whitening
    front-end, still covariance-free and collect-free. Orthogonality
    of the pair is pinned in tests; both deflation and both iteration
    chains replay bit-for-bit in the oracle."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    x = emb.select("vec_id", F.posexplode("v").alias("pos", "val"))
    return top2_components(x)


@query(
    "probe_calibration_brier",
    oracle=f"""
WITH model AS ({train_linear_probe_sql(_PCA_CORPUS_CTE, _PROBE_TARGET_CTE)}),
xx AS (
  SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
  FROM (SELECT vec_id, embedding,
               unnest(range(1, len(embedding) + 1)) AS i
        FROM embeddings)
),
scores AS (
  SELECT xx.vec_id,
         round(CAST(CAST(SUM(CAST(round(xx.val * m.weight, 12) AS DECIMAL(38,12))) AS STRING) AS DOUBLE)
               + (SELECT weight FROM model WHERE dim = 0), 12) AS score
  FROM xx JOIN model m ON m.dim = xx.pos + 1
  GROUP BY xx.vec_id
),
ext AS (SELECT MIN(score) AS lo, MAX(score) AS hi FROM scores),
labeled AS (
  SELECT s.score,
         CASE WHEN e.label = 0 THEN 1.0 ELSE 0.0 END AS y,
         CASE WHEN (SELECT hi FROM ext) > (SELECT lo FROM ext)
              THEN LEAST(9, GREATEST(0, CAST(FLOOR(
                     (s.score - (SELECT lo FROM ext))
                     / ((SELECT hi FROM ext) - (SELECT lo FROM ext)) * 10.0) AS INT)))
              ELSE 0 END AS bin
  FROM scores s JOIN embeddings e ON e.vec_id = s.vec_id
)
SELECT bin,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       round(CAST(CAST(SUM(CAST(score AS DECIMAL(38,12))) AS STRING) AS DOUBLE) / COUNT(*), 9)
         AS mean_score,
       CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS pos_rate,
       round(CAST(CAST(SUM(CAST(round((score - y) * (score - y), 12) AS DECIMAL(38,12)))
                  AS STRING) AS DOUBLE) / COUNT(*), 9) AS bin_brier
FROM labeled
GROUP BY bin
""",
)
def q_probe_calibration_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + Brier decomposition for the curation
    classifier: bin the probe's scores into ten
    min-max-normalized DECILE buckets (a raw [0,1) grid would collapse —
    an uncalibrated linear probe's scores cluster tightly, so the
    standard readout bins by relative score; the 1-row min/max enters
    as a broadcast) and report, per bin, the mean
    predicted score vs the empirical positive rate — the calibration
    readout that tells a pipeline whether 'score 0.8' MEANS 80% — plus
    the per-bin Brier contribution mean((score-y)^2). Everything is
    libm-free (no log-loss exp/log): bin indexes are floor-of-double
    on bit-identical 12-dp scores, rates divide exact integers, and
    score sums / squared-error sums ride the DECIMAL transport — so
    the whole diagram replays bit-for-bit in the oracle. Scoring
    100 TB is the same broadcast-model pass as
    linear_probe_class_scores; the diagram aggregates to ten rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val")
    )
    y = emb.select(
        "vec_id",
        F.when(F.col("label") == 0, F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
    )
    # One prepared corpus layout serves training AND scoring (r13).
    x = prepare_probe_corpus(x)
    # bias_row and wpos both read the model: pin it once
    model = pin(train_linear_probe(x, y))
    bias_row = model.filter(F.col("dim") == 0).select(F.col("weight").alias("bias"))
    wpos = model.filter(F.col("dim") > 0).select(
        (F.col("dim") - 1).alias("pos"), F.col("weight").alias("w")
    )
    scores = (
        x.join(F.broadcast(wpos), "pos")
        .groupBy("vec_id")
        .agg(
            F.sum(F.round(F.col("val") * F.col("w"), 12).cast("decimal(38,12)"))
            .cast("double")
            .alias("xw")
        )
        .crossJoin(F.broadcast(bias_row))
        .select("vec_id", F.round(F.col("xw") + F.col("bias"), 12).alias("score"))
    )
    ext = scores.agg(F.min("score").alias("lo"), F.max("score").alias("hi"))
    norm_bin = F.when(
        F.col("hi") > F.col("lo"),
        F.least(
            F.lit(9),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("score") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                    * 10.0
                ).cast("int"),
            ),
        ),
    ).otherwise(F.lit(0))
    labeled = (
        scores.join(y, "vec_id")
        .crossJoin(F.broadcast(ext))
        .select("score", "y", norm_bin.alias("bin"))
    )
    err2 = F.round((F.col("score") - F.col("y")) * (F.col("score") - F.col("y")), 12)
    n = F.count(F.lit(1))
    npos = F.sum(F.when(F.col("y") == 1.0, 1).otherwise(0))
    return labeled.groupBy("bin").agg(
        n.alias("n"),
        npos.cast("long").alias("n_pos"),
        F.round(
            F.sum(F.col("score").cast("decimal(38,12)")).cast("double") / n, 9
        ).alias("mean_score"),
        (npos.cast("double") / n).alias("pos_rate"),
        F.round(
            F.sum(err2.cast("decimal(38,12)")).cast("double") / n, 9
        ).alias("bin_brier"),
    )


def _brier_oracle() -> str:
    # the registered diagram oracle, captured AFTER its decorator ran —
    # ECE composes on the identical text so the two can never drift
    from nyc_taxi_data_engineering_spark.queries.registry import _REGISTRY

    return _REGISTRY["probe_calibration_brier"].oracle


@query(
    "probe_calibration_ece",
    oracle=f"""
WITH diagram AS MATERIALIZED ({_brier_oracle()}),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM diagram)
SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
       (SELECT total FROM tot) AS n_scored,
       CAST(CAST(SUM(CAST(round(CAST(n AS DOUBLE) / CAST((SELECT total FROM tot) AS DOUBLE)
                           * abs(pos_rate - mean_score), 12) AS DECIMAL(38,12)))
            AS STRING) AS DOUBLE) AS ece,
       MAX(abs(pos_rate - mean_score)) AS max_gap
FROM diagram
""",
)
def q_probe_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Calibration Error over the probe's reliability diagram
    (probe_calibration_brier): ECE = sum_b (n_b/N) * |pos_rate_b -
    mean_score_b| — the single-number calibration readout beside the
    per-bin diagram — plus the worst-bin gap (MCE). Composes directly
    on the diagram query's DataFrame and on its ORACLE TEXT, so the
    binning being scored is definitionally the one the diagram shows.
    Per-bin terms are pinned double chains on already-bit-identical
    inputs, rounded to 12 dp and summed as DECIMAL — the 10-row sum is
    order-independent, so the one float hazard (sum order across bins)
    is gone. Aggregating ten rows costs nothing at any scale. The
    oracle's diagram CTE is MATERIALIZED: it is referenced twice (total
    + the main scan), and DuckDB otherwise inlines the whole probe
    training per reference — fine at sf0.01, a 100 GiB OOM at sf1."""
    diagram = q_probe_calibration_brier(spark, sf_dir)
    tot = diagram.agg(F.sum("n").cast("bigint").alias("total"))
    gap = F.abs(F.col("pos_rate") - F.col("mean_score"))
    term = F.round(
        F.col("n").cast("double") / F.col("total").cast("double") * gap, 12
    ).cast("decimal(38,12)")
    return (
        diagram.crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            F.max("total").cast("bigint").alias("n_scored"),
            F.sum(term).cast("double").alias("ece"),
            F.max(gap).alias("max_gap"),
        )
    )


_SIL_DIST = (
    "sqrt(round(list_sum(list_transform(range(1, len(e.v) + 1),"
    " i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))), 6))"
)

_SILHOUETTE_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_km_lloyd_ctes()},
dist AS (
    SELECT e.vec_id, c.c_id, {_SIL_DIST} AS d
    FROM e CROSS JOIN {_KM_C} c
),
ab AS (
    SELECT d.vec_id, a.c_id,
           MIN(CASE WHEN d.c_id = a.c_id THEN d.d END) AS a_dist,
           MIN(CASE WHEN d.c_id <> a.c_id THEN d.d END) AS b_dist
    FROM dist d JOIN {_KM_A} a ON a.vec_id = d.vec_id
    GROUP BY d.vec_id, a.c_id
),
s AS (
    SELECT c_id,
           CASE WHEN GREATEST(a_dist, b_dist) > 0.0
                THEN round((b_dist - a_dist) / GREATEST(a_dist, b_dist), 6)
                ELSE 0.0 END AS sil
    FROM ab
)
SELECT c_id AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(CAST(SUM(CAST(sil AS DECIMAL(38,6))) AS STRING) AS DOUBLE) / COUNT(*) AS mean_silhouette
FROM s GROUP BY c_id ORDER BY c_id
"""


@query("kmeans_silhouette_embeddings", oracle=_SILHOUETTE_ORACLE)
def q_kmeans_silhouette_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based (simplified) silhouette per k-means cluster —
    the clustering-quality readout beside the centroid table, same
    role modularity/conductance play for communities: per vector
    a = distance to its own centroid, b = nearest OTHER centroid,
    s = (b-a)/max(a,b), averaged per cluster. The centroid variant is
    the one that scales: it needs k distances per vector (one
    broadcast crossJoin), not the O(n²) pairwise matrix of full
    silhouette. sqrt is IEEE-correctly-rounded in both engines (unlike
    ln), so every distance and ratio is bit-identical; each s rounds
    to 6 dp and cluster means ride the DECIMAL transport. Replays the
    SAME two Lloyd rounds + closing assignment as kmeans_embeddings.
    (A singleton cluster scores ~1 here, not full-silhouette's 0 —
    its vector IS its centroid; documented variant semantics.)"""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).persist()
    assign, cent_long = lloyd_kmeans(emb)
    cent = (
        cent_long.groupBy("c_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "val"))).alias("sv"))
        .select(F.col("c_id").alias("cc_id"), F.transform("sv", lambda s: s.val).alias("cv"))
    )
    l2 = F.aggregate(
        F.zip_with(F.col("v"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dist = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", F.col("cc_id"), F.sqrt(F.round(l2, 6)).alias("d")
    )
    ab = (
        dist.join(assign, "vec_id")
        .groupBy("vec_id", "c_id")
        .agg(
            F.min(F.when(F.col("cc_id") == F.col("c_id"), F.col("d"))).alias("a_dist"),
            F.min(F.when(F.col("cc_id") != F.col("c_id"), F.col("d"))).alias("b_dist"),
        )
    )
    mx = F.greatest(F.col("a_dist"), F.col("b_dist"))
    sil = F.when(
        mx > F.lit(0.0),
        F.round((F.col("b_dist") - F.col("a_dist")) / mx, 6),
    ).otherwise(F.lit(0.0))
    return (
        ab.select("c_id", sil.alias("sil"))
        .groupBy(F.col("c_id").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            (
                F.sum(F.col("sil").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_silhouette"),
        )
        .orderBy("cluster_id")
    )
