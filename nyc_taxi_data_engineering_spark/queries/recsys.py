"""Recommender-system queries: rank-2 ALS matrix factorization over
the customer x supplier purchase matrix (operators/als.py), trained AND
served under the exact oracle gate — factorization, candidate scoring,
already-purchased exclusion, and per-user top-k all replay
bit-identically in DuckDB.

Scale shape: training is two keyed join+agg sweeps per alternation
(see operators/als.py); serving broadcasts the ITEM factor table
(suppliers — the small side by construction in retail-shaped data;
at 100 TB with a huge item side, prune to the top items by rating
mass first, the standard candidate-generation step) against the
selected users, anti-joins the already-purchased pairs, and takes the
per-user top-k with a user-partitioned window — never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table
from nyc_taxi_data_engineering_spark.operators.als import (
    als_factors,
    als_sql,
    prepare_ratings,
)
from nyc_taxi_data_engineering_spark.queries.registry import query

RECS_TOPK = 3
USER_MOD = 97  # serve users with custkey % 97 == 0 (a pinned cohort)

_RATINGS_CTE = """ratings AS (
  SELECT o_custkey AS u, l_suppkey AS i,
         COUNT(DISTINCT o_orderkey) AS r
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  GROUP BY 1, 2
)"""

_ALS_WITH, (_UF, _IF) = als_sql(_RATINGS_CTE)


@query(
    "als_supplier_recommendations",
    oracle=f"""
WITH {_ALS_WITH},
sel AS (SELECT * FROM {_UF} WHERE i % {USER_MOD} = 0),
cand AS (
  SELECT s.i AS user_id, t.i AS supplier,
         s.f1 * t.f1 + s.f2 * t.f2 AS score
  FROM sel s CROSS JOIN {_IF} t
  WHERE NOT EXISTS (
    SELECT 1 FROM ratings r WHERE r.u = s.i AND r.i = t.i
  )
),
ranked AS (
  SELECT user_id, supplier, score,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY score DESC, supplier) AS rn
  FROM cand
)
SELECT user_id, supplier, score, CAST(rn AS INT) AS rank_n
FROM ranked WHERE rn <= {RECS_TOPK}
""",
)
def q_als_supplier_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ALS recommendations: factorize the customer x
    supplier order-count matrix (rank 2, {ALS_ITERS} alternations,
    closed-form 2x2 solves — operators/als.py), then for the pinned
    user cohort score every NOT-yet-purchased supplier with the factor
    dot product and keep the top-{RECS_TOPK} per user. Training and
    serving both sit under the hash gate: a wrong factor, a leaked
    already-purchased candidate, or a mis-ranked tie all mismatch.
    Plan: training sweeps are keyed join+agg; serving is one broadcast
    cross join (item factors are the small side), one anti join on the
    rating pairs, one user-partitioned top-k window."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # One materialized u-partitioned layout feeds training AND the
    # serving anti-join below (operators/als.prepare_ratings).
    ratings = prepare_ratings(
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(F.col("o_custkey").alias("u"), F.col("l_suppkey").alias("i"))
        .agg(F.count_distinct("o_orderkey").alias("r"))
    )
    user_f, item_f = als_factors(ratings)
    sel = user_f.filter(F.col("i") % USER_MOD == 0).select(
        F.col("i").alias("user_id"), F.col("f1").alias("u1"), F.col("f2").alias("u2")
    )
    items = item_f.select(
        F.col("i").alias("supplier"), F.col("f1").alias("i1"), F.col("f2").alias("i2")
    )
    cand = (
        sel.crossJoin(F.broadcast(items))
        .join(
            ratings.select(
                F.col("u").alias("user_id"), F.col("i").alias("supplier")
            ),
            ["user_id", "supplier"],
            "left_anti",
        )
        .select(
            "user_id",
            "supplier",
            (F.col("u1") * F.col("i1") + F.col("u2") * F.col("i2")).alias("score"),
        )
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.col("score").desc(), "supplier")
    )
    return (
        cand.select("user_id", "supplier", "score", rn.alias("rank_n"))
        .filter(F.col("rank_n") <= RECS_TOPK)
    )


from nyc_taxi_data_engineering_spark.operators.als import ALS_ITERS  # noqa: E402

q_als_supplier_recommendations.__doc__ = q_als_supplier_recommendations.__doc__.replace(
    "{ALS_ITERS}", str(ALS_ITERS)
).replace("{RECS_TOPK}", str(RECS_TOPK))


# ---------------------------------------------------------------------------
# Offline ranking evaluation of the ALS recommender: temporal split,
# hit-rate@3 and NDCG@3 against genuinely-new held-out purchases —
# the train → serve → EVALUATE third leg of the rec family.
#
# Exactness: the log2 discounts are PINNED LITERALS (computed once in
# Python, embedded identically in the Spark expressions and the SQL
# text — no libm at query time); per-user NDCG is a rational of those
# literals; the mean rides the decimal transport.
# ---------------------------------------------------------------------------

EVAL_CUTOFF = "2000-07-01"  # ~83/17 temporal split of the 1995-2001 span
EVAL_USER_MOD = 29  # pinned eval cohort (custkey % 29 == 0)
_D = {k: 1.0 / __import__("math").log2(k + 1) for k in (1, 2, 3)}
_I = {1: _D[1], 2: _D[1] + _D[2], 3: _D[1] + _D[2] + _D[3]}

_TRAIN_CTE = f"""ratings AS (
  SELECT o_custkey AS u, l_suppkey AS i,
         COUNT(DISTINCT o_orderkey) AS r
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  WHERE o_orderdate < TIMESTAMP '{EVAL_CUTOFF}'
  GROUP BY 1, 2
)"""

_EVAL_WITH, (_EUF, _EIF) = als_sql(_TRAIN_CTE)


@query(
    "als_ranking_eval",
    oracle=f"""
WITH {_EVAL_WITH},
hold AS (
  SELECT DISTINCT o_custkey AS u, l_suppkey AS i
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  WHERE o_orderdate >= TIMESTAMP '{EVAL_CUTOFF}'
    AND NOT EXISTS (SELECT 1 FROM ratings r WHERE r.u = o_custkey AND r.i = l_suppkey)
),
eu AS (
  SELECT h.u, COUNT(*) AS n_hold
  FROM hold h
  WHERE h.u % {EVAL_USER_MOD} = 0
    AND EXISTS (SELECT 1 FROM {_EUF} f WHERE f.i = h.u)
  GROUP BY h.u
),
sel AS (SELECT f.i, f.f1, f.f2 FROM {_EUF} f JOIN eu ON eu.u = f.i),
cand AS (
  SELECT s.i AS user_id, t.i AS supplier,
         s.f1 * t.f1 + s.f2 * t.f2 AS score
  FROM sel s CROSS JOIN {_EIF} t
  WHERE NOT EXISTS (SELECT 1 FROM ratings r WHERE r.u = s.i AND r.i = t.i)
),
ranked AS (
  SELECT user_id, supplier,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY score DESC, supplier) AS rn
  FROM cand
),
recs AS (SELECT * FROM ranked WHERE rn <= {RECS_TOPK}),
scored AS (
  SELECT eu.u, eu.n_hold,
         SUM(CASE WHEN h.i IS NOT NULL THEN
               CASE r.rn WHEN 1 THEN {_D[1]!r} WHEN 2 THEN {_D[2]!r} ELSE {_D[3]!r} END
             ELSE 0.0 END) AS dcg,
         SUM(CASE WHEN h.i IS NOT NULL THEN 1 ELSE 0 END) AS hits
  FROM eu
  LEFT JOIN recs r ON r.user_id = eu.u
  LEFT JOIN hold h ON h.u = eu.u AND h.i = r.supplier
  GROUP BY eu.u, eu.n_hold
),
nd AS (
  SELECT u, hits,
         dcg / (CASE WHEN n_hold >= 3 THEN {_I[3]!r}
                     WHEN n_hold = 2 THEN {_I[2]!r}
                     ELSE {_I[1]!r} END) AS ndcg
  FROM scored
)
SELECT COUNT(*) AS n_eval_users,
       CAST(SUM(hits) AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS hit_rate,
       CAST(CAST(SUM(CAST(ndcg AS DECIMAL(18,12))) AS STRING) AS DOUBLE) / COUNT(*) AS mean_ndcg
FROM nd
""",
)
def q_als_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-split offline eval of the ALS recommender: train on
    orders before {EVAL_CUTOFF}, hold out the genuinely-NEW (user,
    supplier) purchases after it, recommend top-3 per pinned-cohort
    user, report hit-rate@3 and mean NDCG@3. One row; every number —
    factors, ranks, discounts, means — replays exactly in the oracle.

    100 TB: training sweeps are keyed join+agg (operators/als.py);
    the holdout anti-join and candidate exclusion are keyed; scoring
    broadcasts item factors; the metric aggregation touches only the
    cohort-sized rec/holdout tables."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    joined = o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
    cutoff = F.lit(EVAL_CUTOFF).cast("timestamp")
    ratings = prepare_ratings(
        joined.filter(F.col("o_orderdate") < cutoff)
        .groupBy(F.col("o_custkey").alias("u"), F.col("l_suppkey").alias("i"))
        .agg(F.count_distinct("o_orderkey").alias("r"))
    )
    hold = (
        joined.filter(F.col("o_orderdate") >= cutoff)
        .select(F.col("o_custkey").alias("u"), F.col("l_suppkey").alias("i"))
        .distinct()
        .join(ratings.select("u", "i"), ["u", "i"], "left_anti")
    )
    user_f, item_f = als_factors(ratings)
    eu = (
        hold.filter(F.col("u") % EVAL_USER_MOD == 0)
        .join(user_f.select(F.col("i").alias("u")), "u", "left_semi")
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("n_hold"))
    )
    sel = user_f.join(eu.select(F.col("u").alias("i")), "i", "left_semi").select(
        F.col("i").alias("user_id"), F.col("f1").alias("u1"), F.col("f2").alias("u2")
    )
    items = item_f.select(
        F.col("i").alias("supplier"), F.col("f1").alias("i1"), F.col("f2").alias("i2")
    )
    cand = (
        sel.crossJoin(F.broadcast(items))
        .join(
            ratings.select(F.col("u").alias("user_id"), F.col("i").alias("supplier")),
            ["user_id", "supplier"],
            "left_anti",
        )
        .select(
            "user_id",
            "supplier",
            (F.col("u1") * F.col("i1") + F.col("u2") * F.col("i2")).alias("score"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.col("score").desc(), "supplier")
    )
    recs = cand.select("user_id", "supplier", rn.alias("rn")).filter(
        F.col("rn") <= RECS_TOPK
    )
    hit_flag = F.col("h_i").isNotNull()
    disc = (
        F.when(F.col("rn") == 1, F.lit(_D[1]))
        .when(F.col("rn") == 2, F.lit(_D[2]))
        .otherwise(F.lit(_D[3]))
    )
    scored = (
        eu.join(recs, eu["u"] == recs["user_id"], "left")
        .join(
            hold.select(F.col("u").alias("h_u"), F.col("i").alias("h_i")),
            (F.col("h_u") == F.col("u")) & (F.col("h_i") == F.col("supplier")),
            "left",
        )
        .groupBy("u", "n_hold")
        .agg(
            F.sum(F.when(hit_flag, disc).otherwise(F.lit(0.0))).alias("dcg"),
            F.sum(F.when(hit_flag, 1).otherwise(0)).alias("hits"),
        )
    )
    idcg = (
        F.when(F.col("n_hold") >= 3, F.lit(_I[3]))
        .when(F.col("n_hold") == 2, F.lit(_I[2]))
        .otherwise(F.lit(_I[1]))
    )
    nd = scored.select("u", "hits", (F.col("dcg") / idcg).alias("ndcg"))
    return nd.agg(
        F.count(F.lit(1)).alias("n_eval_users"),
        F.sum("hits").cast("bigint").alias("n_hits"),
        (
            F.sum(F.when(F.col("hits") > 0, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("hit_rate"),
        (
            F.sum(F.col("ndcg").cast("decimal(18,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_ndcg"),
    )
