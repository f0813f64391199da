"""MDM fuzzy-dedup queries (reference C5) on a deterministic vendor
table derived from supplier.

Construction: every supplier becomes a vendor; three dup classes are
injected (dup id = suppkey + OFF where OFF = the smallest power of 10
above max(suppkey), derived identically in both engines — same block):

- class A (suppkey%10==0): identical name + address   → score 100  → AUTO_MERGE
- class B (suppkey%10==3): name + ' ltd', same addr   → score 92.3 → STEWARD_REVIEW
- class C (suppkey%10==7): unrelated name, same addr  → score < 80 → NO_ACTION

Blocking key = vendor_id % OFF, so each base/dup pair shares a block
and distinct suppliers never pair — candidate generation, routing
counts, golden records, and the scorecard are all exactly derivable in
SQL even though scoring itself is the engine's one pandas UDF.
(Class B's 92.3 = 0.7·89 + 0.3·100 with the difflib token-sort ratio —
deterministic because all supplier names have equal length.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table
from nyc_taxi_data_engineering_spark.operators.mdm import (
    candidate_pairs,
    golden_records,
    mdm_scorecard,
    score_pairs,
)
from nyc_taxi_data_engineering_spark.queries.registry import query

PAYLOAD = ["vendor_name", "vendor_address"]


def _vendors(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    # Dup-id offset and block modulus, DERIVED from the observed key
    # range as the smallest power of 10 above max(s_suppkey) — libm-free
    # (string length, exact in both engines). A fixed 10000 broke at the
    # sf1 scale tier: its 1e8 replica-key offset is 0 mod 10000, so every
    # replica of a supplier landed in the SAME block and the blocking
    # self-join exploded with cross-replica pairs the analytic oracles
    # (which state the expected pairs in closed form) never model. With
    # off > max(key), base x blocks to x and its dup (x + off) blocks to
    # x too, while distinct bases stay in distinct blocks at ANY scale.
    # Built as the string '1' + k zeros cast to long — genuinely
    # libm-free (ADVICE r10: F.pow routes through double libm, and a
    # 1-ulp-low 10^k would truncate to off-1 under cast while DuckDB's
    # CAST rounds; the string construction has no float in the path).
    off_row = sup.agg(
        F.concat(
            F.lit("1"),
            F.repeat(F.lit("0"), F.length(F.max("s_suppkey").cast("string"))),
        )
        .cast("long")
        .alias("_off")
    )
    base = sup.crossJoin(F.broadcast(off_row)).select(
        F.col("s_suppkey").alias("vendor_id"),
        F.col("s_name").alias("vendor_name"),
        F.concat(F.lit("No "), F.col("s_suppkey").cast("string"), F.lit(" Main Street")).alias(
            "vendor_address"
        ),
        "_off",
    )
    dup_a = base.filter(F.col("vendor_id") % 10 == 0).select(
        (F.col("vendor_id") + F.col("_off")).alias("vendor_id"),
        "vendor_name",
        "vendor_address",
        "_off",
    )
    dup_b = base.filter(F.col("vendor_id") % 10 == 3).select(
        (F.col("vendor_id") + F.col("_off")).alias("vendor_id"),
        F.concat(F.col("vendor_name"), F.lit(" ltd")).alias("vendor_name"),
        "vendor_address",
        "_off",
    )
    dup_c = base.filter(F.col("vendor_id") % 10 == 7).select(
        (F.col("vendor_id") + F.col("_off")).alias("vendor_id"),
        F.concat(F.lit("Totally Different Co "), F.col("vendor_id").cast("string")).alias(
            "vendor_name"
        ),
        "vendor_address",
        "_off",
    )
    return (
        base.unionByName(dup_a)
        .unionByName(dup_b)
        .unionByName(dup_c)
        .withColumn(
            "block_city",
            F.concat(F.lit("blk"), (F.col("vendor_id") % F.col("_off")).cast("string")),
        )
        .drop("_off")
    )


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vendors(spark, sf_dir)
    pairs = candidate_pairs(v, "vendor_id", ["block_city"], PAYLOAD)
    return score_pairs(pairs, "vendor_id", "vendor_name", "vendor_address")


@query(
    "mdm_candidate_pairs",
    oracle="""
SELECT s_suppkey AS a_vendor_id, s_suppkey + (SELECT CAST('1' || REPEAT('0', LENGTH(CAST(MAX(s_suppkey) AS VARCHAR))) AS BIGINT) FROM supplier) AS b_vendor_id,
       'blk' || CAST(s_suppkey AS VARCHAR) AS block_city
FROM supplier WHERE s_suppkey % 10 IN (0, 3, 7)
""",
)
def q_mdm_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vendors(spark, sf_dir)
    return candidate_pairs(v, "vendor_id", ["block_city"], PAYLOAD).select(
        "a_vendor_id", "b_vendor_id", "block_city"
    )


@query(
    "mdm_routing_counts",
    oracle="""
SELECT action, COUNT(*) AS pair_count FROM (
  SELECT CASE WHEN s_suppkey % 10 = 0 THEN 'AUTO_MERGE'
              WHEN s_suppkey % 10 = 3 THEN 'STEWARD_REVIEW'
              ELSE 'NO_ACTION' END AS action
  FROM supplier WHERE s_suppkey % 10 IN (0, 3, 7)
) GROUP BY action
""",
)
def q_mdm_routing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scored(spark, sf_dir).groupBy("action").agg(F.count(F.lit(1)).alias("pair_count"))


@query(
    "mdm_match_scores",
    oracle="""
SELECT s_suppkey AS a_vendor_id, s_suppkey + (SELECT CAST('1' || REPEAT('0', LENGTH(CAST(MAX(s_suppkey) AS VARCHAR))) AS BIGINT) FROM supplier) AS b_vendor_id,
       CASE WHEN s_suppkey % 10 = 0 THEN CAST(100.0 AS DOUBLE)
            ELSE CAST(92.3 AS DOUBLE) END AS match_score,
       CASE WHEN s_suppkey % 10 = 0 THEN 'HIGH' ELSE 'MEDIUM' END AS confidence
FROM supplier WHERE s_suppkey % 10 IN (0, 3)
""",
)
def q_mdm_match_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _scored(spark, sf_dir)
        .filter(F.col("action") != "NO_ACTION")
        .select("a_vendor_id", "b_vendor_id", "match_score", "confidence")
    )


@query(
    "mdm_golden_records",
    oracle="""
SELECT s_suppkey AS golden_vendor_id, s_name AS vendor_name,
       'No ' || CAST(s_suppkey AS VARCHAR) || ' Main Street' AS vendor_address,
       CAST(s_suppkey AS VARCHAR) || ',' || CAST(s_suppkey + (SELECT CAST('1' || REPEAT('0', LENGTH(CAST(MAX(s_suppkey) AS VARCHAR))) AS BIGINT) FROM supplier) AS VARCHAR) AS source_ids,
       CAST(100.0 AS DOUBLE) AS match_score
FROM supplier WHERE s_suppkey % 10 = 0
""",
)
def q_mdm_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vendors(spark, sf_dir)
    return golden_records(v, _scored(spark, sf_dir), "vendor_id", PAYLOAD)


@query(
    "mdm_scorecard",
    oracle="""
WITH s AS (
  SELECT COUNT(*) AS n_sup,
         COALESCE(SUM(CASE WHEN s_suppkey % 10 IN (0, 3, 7) THEN 1 ELSE 0 END), 0) AS n_dup,
         COALESCE(SUM(CASE WHEN s_suppkey % 10 = 0 THEN 1 ELSE 0 END), 0) AS n_a,
         COALESCE(SUM(CASE WHEN s_suppkey % 10 = 3 THEN 1 ELSE 0 END), 0) AS n_b,
         COALESCE(SUM(CASE WHEN s_suppkey % 10 = 7 THEN 1 ELSE 0 END), 0) AS n_c
  FROM supplier
)
SELECT CAST(n_sup + n_dup AS BIGINT) AS total_records, CAST(n_dup AS BIGINT) AS candidate_pairs,
       CAST(n_a AS BIGINT) AS auto_merge_pairs, CAST(n_b AS BIGINT) AS steward_review_pairs,
       CAST(n_c AS BIGINT) AS no_action_pairs,
       ROUND(n_a * 100.0 / (n_sup + n_dup), 2) AS duplicate_rate_pct,
       ROUND(n_b * 100.0 / n_dup, 2) AS review_rate_pct
FROM s
""",
)
def q_mdm_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vendors(spark, sf_dir)
    return mdm_scorecard(v, _scored(spark, sf_dir))


@query(
    "mdm_levenshtein_scores",
    oracle="""
WITH v AS (
  SELECT s_suppkey, s_name AS a_name,
         CASE WHEN s_suppkey % 10 = 0 THEN s_name
              WHEN s_suppkey % 10 = 3 THEN s_name || ' ltd'
              ELSE 'Totally Different Co ' || CAST(s_suppkey AS VARCHAR) END AS b_name
  FROM supplier WHERE s_suppkey % 10 IN (0, 3, 7)
)
SELECT s_suppkey AS a_vendor_id, s_suppkey + (SELECT CAST('1' || REPEAT('0', LENGTH(CAST(MAX(s_suppkey) AS VARCHAR))) AS BIGINT) FROM supplier) AS b_vendor_id,
       levenshtein(a_name, b_name) AS edit_distance,
       ROUND(100.0 * (1 - levenshtein(a_name, b_name) * 1.0
             / greatest(length(a_name), length(b_name))), 2) AS lev_similarity
FROM v
""",
)
def q_mdm_levenshtein_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-native fuzzy scoring: Levenshtein edit distance over the
    candidate pairs — the zero-UDF alternative to the pandas
    token-sort scorer (same classic DP in both engines, integer-exact).
    At scale this keeps fuzzy matching inside whole-stage codegen."""
    pairs = candidate_pairs(
        _vendors(spark, sf_dir), "vendor_id", ["block_city"], PAYLOAD
    )
    a, b = F.col("a_vendor_name"), F.col("b_vendor_name")
    lev = F.levenshtein(a, b)
    return pairs.select(
        "a_vendor_id",
        "b_vendor_id",
        lev.alias("edit_distance"),
        F.round(
            100.0 * (F.lit(1) - lev * 1.0 / F.greatest(F.length(a), F.length(b))), 2
        ).alias("lev_similarity"),
    )


SNM_WINDOW = 2


@query(
    "mdm_snm_candidate_pairs",
    oracle=f"""
WITH vendors AS (
    SELECT s_suppkey AS vendor_id, s_name AS vendor_name FROM supplier
    UNION ALL
    SELECT s_suppkey + (SELECT CAST('1' || REPEAT('0', LENGTH(CAST(MAX(s_suppkey) AS VARCHAR))) AS BIGINT) FROM supplier), s_name FROM supplier WHERE s_suppkey % 10 = 0
    UNION ALL
    SELECT s_suppkey + (SELECT CAST('1' || REPEAT('0', LENGTH(CAST(MAX(s_suppkey) AS VARCHAR))) AS BIGINT) FROM supplier), s_name || ' ltd' FROM supplier WHERE s_suppkey % 10 = 3
    UNION ALL
    SELECT s_suppkey + (SELECT CAST('1' || REPEAT('0', LENGTH(CAST(MAX(s_suppkey) AS VARCHAR))) AS BIGINT) FROM supplier), 'Totally Different Co ' || CAST(s_suppkey AS VARCHAR)
    FROM supplier WHERE s_suppkey % 10 = 7
),
ranked AS (
    SELECT vendor_id, vendor_name,
           lead(vendor_id, 1) OVER w AS id1, lead(vendor_name, 1) OVER w AS nm1,
           lead(vendor_id, 2) OVER w AS id2, lead(vendor_name, 2) OVER w AS nm2
    FROM vendors
    WINDOW w AS (ORDER BY vendor_name, vendor_id)
),
pairs AS (
    SELECT LEAST(vendor_id, id1) AS a_vendor_id, GREATEST(vendor_id, id1) AS b_vendor_id,
           1 AS rank_gap, CASE WHEN vendor_name = nm1 THEN 1 ELSE 0 END AS same_name
    FROM ranked WHERE id1 IS NOT NULL
    UNION ALL
    SELECT LEAST(vendor_id, id2), GREATEST(vendor_id, id2),
           2, CASE WHEN vendor_name = nm2 THEN 1 ELSE 0 END
    FROM ranked WHERE id2 IS NOT NULL
)
SELECT a_vendor_id, b_vendor_id, CAST(rank_gap AS INT) AS rank_gap,
       CAST(same_name AS INT) AS same_name
FROM pairs
ORDER BY a_vendor_id, b_vendor_id, rank_gap
""",
)
def q_mdm_snm_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood candidate generation — the OTHER classic
    blocking strategy beside equality blocking (mdm_candidate_pairs):
    sort all records by the match key, pair each record with its next
    {SNM_WINDOW} neighbors via lead windows. Catches near-key
    duplicates equality blocks miss ('X' vs 'X ltd' sort adjacent)
    while missing full renames — the documented recall trade-off
    (tests assert both). Since r12 the sort IS the distributed form:
    a bucketed global row number over (vendor_name, vendor_id)
    (operators/distrank, string-keyed lead) with the lead-1/lead-2
    neighbors recovered by equi-joins on rn+1 / rn+2 — no
    single-partition window, and the neighbor joins shuffle on the
    dense rank, which cannot skew."""
    from nyc_taxi_data_engineering_spark.operators.distrank import (
        global_row_number,
        string_lead,
    )

    v = _vendors(spark, sf_dir)
    rn_df = global_row_number(
        v, ["vendor_name", "vendor_id"], out="_rn", lead=string_lead("vendor_name")
    )
    nbr = rn_df.select(
        F.col("_rn").alias("_rn_n"),
        F.col("vendor_id").alias("_nid"),
        F.col("vendor_name").alias("_nnm"),
    )
    ranked = (
        rn_df.join(
            nbr.select(
                (F.col("_rn_n") - 1).alias("_rn"),
                F.col("_nid").alias("id1"),
                F.col("_nnm").alias("nm1"),
            ),
            "_rn",
            "left",
        )
        .join(
            nbr.select(
                (F.col("_rn_n") - 2).alias("_rn"),
                F.col("_nid").alias("id2"),
                F.col("_nnm").alias("nm2"),
            ),
            "_rn",
            "left",
        )
        .select("vendor_id", "vendor_name", "id1", "nm1", "id2", "nm2")
    )
    def _branch(idc, nmc, gap):
        return (
            ranked.filter(F.col(idc).isNotNull())
            .select(
                F.least("vendor_id", F.col(idc)).alias("a_vendor_id"),
                F.greatest("vendor_id", F.col(idc)).alias("b_vendor_id"),
                F.lit(gap).cast("int").alias("rank_gap"),
                F.when(F.col("vendor_name") == F.col(nmc), 1).otherwise(0).cast("int").alias("same_name"),
            )
        )
    return (
        _branch("id1", "nm1", 1)
        .unionByName(_branch("id2", "nm2", 2))
        .orderBy("a_vendor_id", "b_vendor_id", "rank_gap")
    )
