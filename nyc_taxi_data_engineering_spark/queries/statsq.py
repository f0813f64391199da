"""Experiment-analysis / statistical-inference operators under the
exact oracle gate: two-sample A/B z-test, CUPED variance reduction,
Kaplan-Meier survival (log-space), association rules
(support/confidence/lift), and a deterministic half-sample bootstrap
CI — the product-analytics layer above the profiling family.

Determinism: every sum rides the decimal transport
(functions.stable_sum), every variance/covariance is derived from
those exact moments in pinned expression shape (IEEE doubles match
cross-engine given identical operands), logs ride the 6-dp quantized
contract (queries/dsir.py precedent), and resampling is md5-hash
membership (operators/sampling.hash_bucket) — RNG-free, so the
*resamples themselves* replay in SQL.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table
from nyc_taxi_data_engineering_spark.functions import stable_sum, stable_sum_sql
from nyc_taxi_data_engineering_spark.operators.distrank import (
    global_row_number,
    ntile_from_rn,
    ordered_prefix,
)
from nyc_taxi_data_engineering_spark.operators.sampling import hash_bucket, hash_bucket_sql
from nyc_taxi_data_engineering_spark.queries.registry import query


@query(
    "ab_test_events",
    oracle=f"""
WITH agg AS (
    SELECT
      CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
      CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
      {stable_sum_sql("CASE WHEN user_id % 2 = 1 THEN value ELSE 0.0 END", scale=6)} AS s_t,
      {stable_sum_sql("CASE WHEN user_id % 2 = 0 THEN value ELSE 0.0 END", scale=6)} AS s_c,
      {stable_sum_sql("CASE WHEN user_id % 2 = 1 THEN value * value ELSE 0.0 END", scale=6)} AS ssq_t,
      {stable_sum_sql("CASE WHEN user_id % 2 = 0 THEN value * value ELSE 0.0 END", scale=6)} AS ssq_c
    FROM events
)
SELECT n_t AS n_treat, n_c AS n_ctrl,
       s_t / n_t AS mean_treat, s_c / n_c AS mean_ctrl,
       s_t / n_t - s_c / n_c AS diff,
       (s_t / n_t - s_c / n_c)
         / sqrt(((ssq_t - s_t * s_t / n_t) / (n_t - 1.0)) / n_t
                + ((ssq_c - s_c * s_c / n_c) / (n_c - 1.0)) / n_c) AS z_stat
FROM agg
""",
)
def q_ab_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Welch z-test on event value, arms assigned
    deterministically by user parity (stand-in for any experiment
    assignment column): ONE scan computes both arms' count / sum /
    sum-of-squares as six conditional aggregates; means, variances
    ((ssq − s²/n)/(n−1)), and the z statistic derive from those exact
    moments in pinned shape — sqrt is IEEE-correctly-rounded, so even
    z matches bit-for-bit. The at-scale shape for any metric × arm
    battery: moments first, statistics from the 1-row table."""
    ev = load_table(spark, sf_dir, "events")
    t = F.col("user_id") % 2 == 1
    agg = ev.agg(
        F.sum(F.when(t, 1).otherwise(0)).cast("long").alias("n_t"),
        F.sum(F.when(~t, 1).otherwise(0)).cast("long").alias("n_c"),
        stable_sum(F.when(t, F.col("value")).otherwise(F.lit(0.0)), scale=6).alias("s_t"),
        stable_sum(F.when(~t, F.col("value")).otherwise(F.lit(0.0)), scale=6).alias("s_c"),
        stable_sum(
            F.when(t, F.col("value") * F.col("value")).otherwise(F.lit(0.0)), scale=6
        ).alias("ssq_t"),
        stable_sum(
            F.when(~t, F.col("value") * F.col("value")).otherwise(F.lit(0.0)), scale=6
        ).alias("ssq_c"),
    )
    mean_t = F.col("s_t") / F.col("n_t")
    mean_c = F.col("s_c") / F.col("n_c")
    var_t = (F.col("ssq_t") - F.col("s_t") * F.col("s_t") / F.col("n_t")) / (
        F.col("n_t") - F.lit(1.0)
    )
    var_c = (F.col("ssq_c") - F.col("s_c") * F.col("s_c") / F.col("n_c")) / (
        F.col("n_c") - F.lit(1.0)
    )
    return agg.select(
        F.col("n_t").alias("n_treat"),
        F.col("n_c").alias("n_ctrl"),
        mean_t.alias("mean_treat"),
        mean_c.alias("mean_ctrl"),
        (mean_t - mean_c).alias("diff"),
        ((mean_t - mean_c) / F.sqrt(var_t / F.col("n_t") + var_c / F.col("n_c"))).alias(
            "z_stat"
        ),
    )


_CUPED_SPLIT = "2024-01-16"


@query(
    "cuped_adjusted_ab",
    oracle=f"""
WITH per_user AS (
    SELECT user_id, CAST(user_id % 2 AS INT) AS arm,
      {stable_sum_sql(f"CASE WHEN ts < TIMESTAMP '{_CUPED_SPLIT}' THEN value ELSE 0.0 END", scale=6)} AS x,
      {stable_sum_sql(f"CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT}' THEN value ELSE 0.0 END", scale=6)} AS y
    FROM events GROUP BY user_id
),
mom AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           {stable_sum_sql('x', scale=6)} AS sx, {stable_sum_sql('y', scale=6)} AS sy,
           {stable_sum_sql('x * x', scale=6)} AS sxx,
           {stable_sum_sql('x * y', scale=6)} AS sxy
    FROM per_user
),
theta AS (
    SELECT n, sx / n AS xbar,
           (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta
    FROM mom
),
adj AS (
    SELECT arm, x, y, y - theta * (x - xbar) AS y_adj
    FROM per_user CROSS JOIN theta
),
arms AS (
    SELECT
      CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
      CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
      {stable_sum_sql('CASE WHEN arm = 1 THEN y ELSE 0.0 END', scale=6)} AS sy_t,
      {stable_sum_sql('CASE WHEN arm = 0 THEN y ELSE 0.0 END', scale=6)} AS sy_c,
      {stable_sum_sql('CASE WHEN arm = 1 THEN round(y_adj, 6) ELSE 0.0 END', scale=6)} AS sa_t,
      {stable_sum_sql('CASE WHEN arm = 0 THEN round(y_adj, 6) ELSE 0.0 END', scale=6)} AS sa_c
    FROM adj
)
SELECT (SELECT theta FROM theta) AS theta,
       sy_t / n_t - sy_c / n_c AS diff_raw,
       sa_t / n_t - sa_c / n_c AS diff_cuped
FROM arms
""",
)
def q_cuped_adjusted_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) — the standard
    experiment-sensitivity lever: per-user pre-period value is the
    covariate x, post-period value the outcome y; θ = cov(x,y)/var(x)
    from pooled exact moments, and the adjusted outcome
    y − θ(x − x̄) removes the covariate-explained variance from the
    arm comparison. Three aggregation levels, each tiny after the
    first: per-user conditional sums (one events scan), a 1-row moment
    table, a 1-row arm summary. Adjusted values round to 6 dp before
    the decimal-transport arm sums so the order-independence contract
    holds end to end."""
    ev = load_table(spark, sf_dir, "events")
    pre = F.col("ts") < F.lit(_CUPED_SPLIT)
    per_user = ev.groupBy("user_id").agg(
        stable_sum(F.when(pre, F.col("value")).otherwise(F.lit(0.0)), scale=6).alias("x"),
        stable_sum(F.when(~pre, F.col("value")).otherwise(F.lit(0.0)), scale=6).alias("y"),
    ).select((F.col("user_id") % 2).cast("int").alias("arm"), "x", "y")
    mom = per_user.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        stable_sum("x", scale=6).alias("sx"),
        stable_sum("y", scale=6).alias("sy"),
        stable_sum(F.col("x") * F.col("x"), scale=6).alias("sxx"),
        stable_sum(F.col("x") * F.col("y"), scale=6).alias("sxy"),
    )
    theta = mom.select(
        (F.col("sx") / F.col("n")).alias("xbar"),
        (
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        ).alias("theta"),
    )
    adj = per_user.crossJoin(F.broadcast(theta)).select(
        "arm",
        "y",
        "theta",
        (F.col("y") - F.col("theta") * (F.col("x") - F.col("xbar"))).alias("y_adj"),
    )
    t = F.col("arm") == 1
    arms = adj.agg(
        F.any_value("theta").alias("theta"),
        F.sum(F.when(t, 1).otherwise(0)).cast("long").alias("n_t"),
        F.sum(F.when(~t, 1).otherwise(0)).cast("long").alias("n_c"),
        stable_sum(F.when(t, F.col("y")).otherwise(F.lit(0.0)), scale=6).alias("sy_t"),
        stable_sum(F.when(~t, F.col("y")).otherwise(F.lit(0.0)), scale=6).alias("sy_c"),
        stable_sum(
            F.when(t, F.round(F.col("y_adj"), 6)).otherwise(F.lit(0.0)), scale=6
        ).alias("sa_t"),
        stable_sum(
            F.when(~t, F.round(F.col("y_adj"), 6)).otherwise(F.lit(0.0)), scale=6
        ).alias("sa_c"),
    )
    return arms.select(
        "theta",
        (F.col("sy_t") / F.col("n_t") - F.col("sy_c") / F.col("n_c")).alias("diff_raw"),
        (F.col("sa_t") / F.col("n_t") - F.col("sa_c") / F.col("n_c")).alias("diff_cuped"),
    )


_KM_CUTOFF = "2001-01-01"


@query(
    "kaplan_meier_customers",
    oracle=f"""
WITH spans AS (
    SELECT o_custkey,
           date_diff('day', MIN(o_orderdate), MAX(o_orderdate)) AS t,
           CASE WHEN MAX(o_orderdate) < TIMESTAMP '{_KM_CUTOFF}' THEN 1 ELSE 0 END AS event
    FROM orders GROUP BY o_custkey
),
by_t AS (
    SELECT t, CAST(COUNT(*) AS BIGINT) AS c, CAST(SUM(event) AS BIGINT) AS d
    FROM spans GROUP BY t
),
risk AS (
    SELECT t, c, d,
           (SELECT COUNT(*) FROM spans)
             - COALESCE(SUM(c) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_at_risk
    FROM by_t
),
km AS (
    SELECT t, n_at_risk, d,
           SUM(CAST(round(ln(1.0 - CAST(d AS DOUBLE) / n_at_risk), 6)
                    AS DECIMAL(18,6)))
             OVER (ORDER BY t) AS ls
    FROM risk
    WHERE d > 0 AND d < n_at_risk
)
SELECT t AS duration_days, CAST(n_at_risk AS BIGINT) AS n_at_risk, d AS n_events,
       CAST(ls AS DOUBLE) AS log_survival
FROM km
""",
)
def q_kaplan_meier_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimator over customer activity spans
    (duration = days between first and last order; 'death' = went
    quiet before {_KM_CUTOFF}, later activity = right-censored) — the
    churn/retention curve done properly, i.e. censoring-aware. The
    estimator runs in LOG space: each factor ln(1 − d/n) rounds to
    6 dp and the cumulative product becomes a cumulative DECIMAL sum —
    order-independent and bit-exact where a chained double product is
    neither. Times where d = n (everyone at risk dies) would send
    log S to −∞ and are excluded, as are pure-censoring times (d = 0,
    factor 1). Plan: one fact scan to customer grain, then everything
    happens on the duration table (≤ distinct durations rows — tiny),
    where windows are safe."""
    orders = load_table(spark, sf_dir, "orders")
    spans = orders.groupBy("o_custkey").agg(
        F.datediff(F.max("o_orderdate"), F.min("o_orderdate")).alias("t"),
        F.when(F.max("o_orderdate") < F.lit(_KM_CUTOFF), 1).otherwise(0).alias("event"),
    )
    by_t = spans.groupBy("t").agg(
        F.count(F.lit(1)).alias("c"), F.sum("event").cast("long").alias("d")
    )
    total = spans.agg(F.count(F.lit(1)).alias("n_total"))
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)  # distinct-duration grain, calendar-bounded
    risk = (
        by_t.crossJoin(F.broadcast(total))
        .withColumn(
            "n_at_risk",
            F.col("n_total") - F.coalesce(F.sum("c").over(w_prev), F.lit(0)),
        )
        .filter((F.col("d") > 0) & (F.col("d") < F.col("n_at_risk")))
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)  # distinct-duration grain, calendar-bounded
    factor = F.round(
        F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_at_risk")), 6
    ).cast("decimal(18,6)")
    return risk.withColumn("ls", F.sum(factor).over(w_cum)).select(
        F.col("t").alias("duration_days"),
        "n_at_risk",
        F.col("d").alias("n_events"),
        F.col("ls").cast("double").alias("log_survival"),
    )


ASSOC_CTX_CAP = 50  # drop customers linked to more suppliers than this
ASSOC_MIN_SHARED = 2
ASSOC_TOPK = 50


@query(
    "assoc_rules_suppliers",
    oracle=f"""
WITH links AS (
    SELECT DISTINCT l_suppkey AS item, o_custkey AS ctx
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
ctx_deg AS (SELECT ctx, COUNT(*) AS deg FROM links GROUP BY ctx),
kept AS (SELECT item, l.ctx FROM links l JOIN ctx_deg d ON d.ctx = l.ctx
         WHERE d.deg <= {ASSOC_CTX_CAP}),
item_cnt AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt FROM kept GROUP BY item),
n_ctx AS (SELECT CAST(COUNT(DISTINCT ctx) AS BIGINT) AS n FROM kept),
pairs AS (
    SELECT a.item AS x, b.item AS y, CAST(COUNT(*) AS BIGINT) AS shared
    FROM kept a JOIN kept b ON a.ctx = b.ctx AND a.item < b.item
    GROUP BY a.item, b.item
    HAVING COUNT(*) >= {ASSOC_MIN_SHARED}
),
rules AS (
    SELECT x AS antecedent, y AS consequent, shared FROM pairs
    UNION ALL
    SELECT y AS antecedent, x AS consequent, shared FROM pairs
)
SELECT antecedent, consequent, shared,
       CAST(shared AS DOUBLE) / (SELECT n FROM n_ctx) AS support,
       CAST(shared AS DOUBLE) / ca.cnt AS confidence,
       CAST(shared AS DOUBLE) * (SELECT n FROM n_ctx) / (ca.cnt * cb.cnt) AS lift
FROM rules
JOIN item_cnt ca ON ca.item = antecedent
JOIN item_cnt cb ON cb.item = consequent
ORDER BY lift DESC, antecedent, consequent
LIMIT {ASSOC_TOPK}
""",
)
def q_assoc_rules_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over supplier co-purchase
    baskets (customer = basket): support, confidence, and lift for
    every direction of every pair sharing ≥{ASSOC_MIN_SHARED} baskets,
    top-{ASSOC_TOPK} by lift. The ctx-degree cap is the same
    celebrity-basket lever as operators/cooccur.py — a customer linked
    to everything generates deg² pair rows and zero signal, so it's
    dropped BEFORE the self-join. Every metric divides exact integers,
    so the doubles (and the lift ordering) match cross-engine; ties
    break on the pair ids. Plan: distinct links, degree filter, keyed
    self-join + pair hash agg, two broadcast joins to item counts,
    TakeOrderedAndProject."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    links = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("l_suppkey").alias("item"), F.col("o_custkey").alias("ctx"))
        .distinct()
    )
    ctx_deg = links.groupBy("ctx").agg(F.count(F.lit(1)).alias("deg"))
    kept = links.join(
        F.broadcast(ctx_deg.filter(F.col("deg") <= ASSOC_CTX_CAP).select("ctx")), "ctx"
    )
    item_cnt = kept.groupBy("item").agg(F.count(F.lit(1)).alias("cnt"))
    n_ctx = kept.agg(F.count_distinct("ctx").alias("n"))
    a = kept.select(F.col("item").alias("x"), "ctx")
    b = kept.select(F.col("item").alias("y"), "ctx")
    pairs = (
        a.join(b, "ctx")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= ASSOC_MIN_SHARED)
    )
    rules = pairs.select(
        F.col("x").alias("antecedent"), F.col("y").alias("consequent"), "shared"
    ).unionByName(
        pairs.select(F.col("y").alias("antecedent"), F.col("x").alias("consequent"), "shared")
    )
    ca = item_cnt.select(F.col("item").alias("antecedent"), F.col("cnt").alias("cnt_a"))
    cb = item_cnt.select(F.col("item").alias("consequent"), F.col("cnt").alias("cnt_b"))
    return (
        rules.join(F.broadcast(ca), "antecedent")
        .join(F.broadcast(cb), "consequent")
        .crossJoin(F.broadcast(n_ctx))
        .select(
            "antecedent",
            "consequent",
            "shared",
            (F.col("shared").cast("double") / F.col("n")).alias("support"),
            (F.col("shared").cast("double") / F.col("cnt_a")).alias("confidence"),
            (
                F.col("shared").cast("double") * F.col("n") / (F.col("cnt_a") * F.col("cnt_b"))
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "antecedent", "consequent")
        .limit(ASSOC_TOPK)
    )


BOOT_B = 32  # resamples; each keeps ~half the rows by md5 membership


@query(
    "revenue_bootstrap_ci",
    oracle=f"""
WITH grid AS (SELECT UNNEST(generate_series(0, {BOOT_B - 1})) AS b),
stats AS (
    SELECT b,
           2.0 * {stable_sum_sql('o_totalprice')} AS stat
    FROM orders CROSS JOIN grid
    WHERE {hash_bucket_sql("o_orderkey || '#' || b", seed="boot", n_buckets=2)} = 0
    GROUP BY b
),
ranked AS (
    SELECT stat, ROW_NUMBER() OVER (ORDER BY stat, b) AS rn FROM stats
),
point AS (SELECT {stable_sum_sql('o_totalprice')} AS estimate FROM orders)
SELECT (SELECT estimate FROM point) AS estimate,
       (SELECT stat FROM ranked WHERE rn = 2) AS ci_lo,
       (SELECT stat FROM ranked WHERE rn = {BOOT_B - 1}) AS ci_hi,
       CAST({BOOT_B} AS BIGINT) AS n_resamples
""",
)
def q_revenue_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic half-sample bootstrap CI for total revenue: each
    of the {BOOT_B} resamples keeps an order iff
    md5('boot'|orderkey#b) lands even — RNG-free, so resample
    membership (and therefore the CI itself) replays exactly in SQL
    and across cluster re-runs. Each resample's doubled half-sum
    estimates the total; the CI is the [2nd, {BOOT_B - 1}th] order
    statistic picked by explicit row_number (no engine-specific
    quantile convention). Plan: fact × {BOOT_B}-row broadcast grid →
    membership filter → one hash agg keyed on b ({BOOT_B} groups,
    map-side combine does almost all the work) → window over
    {BOOT_B} rows. The at-scale bootstrap: one pass, no shuffling
    the fact {BOOT_B} times."""
    orders = load_table(spark, sf_dir, "orders")
    grid = spark.range(BOOT_B).select(F.col("id").cast("int").alias("b"))
    member_key = F.concat(
        F.col("o_orderkey").cast("string"), F.lit("#"), F.col("b").cast("string")
    )
    stats = (
        orders.crossJoin(F.broadcast(grid))
        .filter(hash_bucket(member_key, seed="boot", n_buckets=2) == 0)
        .groupBy("b")
        .agg((F.lit(2.0) * stable_sum("o_totalprice")).alias("stat"))
    )
    ranked = stats.withColumn(
        "rn", F.row_number().over(Window.orderBy("stat", "b"))  # bootstrap grain, BOOT_B rows
    )
    # Both order statistics from ONE aggregate over the 32-row ranked
    # table — separate lo/hi filter branches would re-execute the whole
    # stats subtree (an orders scan each) once per branch.
    ci = ranked.agg(
        F.max(F.when(F.col("rn") == 2, F.col("stat"))).alias("ci_lo"),
        F.max(F.when(F.col("rn") == BOOT_B - 1, F.col("stat"))).alias("ci_hi"),
    )
    point = orders.agg(stable_sum("o_totalprice").alias("estimate"))
    return point.crossJoin(F.broadcast(ci)).select(
        "estimate",
        "ci_lo",
        "ci_hi",
        F.lit(BOOT_B).cast("long").alias("n_resamples"),
    )


AB_BOOT_B = 32


@query(
    "ab_bootstrap_diff_ci",
    oracle=f"""
WITH grid AS (SELECT UNNEST(generate_series(0, {AB_BOOT_B - 1})) AS b),
member AS (
    SELECT b, user_id % 2 AS arm, value
    FROM events CROSS JOIN grid
    WHERE {hash_bucket_sql("event_id || '#' || b", seed="abboot", n_buckets=2)} = 0
),
stats AS (
    SELECT b,
           {stable_sum_sql('CASE WHEN arm = 1 THEN value ELSE 0.0 END', scale=6)}
             / SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
           - {stable_sum_sql('CASE WHEN arm = 0 THEN value ELSE 0.0 END', scale=6)}
             / SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS diff
    FROM member
    GROUP BY b
),
ranked AS (SELECT diff, ROW_NUMBER() OVER (ORDER BY diff, b) AS rn FROM stats)
SELECT (SELECT diff FROM ranked WHERE rn = 2) AS ci_lo,
       (SELECT diff FROM ranked WHERE rn = {AB_BOOT_B - 1}) AS ci_hi,
       CAST((SELECT COUNT(*) FROM ranked WHERE diff > 0.0) AS BIGINT) AS n_positive,
       CAST({AB_BOOT_B} AS BIGINT) AS n_resamples
""",
)
def q_ab_bootstrap_diff_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap CI for the A/B mean DIFFERENCE — the
    distribution-free companion to ab_test_events' parametric z:
    {AB_BOOT_B} deterministic half-resamples (md5 membership on
    (event, b), the revenue_bootstrap_ci machinery), each yielding a
    mean-treat − mean-ctrl; the CI is explicit order statistics and
    n_positive counts resamples where treatment wins (a sign-
    stability readout). Everything replays in SQL because the
    resamples themselves are hash-deterministic. One fact scan × a
    broadcast {AB_BOOT_B}-row grid → one hash agg keyed on b."""
    ev = load_table(spark, sf_dir, "events")
    grid = spark.range(AB_BOOT_B).select(F.col("id").cast("int").alias("b"))
    key = F.concat(F.col("event_id").cast("string"), F.lit("#"), F.col("b").cast("string"))
    t = F.col("user_id") % 2 == 1
    stats = (
        ev.crossJoin(F.broadcast(grid))
        .filter(hash_bucket(key, seed="abboot", n_buckets=2) == 0)
        .groupBy("b")
        .agg(
            (
                stable_sum(F.when(t, F.col("value")).otherwise(F.lit(0.0)), scale=6)
                / F.sum(F.when(t, 1).otherwise(0))
                - stable_sum(F.when(~t, F.col("value")).otherwise(F.lit(0.0)), scale=6)
                / F.sum(F.when(~t, 1).otherwise(0))
            ).alias("diff")
        )
    )
    ranked = stats.withColumn("rn", F.row_number().over(Window.orderBy("diff", "b")))  # bootstrap grain, BOOT_B rows
    # One aggregate over the 32-row ranked table yields both order
    # statistics AND the sign-stability count — separate filter
    # branches would re-execute the stats subtree (a fact scan each).
    return ranked.agg(
        F.max(F.when(F.col("rn") == 2, F.col("diff"))).alias("ci_lo"),
        F.max(F.when(F.col("rn") == AB_BOOT_B - 1, F.col("diff"))).alias("ci_hi"),
        # COALESCE like the oracle's COUNT: 0 on empty input, not a NULL
        # that arrives as float64 and breaks the dtype contract
        F.coalesce(F.sum(F.when(F.col("diff") > 0.0, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_positive"),
    ).select(
        "ci_lo", "ci_hi", "n_positive", F.lit(AB_BOOT_B).cast("long").alias("n_resamples")
    )


# --- Difference-in-differences -------------------------------------------
# Treatment by user parity (the repo's deterministic stand-in for an
# assignment column, same as ab_test_events), periods split at a pinned
# mid-range cutover, outcome = purchase event value. The whole 2x2 cell
# table is ONE conditional-aggregate row (single scan, map-side combine);
# every mean is an exact decimal sum with one terminal double division,
# and the DiD estimate combines the four means with IEEE ops that are
# bit-identical across engines.

_DID_CUTOVER = "2024-01-16 00:00:00"


def _did_cells() -> list[str]:
    out = []
    for g, gcond in (("treat", "user_id % 2 = 1"), ("ctrl", "user_id % 2 = 0")):
        for p, pcond in (
            (
                "pre",
                f"ts < TIMESTAMP '{_DID_CUTOVER}'",
            ),
            (
                "post",
                f"ts >= TIMESTAMP '{_DID_CUTOVER}'",
            ),
        ):
            cond = f"event_type = 'purchase' AND {gcond} AND {pcond}"
            out.append(
                f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS n_{g}_{p}"
            )
            out.append(
                stable_sum_sql(f"CASE WHEN {cond} THEN value ELSE 0.0 END", scale=6)
                + f" AS s_{g}_{p}"
            )
    return out


def _did_means() -> dict[str, str]:
    return {
        f"mean_{g}_{p}": (
            f"CASE WHEN n_{g}_{p} = 0 THEN CAST(0.0 AS DOUBLE)"
            f" ELSE s_{g}_{p} / n_{g}_{p} END"
        )
        for g in ("treat", "ctrl")
        for p in ("pre", "post")
    }


_DID_M = _did_means()
_DID_EST = (
    f"(({_DID_M['mean_treat_post']}) - ({_DID_M['mean_treat_pre']}))"
    f" - (({_DID_M['mean_ctrl_post']}) - ({_DID_M['mean_ctrl_pre']}))"
)


@query(
    "did_uplift_events",
    oracle=f"""
WITH agg AS (SELECT {', '.join(_did_cells())} FROM events)
SELECT n_treat_pre, n_treat_post, n_ctrl_pre, n_ctrl_post,
       {_DID_M['mean_treat_pre']} AS mean_treat_pre,
       {_DID_M['mean_treat_post']} AS mean_treat_post,
       {_DID_M['mean_ctrl_pre']} AS mean_ctrl_pre,
       {_DID_M['mean_ctrl_post']} AS mean_ctrl_post,
       {_DID_EST} AS did_estimate
FROM agg
""",
)
def q_did_uplift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on purchase value: the 2x2
    (group x period) cell means from one conditional-aggregate scan,
    and the DiD estimate (treated post-pre change minus control
    post-pre change). 1 row."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.agg(*[F.expr(c) for c in _did_cells()])
    return agg.select(
        "n_treat_pre",
        "n_treat_post",
        "n_ctrl_pre",
        "n_ctrl_post",
        *[F.expr(e).alias(k) for k, e in _DID_M.items()],
        F.expr(_DID_EST).alias("did_estimate"),
    )


# --- Uplift by decile ------------------------------------------------------
# The targeting companion to did_uplift_events: rank users into deciles
# by their PRE-period engagement (the CUPED covariate idea), then per
# decile compare treated vs control POST-period purchase value — the
# table a campaign owner reads to find who the treatment actually moves.
# Determinism: decile assignment is ntile over (pre_value, user_id) — a
# total order, so ranks replay exactly; means are decimal sums with one
# terminal division.


@query(
    "uplift_by_decile_events",
    oracle=f"""
WITH per_user AS (
    SELECT user_id,
           user_id % 2 AS treat,
           {stable_sum_sql(f"CASE WHEN ts < TIMESTAMP '{_DID_CUTOVER}' THEN value ELSE 0.0 END", scale=6)} AS pre_value,
           {stable_sum_sql(f"CASE WHEN ts >= TIMESTAMP '{_DID_CUTOVER}' AND event_type = 'purchase' THEN value ELSE 0.0 END", scale=6)} AS post_purchase,
           CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_DID_CUTOVER}' AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS post_n
    FROM events
    GROUP BY user_id
),
ranked AS (
    SELECT *, ntile(10) OVER (ORDER BY pre_value, user_id) AS decile FROM per_user
)
SELECT decile,
       CAST(SUM(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_treat,
       CAST(SUM(CASE WHEN treat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl,
       CASE WHEN SUM(CASE WHEN treat = 1 THEN 1 ELSE 0 END) = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE {stable_sum_sql("CASE WHEN treat = 1 THEN post_purchase ELSE 0.0 END", scale=6)}
                 / SUM(CASE WHEN treat = 1 THEN 1 ELSE 0 END) END AS mean_treat,
       CASE WHEN SUM(CASE WHEN treat = 0 THEN 1 ELSE 0 END) = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE {stable_sum_sql("CASE WHEN treat = 0 THEN post_purchase ELSE 0.0 END", scale=6)}
                 / SUM(CASE WHEN treat = 0 THEN 1 ELSE 0 END) END AS mean_ctrl,
       CASE WHEN SUM(CASE WHEN treat = 1 THEN 1 ELSE 0 END) = 0
              OR SUM(CASE WHEN treat = 0 THEN 1 ELSE 0 END) = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE {stable_sum_sql("CASE WHEN treat = 1 THEN post_purchase ELSE 0.0 END", scale=6)}
                 / SUM(CASE WHEN treat = 1 THEN 1 ELSE 0 END)
               - {stable_sum_sql("CASE WHEN treat = 0 THEN post_purchase ELSE 0.0 END", scale=6)}
                 / SUM(CASE WHEN treat = 0 THEN 1 ELSE 0 END) END AS uplift
FROM ranked
GROUP BY decile
ORDER BY decile
""",
)
def q_uplift_by_decile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per pre-engagement decile: treated/control user counts, mean
    post-period purchase value per arm, and the uplift. 10 rows; one
    user-keyed agg, a distributed global row number + exact NTILE
    arithmetic (operators/distrank — no single-partition ntile window
    over the grows-with-users table), one decile agg."""
    ev = load_table(spark, sf_dir, "events")
    cut = f"TIMESTAMP '{_DID_CUTOVER}'"
    per_user = ev.groupBy("user_id").agg(
        F.expr(f"user_id % 2").alias("treat"),
        stable_sum(F.expr(f"CASE WHEN ts < {cut} THEN value ELSE 0.0 END"), scale=6).alias("pre_value"),
        stable_sum(
            F.expr(f"CASE WHEN ts >= {cut} AND event_type = 'purchase' THEN value ELSE 0.0 END"),
            scale=6,
        ).alias("post_purchase"),
        F.expr(
            f"CAST(SUM(CASE WHEN ts >= {cut} AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("post_n"),
    )
    n_total = per_user.agg(F.count(F.lit(1)).cast("bigint").alias("_n_total"))
    ranked = (
        global_row_number(per_user, ["pre_value", "user_id"], out="_rn")
        .crossJoin(F.broadcast(n_total))
        .withColumn("decile", ntile_from_rn(F.col("_rn"), F.col("_n_total"), 10))
    )
    t = F.col("treat") == 1
    n_t = F.sum(F.when(t, 1).otherwise(0))
    n_c = F.sum(F.when(~t, 1).otherwise(0))
    s_t = stable_sum(F.when(t, F.col("post_purchase")).otherwise(0.0), scale=6)
    s_c = stable_sum(F.when(~t, F.col("post_purchase")).otherwise(0.0), scale=6)
    return (
        ranked.groupBy("decile")
        .agg(
            n_t.cast("bigint").alias("n_treat"),
            n_c.cast("bigint").alias("n_ctrl"),
            F.when(n_t == 0, F.lit(0.0)).otherwise(s_t / n_t).alias("mean_treat"),
            F.when(n_c == 0, F.lit(0.0)).otherwise(s_c / n_c).alias("mean_ctrl"),
            F.when((n_t == 0) | (n_c == 0), F.lit(0.0))
            .otherwise(s_t / n_t - s_c / n_c)
            .alias("uplift"),
        )
        .orderBy("decile")
    )


# --- Trimmed / winsorized means -------------------------------------------
# Robust location estimates per order priority: drop (trim) or clamp
# (winsorize) the extreme 5% per tail. Exactness: ranks are row_number
# over (price, orderkey) — a total order; the 5% cut k = floor(n/20)
# is integer-only arithmetic ((n - n%20)/20 — exact division, so the
# int/int -> double dialect difference can't bite); tail boundary
# values are the ranked rows at k+1 and n-k picked by a windowed MAX
# over a single non-null; means ride the decimal transport.


@query(
    "trimmed_winsor_price_stats",
    oracle=f"""
WITH ranked AS (
    SELECT o_orderpriority AS priority, o_totalprice AS v,
           row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS rn,
           COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
    FROM orders
),
cut AS (SELECT *, CAST((n - n % 20) / 20 AS BIGINT) AS k FROM ranked),
bounded AS (
    SELECT *,
           MAX(CASE WHEN rn = k + 1 THEN v END) OVER (PARTITION BY priority) AS lo_v,
           MAX(CASE WHEN rn = n - k THEN v END) OVER (PARTITION BY priority) AS hi_v
    FROM cut
)
SELECT priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {stable_sum_sql("v", scale=2)} / COUNT(*) AS mean_price,
       {stable_sum_sql("CASE WHEN rn > k AND rn <= n - k THEN v ELSE 0.0 END", scale=2)}
         / SUM(CASE WHEN rn > k AND rn <= n - k THEN 1 ELSE 0 END) AS trimmed_mean,
       {stable_sum_sql("CASE WHEN rn <= k THEN lo_v WHEN rn > n - k THEN hi_v ELSE v END", scale=2)}
         / COUNT(*) AS winsor_mean
FROM bounded
GROUP BY priority
ORDER BY priority
""",
)
def q_trimmed_winsor_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order priority: plain, 5%-trimmed, and 5%-winsorized mean
    price — the outlier-robust location battery. One rank shuffle on
    the group key; the boundary windows reuse the same partitioning."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").alias("v"),
        "o_orderkey",
    )
    wp = Window.partitionBy("priority")
    ranked = (
        orders.withColumn("rn", F.row_number().over(wp.orderBy("v", "o_orderkey")))
        .withColumn("n", F.count(F.lit(1)).over(wp))
        .withColumn("k", F.expr("CAST((n - n % 20) / 20 AS BIGINT)"))
    )
    bounded = ranked.withColumn(
        "lo_v", F.max(F.when(F.col("rn") == F.col("k") + 1, F.col("v"))).over(wp)
    ).withColumn(
        "hi_v", F.max(F.when(F.col("rn") == F.col("n") - F.col("k"), F.col("v"))).over(wp)
    )
    kept = (F.col("rn") > F.col("k")) & (F.col("rn") <= F.col("n") - F.col("k"))
    wins = (
        F.when(F.col("rn") <= F.col("k"), F.col("lo_v"))
        .when(F.col("rn") > F.col("n") - F.col("k"), F.col("hi_v"))
        .otherwise(F.col("v"))
    )
    return (
        bounded.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            (stable_sum("v", scale=2) / F.count(F.lit(1))).alias("mean_price"),
            (
                stable_sum(F.when(kept, F.col("v")).otherwise(0.0), scale=2)
                / F.sum(F.when(kept, 1).otherwise(0))
            ).alias("trimmed_mean"),
            (stable_sum(wins, scale=2) / F.count(F.lit(1))).alias("winsor_mean"),
        )
        .orderBy("priority")
    )


@query(
    "nelson_aalen_customers",
    oracle=f"""
WITH spans AS (
    SELECT o_custkey,
           date_diff('day', MIN(o_orderdate), MAX(o_orderdate)) AS t,
           CASE WHEN MAX(o_orderdate) < TIMESTAMP '{_KM_CUTOFF}' THEN 1 ELSE 0 END AS event
    FROM orders GROUP BY o_custkey
),
by_t AS (
    SELECT t, CAST(COUNT(*) AS BIGINT) AS c, CAST(SUM(event) AS BIGINT) AS d
    FROM spans GROUP BY t
),
risk AS (
    SELECT t, c, d,
           (SELECT COUNT(*) FROM spans)
             - COALESCE(SUM(c) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_at_risk
    FROM by_t
),
na AS (
    SELECT t, n_at_risk, d,
           SUM(CAST(round(CAST(d AS DOUBLE) / n_at_risk, 6) AS DECIMAL(18,6)))
             OVER (ORDER BY t) AS h,
           SUM(CAST(round(CAST(d AS DOUBLE) / (CAST(n_at_risk AS DOUBLE) * n_at_risk), 9)
                    AS DECIMAL(18,9)))
             OVER (ORDER BY t) AS hv
    FROM risk
    WHERE d > 0
)
SELECT t AS duration_days, CAST(n_at_risk AS BIGINT) AS n_at_risk, d AS n_events,
       CAST(h AS DOUBLE) AS cum_hazard,
       CAST(hv AS DOUBLE) AS cum_hazard_var
FROM na
""",
)
def q_nelson_aalen_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard over the same censored customer
    spans as kaplan_meier_customers: H(t) = sum of d/n increments with
    the KM family's quantized-increment transport (each d/n rounds to
    6 dp, the variance increments d/n² to 9 dp, cumulated as exact
    DECIMAL sums — order-free where raw double accumulation is not).
    Unlike KM, d = n times are fine (no log), only d = 0 rows drop.
    Same plan: fact collapses to customer grain, then everything runs
    on the tiny duration table."""
    orders = load_table(spark, sf_dir, "orders")
    spans = orders.groupBy("o_custkey").agg(
        F.datediff(F.max("o_orderdate"), F.min("o_orderdate")).alias("t"),
        F.when(F.max("o_orderdate") < F.lit(_KM_CUTOFF), 1).otherwise(0).alias("event"),
    )
    by_t = spans.groupBy("t").agg(
        F.count(F.lit(1)).alias("c"), F.sum("event").cast("long").alias("d")
    )
    total = spans.agg(F.count(F.lit(1)).alias("n_total"))
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)  # distinct-duration grain, calendar-bounded
    risk = (
        by_t.crossJoin(F.broadcast(total))
        .withColumn(
            "n_at_risk",
            F.col("n_total") - F.coalesce(F.sum("c").over(w_prev), F.lit(0)),
        )
        .filter(F.col("d") > 0)
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)  # distinct-duration grain, calendar-bounded
    h_inc = F.round(F.col("d").cast("double") / F.col("n_at_risk"), 6).cast("decimal(18,6)")
    hv_inc = F.round(
        F.col("d").cast("double") / (F.col("n_at_risk").cast("double") * F.col("n_at_risk")), 9
    ).cast("decimal(18,9)")
    return (
        risk.withColumn("h", F.sum(h_inc).over(w_cum))
        .withColumn("hv", F.sum(hv_inc).over(w_cum))
        .select(
            F.col("t").alias("duration_days"),
            F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
            F.col("d").alias("n_events"),
            F.col("h").cast("double").alias("cum_hazard"),
            F.col("hv").cast("double").alias("cum_hazard_var"),
        )
    )


# --- Revenue concentration: Lorenz deciles, Gini, HHI ----------------------
# Exactness: customer spends ride the decimal transport; the Gini uses
# the rank formulation G = 2*sum(r_i*x_i)/(n*sum(x)) - (n+1)/n with
# integer ranks times decimal spends (exact products, exact sums, one
# terminal double combination); HHI quantizes each squared share to
# 12 dp before the order-free decimal sum. Ranks are a total order
# (spend, custkey).


@query(
    "revenue_concentration_customers",
    oracle=f"""
WITH spend AS (
    SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
    FROM orders GROUP BY o_custkey
),
ranked AS (
    SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS r,
           COUNT(*) OVER () AS n,
           SUM(x) OVER () AS tot
    FROM spend
),
gini AS (
    -- STRING-hop decimal->double (dec_to_double_sql rationale): rx's
    -- unscaled value passes 2^53 at sf10 (r*x sums to ~1.5e18 at
    -- scale 2), where DuckDB's direct CAST double-rounds 1 ulp off
    -- Spark — the sixth-tier sweep caught the flip in gini
    SELECT MAX(n) AS n,
           CAST(CAST(MAX(tot) AS VARCHAR) AS DOUBLE) AS tot,
           CAST(CAST(SUM(r * x) AS VARCHAR) AS DOUBLE) AS rx,
           {stable_sum_sql("round((CAST(x AS DOUBLE) / CAST(CAST(tot AS VARCHAR) AS DOUBLE)) * (CAST(x AS DOUBLE) / CAST(CAST(tot AS VARCHAR) AS DOUBLE)), 12)", scale=12, precision=28)} AS hhi
    FROM ranked
),
deciles AS (
    SELECT CAST(ntile(10) OVER (ORDER BY x, r) AS INT) AS decile, x FROM ranked
),
lorenz AS (
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS decile_spend
    FROM deciles GROUP BY decile
)
SELECT l.decile, l.n_customers, l.decile_spend,
       l.decile_spend / g.tot AS spend_share,
       2.0 * g.rx / (g.n * g.tot) - (g.n + 1.0) / g.n AS gini,
       g.hhi AS hhi
FROM lorenz l CROSS JOIN gini g
ORDER BY l.decile
""",
)
def q_revenue_concentration_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer revenue concentration: per spend decile the customer
    count, spend, and share, with the corpus-level Gini coefficient
    and Herfindahl index repeated alongside (one 1-row broadcast). The
    fact collapses to customer grain first; the rank is a distributed
    global row number (operators/distrank) and n/tot ride a 1-row
    broadcast — no single-partition window over the customer table."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x")
    )
    scal = spend.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("tot"),
    )
    ranked = (
        global_row_number(spend, ["x", "o_custkey"], out="r")
        .crossJoin(F.broadcast(scal))
        .select("x", "r", "n", "tot")
    )
    gini = ranked.agg(
        F.max("n").alias("n"),
        F.max("tot").cast("double").alias("tot"),
        F.sum(F.col("r") * F.col("x")).cast("double").alias("rx"),
        F.sum(
            F.round(
                (F.col("x").cast("double") / F.col("tot").cast("double"))
                * (F.col("x").cast("double") / F.col("tot").cast("double")),
                12,
            ).cast("decimal(28,12)")
        )
        .cast("double")
        .alias("hhi"),
    )
    deciles = ranked.select(
        ntile_from_rn(F.col("r"), F.col("n"), 10).cast("int").alias("decile"), "x"
    )
    lorenz = deciles.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("x").cast("double").alias("decile_spend"),
    )
    g = F.broadcast(gini)
    return (
        lorenz.crossJoin(g)
        .select(
            "decile",
            "n_customers",
            "decile_spend",
            (F.col("decile_spend") / F.col("tot")).alias("spend_share"),
            (
                F.lit(2.0) * F.col("rx") / (F.col("n") * F.col("tot"))
                - (F.col("n") + F.lit(1.0)) / F.col("n")
            ).alias("gini"),
            F.col("hhi").alias("hhi"),
        )
        .orderBy("decile")
    )


# --- Quantile normalization -------------------------------------------------
# The ML-prep distribution aligner: map each market segment's customer
# spend distribution onto the POOLED spend distribution by rank, so
# downstream models see segment-free marginals. Exactness: ranks are
# total orders; the nearest-rank target position is pure integer
# arithmetic p = max(1, floor(r_g * N / n_g)) via the modulo-exact
# division; the mapped value comes from an equi-join on that position.
# Scale: runs on the CUSTOMER-grain table (dim-sized) — at fact scale
# the same mapping runs on a fixed-width histogram instead of exact
# ranks (the documented approximation path).


@query(
    "quantile_normalize_spend",
    oracle=f"""
WITH spend AS (
    SELECT c.c_mktsegment AS segment, o.o_custkey AS ck,
           CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS v
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment, o.o_custkey
),
pooled AS (
    SELECT v, row_number() OVER (ORDER BY v, ck) AS pr FROM spend
),
grouped AS (
    SELECT segment, ck, v,
           row_number() OVER (PARTITION BY segment ORDER BY v, ck) AS r,
           COUNT(*) OVER (PARTITION BY segment) AS ng,
           COUNT(*) OVER () AS n
    FROM spend
),
mapped AS (
    SELECT g.segment, g.v,
           p.v AS nv
    FROM grouped g
    JOIN pooled p
      ON p.pr = GREATEST(1, CAST((g.r * g.n - (g.r * g.n) % g.ng) / g.ng AS BIGINT))
)
SELECT segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       {stable_sum_sql("v", scale=2)} / COUNT(*) AS mean_spend,
       {stable_sum_sql("nv", scale=2)} / COUNT(*) AS mean_normalized
FROM mapped
GROUP BY segment
ORDER BY segment
""",
)
def q_quantile_normalize_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize customer spend across market segments: per
    segment the raw mean and the mean after mapping each customer onto
    the pooled distribution's value at the equivalent rank. Segment
    means differ before, converge after — the aligner working.

    Scale: the segment domain is dim-bounded (collected control-plane
    from the customer dim), so ONE distributed prefix pass
    (operators/distrank) carries the pooled row number AND every
    per-segment row number as indicator prefixes — no single-partition
    pooled window, and no per-segment window whose 5 partitions each
    hold a fifth of all customers."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    spend = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"), F.col("o_custkey").alias("ck"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("v"))
    )
    segs = sorted(
        r[0]
        for r in cust.select("c_mktsegment").distinct().collect()
        if r[0] is not None
    )
    accs: dict = {"pr": F.lit(1).cast("bigint")}
    for i, s in enumerate(segs):
        accs[f"_r{i}"] = (
            F.when(F.col("segment") == s, 1).otherwise(0).cast("bigint")
        )
    pref = ordered_prefix(spend, ["v", "ck"], accs)
    pooled = pref.select("v", "pr")
    r_expr = F.lit(None).cast("bigint")
    for i, s in enumerate(segs):
        r_expr = F.when(F.col("segment") == s, F.col(f"_r{i}")).otherwise(r_expr)
    seg_counts = spend.groupBy("segment").agg(F.count(F.lit(1)).alias("ng"))
    n_total = spend.agg(F.count(F.lit(1)).alias("n"))
    grouped = (
        pref.withColumn("r", r_expr)
        .drop("pr", *[f"_r{i}" for i in range(len(segs))])
        .join(F.broadcast(seg_counts), "segment")
        .crossJoin(F.broadcast(n_total))
    )
    pos = F.greatest(
        F.lit(1).cast("bigint"),
        F.expr("CAST((r * n - (r * n) % ng) / ng AS BIGINT)"),
    )
    mapped = grouped.withColumn("pos", pos).join(
        pooled.withColumnRenamed("v", "nv"), F.col("pos") == F.col("pr")
    )
    return (
        mapped.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            (stable_sum("v", scale=2) / F.count(F.lit(1))).alias("mean_spend"),
            (stable_sum("nv", scale=2) / F.count(F.lit(1))).alias("mean_normalized"),
        )
        .orderBy("segment")
    )


# --- Nonparametric two-sample tests ----------------------------------------
# KS and Mann-Whitney over the parity arms, both EXACT until one
# terminal op: the KS statistic is a max over integer CDF gaps
# (max |n2*cum1 - n1*cum2| / (n1*n2) — kept as an integer numerator),
# and the U statistic is an integer rank sum with midranks handled by
# average-of-integer-bounds (exact .5 fractions are dyadic). The only
# irrational step is the final sqrt (IEEE correctly rounded).


@query(
    "ks_test_events",
    oracle="""
WITH s AS (
    SELECT value AS v, CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS arm,
           event_id
    FROM events
),
n AS (
    SELECT CAST(SUM(arm) AS BIGINT) AS n1,
           CAST(SUM(1 - arm) AS BIGINT) AS n2
    FROM s
),
cum AS (
    SELECT v,
           SUM(arm) OVER (ORDER BY v, event_id) AS c1,
           SUM(1 - arm) OVER (ORDER BY v, event_id) AS c2
    FROM s
),
gap AS (
    SELECT MAX(abs(n.n2 * c.c1 - n.n1 * c.c2)) AS num, MAX(n.n1) AS n1, MAX(n.n2) AS n2
    FROM cum c CROSS JOIN n
)
SELECT n1, n2,
       CAST(num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS ks_d,
       sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
         * (CAST(num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) AS ks_scaled
FROM gap
""",
)
def q_ks_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov on event value between the parity
    arms: D as an exact integer-numerator max over the merged order,
    plus the sqrt(n1*n2/(n1+n2))-scaled statistic. 1 row."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("value").alias("v"),
        F.when(F.col("user_id") % 2 == 1, 1).otherwise(0).alias("arm"),
        "event_id",
    )
    n = ev.agg(
        F.sum("arm").cast("bigint").alias("n1"),
        F.sum(F.lit(1) - F.col("arm")).cast("bigint").alias("n2"),
    )
    # Cumulative arm counts over the merged (v, event_id) order via the
    # distributed two-phase prefix sum (operators/distrank) — the
    # event_id tiebreaker makes intra-tie positions significant, so
    # this stays row-grain, but no longer funnels all events into a
    # single-partition window.
    cum = ordered_prefix(
        ev, ["v", "event_id"], {"c1": F.col("arm"), "c2": F.lit(1) - F.col("arm")}
    ).select("c1", "c2")
    gap = cum.crossJoin(F.broadcast(n)).agg(
        F.max(F.abs(F.col("n2") * F.col("c1") - F.col("n1") * F.col("c2"))).alias("num"),
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
    )
    d = F.col("num").cast("double") / (F.col("n1").cast("double") * F.col("n2").cast("double"))
    scale = F.sqrt(
        F.col("n1").cast("double") * F.col("n2").cast("double")
        / (F.col("n1").cast("double") + F.col("n2").cast("double"))
    )
    return gap.select("n1", "n2", d.alias("ks_d"), (scale * d).alias("ks_scaled"))


@query(
    "mann_whitney_events",
    oracle="""
WITH s AS (
    SELECT value AS v, CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS arm
    FROM events
),
r AS (
    SELECT arm,
           rank() OVER (ORDER BY v) AS lo,
           CAST(COUNT(*) OVER (PARTITION BY v) AS BIGINT) AS t
    FROM s
),
-- midrank = lo + (t-1)/2; keep 2*midrank integer for exactness
sums AS (
    SELECT CAST(SUM(CASE WHEN arm = 1 THEN 2 * lo + t - 1 ELSE 0 END) AS BIGINT) AS two_r1,
           CAST(SUM(arm) AS BIGINT) AS n1,
           CAST(SUM(1 - arm) AS BIGINT) AS n2
    FROM r
)
SELECT n1, n2,
       (CAST(two_r1 AS DOUBLE) / 2.0) - CAST(n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
       (CAST(two_r1 AS DOUBLE) / 2.0 - CAST(n1 * (n1 + 1) AS DOUBLE) / 2.0
         - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
       / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1.0) / 12.0)
         AS z_stat
FROM sums
""",
)
def q_mann_whitney_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) on event value between the parity
    arms: midranks kept as the integer 2*midrank = 2*rank + ties - 1
    so the rank sum is exact; U and the normal-approximation z (no tie
    correction — values are effectively continuous) each take one
    terminal double step. 1 row.

    Scale: the fact collapses to VALUE grain first (per distinct value:
    tie count t and arm-1 count s1), then lo = exclusive prefix of t
    over the value order rides the distributed two-phase prefix sum
    (operators/distrank.ordered_prefix) — no single-partition rank
    window over raw events; each arm-1 row's 2*lo + t - 1 folds in as
    s1 * (2*lo + t - 1), the identical integer."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("value").alias("v"),
        F.when(F.col("user_id") % 2 == 1, 1).otherwise(0).alias("arm"),
    )
    vg = ev.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.sum("arm").cast("bigint").alias("s1"),
    )
    vg = ordered_prefix(vg, ["v"], {"cum_t": F.col("t")})
    lo = F.col("cum_t") - F.col("t") + 1
    sums = vg.agg(
        F.sum(F.col("s1") * (2 * lo + F.col("t") - 1)).cast("bigint").alias("two_r1"),
        F.sum("s1").cast("bigint").alias("n1"),
        F.sum(F.col("t") - F.col("s1")).cast("bigint").alias("n2"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    u1 = F.col("two_r1").cast("double") / F.lit(2.0) - (
        F.col("n1") * (F.col("n1") + 1)
    ).cast("double") / F.lit(2.0)
    z = (u1 - n1d * n2d / F.lit(2.0)) / F.sqrt(
        n1d * n2d * (n1d + n2d + F.lit(1.0)) / F.lit(12.0)
    )
    return sums.select("n1", "n2", u1.alias("u1"), z.alias("z_stat"))


# The five event types, pinned so the Kruskal-Wallis rollup can fold
# per-group terms in a FIXED expression order (the old 5-row SUM was
# order-dependent — Spark and DuckDB summed the same 5 doubles in
# different orders and H diverged at 1e-12 relative; exact-sweep r10).
_KW_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _kw_group_sql() -> str:
    parts = []
    for i, t in enumerate(_KW_EVENT_TYPES, 1):
        parts.append(
            f"CAST(COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT) AS n{i},\n"
            f"       CAST(SUM(CASE WHEN event_type = '{t}'"
            f" THEN 2 * lo + t - 1 END) AS BIGINT) AS tr{i}"
        )
    return ",\n       ".join(parts)


_KW_TERM_SQL = " + ".join(
    f"(CASE WHEN n{i} > 0 THEN (CAST(tr{i} AS DOUBLE) / 2.0)"
    f" * (CAST(tr{i} AS DOUBLE) / 2.0) / CAST(n{i} AS DOUBLE) ELSE 0.0 END)"
    for i in range(1, 6)
)
_KW_K_SQL = " + ".join(f"(CASE WHEN n{i} > 0 THEN 1 ELSE 0 END)" for i in range(1, 6))


@query(
    "kruskal_wallis_events",
    oracle=f"""
WITH r AS (
    SELECT event_type,
           rank() OVER (ORDER BY value) AS lo,
           CAST(COUNT(*) OVER (PARTITION BY value) AS BIGINT) AS t
    FROM events
),
g AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           {_kw_group_sql()}
    FROM r
)
SELECT n,
       CAST({_KW_K_SQL} AS BIGINT) AS k_groups,
       CASE WHEN n > 0 THEN
         12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
           * ({_KW_TERM_SQL})
           - 3.0 * (CAST(n AS DOUBLE) + 1.0)
       ELSE NULL END AS h_stat
FROM g
""",
)
def q_kruskal_wallis_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis rank ANOVA across the five event types on event
    value: midranks via the integer 2*rank + ties - 1 transport, group
    rank sums exact BIGINTs. The event-type domain is closed (five
    values), so per-group (n_i, 2*ranksum_i) pivot into conditional
    aggregates on ONE row and H folds in FIXED left-assoc order — a
    pure IEEE expression tree both engines evaluate bit-identically
    (r10: the previous 5-row SUM was order-dependent and flipped at
    1e-12). 1 row.

    Scale: collapses to VALUE grain first (per distinct value: tie
    count t and one count per event type), then lo = distributed
    prefix of t over the value order (operators/distrank) — the same
    shape as mann_whitney_events, no single-partition rank window
    over raw events; per-group rank sums fold in as cnt_i*(2*lo+t-1)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    vg_aggs = [F.count(F.lit(1)).cast("bigint").alias("t")]
    for i, t in enumerate(_KW_EVENT_TYPES, 1):
        vg_aggs.append(
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("bigint")
            .alias(f"c{i}")
        )
    vg = ev.groupBy("value").agg(*vg_aggs)
    vg = ordered_prefix(vg, ["value"], {"cum_t": F.col("t")})
    lo = F.col("cum_t") - F.col("t") + 1
    term_expr = 2 * lo + F.col("t") - 1
    aggs = [F.coalesce(F.sum("t"), F.lit(0)).cast("bigint").alias("n")]
    for i in range(1, len(_KW_EVENT_TYPES) + 1):
        aggs.append(
            F.coalesce(F.sum(f"c{i}"), F.lit(0)).cast("bigint").alias(f"n{i}")
        )
        aggs.append(
            F.sum(F.col(f"c{i}") * term_expr).cast("bigint").alias(f"tr{i}")
        )
    g = vg.agg(*aggs)

    def term(i: int):
        rs = F.col(f"tr{i}").cast("double") / F.lit(2.0)
        return F.when(
            F.col(f"n{i}") > 0, rs * rs / F.col(f"n{i}").cast("double")
        ).otherwise(F.lit(0.0))

    terms = term(1) + term(2) + term(3) + term(4) + term(5)
    k_expr = sum(
        (F.when(F.col(f"n{i}") > 0, F.lit(1)).otherwise(F.lit(0)) for i in range(2, 6)),
        F.when(F.col("n1") > 0, F.lit(1)).otherwise(F.lit(0)),
    ).cast("bigint")
    nd = F.col("n").cast("double")
    return g.select(
        "n",
        k_expr.alias("k_groups"),
        F.when(
            F.col("n") > 0,
            F.lit(12.0) / (nd * (nd + F.lit(1.0))) * terms
            - F.lit(3.0) * (nd + F.lit(1.0)),
        ).alias("h_stat"),
    )


# --- Empirical-Bayes rate shrinkage -----------------------------------------
# James-Stein-style beta-binomial shrinkage of per-customer urgent-order
# rates toward the corpus prior: method-of-moments (mu, var) of the raw
# rates fit Beta(alpha, beta), and every customer's rate shrinks to
# (k + alpha) / (n + alpha + beta). Exactness: k and n are integers;
# raw rates are single divisions; mu and var come from 12-dp-quantized
# decimal sums of those rates (order-free); alpha/beta/shrunk are fixed
# chains of IEEE ops on identical operands. Small-n customers shrink
# hard toward the prior, large-n customers barely move — the test
# asserts exactly that monotonicity.

_EB_MOMENTS = """
per_cust AS (
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS k,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS raw_rate
    FROM orders GROUP BY o_custkey
),
mom AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(CAST(SUM(CAST(round(raw_rate, 12) AS DECIMAL(28,12))) AS STRING) AS DOUBLE) / COUNT(*) AS mu,
           CAST(CAST(SUM(CAST(round(raw_rate * raw_rate, 12) AS DECIMAL(28,12))) AS STRING) AS DOUBLE) / COUNT(*)
             - (CAST(CAST(SUM(CAST(round(raw_rate, 12) AS DECIMAL(28,12))) AS STRING) AS DOUBLE) / COUNT(*))
             * (CAST(CAST(SUM(CAST(round(raw_rate, 12) AS DECIMAL(28,12))) AS STRING) AS DOUBLE) / COUNT(*)) AS var
    FROM per_cust
),
prior AS (
    SELECT n_cust, mu, var,
           mu * (mu * (1.0 - mu) / var - 1.0) AS alpha,
           (1.0 - mu) * (mu * (1.0 - mu) / var - 1.0) AS beta
    FROM mom
)
"""


@query(
    "eb_shrunk_urgent_rates",
    oracle=f"""
WITH {_EB_MOMENTS}
SELECT o_custkey, n, k, raw_rate,
       (CAST(k AS DOUBLE) + alpha) / (CAST(n AS DOUBLE) + alpha + beta) AS shrunk_rate,
       alpha, beta
FROM per_cust CROSS JOIN prior
ORDER BY o_custkey
""",
)
def q_eb_shrunk_urgent_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per customer: urgent-order count, raw rate, and the
    beta-binomial empirically-shrunk rate (method-of-moments prior fit
    on the rate distribution, broadcast as one row)."""
    orders = load_table(spark, sf_dir, "orders")
    urgent = F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(urgent).cast("bigint").alias("k"),
        (F.sum(urgent).cast("double") / F.count(F.lit(1))).alias("raw_rate"),
    )
    q12 = lambda c: F.round(c, 12).cast("decimal(28,12)")  # noqa: E731
    mom = per_cust.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
        (F.sum(q12(F.col("raw_rate"))).cast("double") / F.count(F.lit(1))).alias("mu"),
        (
            F.sum(q12(F.col("raw_rate") * F.col("raw_rate"))).cast("double") / F.count(F.lit(1))
            - (F.sum(q12(F.col("raw_rate"))).cast("double") / F.count(F.lit(1)))
            * (F.sum(q12(F.col("raw_rate"))).cast("double") / F.count(F.lit(1)))
        ).alias("var"),
    )
    scale = F.col("mu") * (F.lit(1.0) - F.col("mu")) / F.col("var") - F.lit(1.0)
    prior = mom.select(
        "n_cust",
        "mu",
        "var",
        (F.col("mu") * scale).alias("alpha"),
        ((F.lit(1.0) - F.col("mu")) * scale).alias("beta"),
    )
    return (
        per_cust.crossJoin(F.broadcast(prior))
        .select(
            "o_custkey",
            "n",
            "k",
            "raw_rate",
            (
                (F.col("k").cast("double") + F.col("alpha"))
                / (F.col("n").cast("double") + F.col("alpha") + F.col("beta"))
            ).alias("shrunk_rate"),
            "alpha",
            "beta",
        )
        .orderBy("o_custkey")
    )


# --- Spearman rank correlation ----------------------------------------------


@query(
    "spearman_quantity_price",
    oracle="""
WITH r AS (
    SELECT
      2 * rank() OVER (ORDER BY l_quantity)
        + CAST(COUNT(*) OVER (PARTITION BY l_quantity) AS BIGINT) - 1 AS ax,
      2 * rank() OVER (ORDER BY l_extendedprice)
        + CAST(COUNT(*) OVER (PARTITION BY l_extendedprice) AS BIGINT) - 1 AS ay
    FROM lineitem
),
s AS (
    SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
           CAST(SUM(CAST(ax AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
           CAST(SUM(CAST(ay AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
           CAST(SUM(CAST(ax * ay AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
           CAST(SUM(CAST(ax * ax AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
           CAST(SUM(CAST(ay * ay AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
    FROM r
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(CAST(n * sxy - sx * sy AS STRING) AS DOUBLE)
         / sqrt(CAST(CAST(n * sxx - sx * sx AS STRING) AS DOUBLE)
                * CAST(CAST(n * syy - sy * sy AS STRING) AS DOUBLE))
         AS rho_spearman
FROM s
""",
)
def q_spearman_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between l_quantity and
    l_extendedprice: tie-aware midranks carried as the INTEGER
    2*midrank = 2*rank + ties - 1 (the Mann-Whitney transport, so
    every rank moment is exact), then Pearson on the doubled midranks
    — the factor of 2 cancels in rho. All five sums ride
    DECIMAL(38,0) (bigint SUM would overflow past sf1: sum(ax*ay) ~
    n^3), the centered numerator/denominators stay decimal-exact, and
    the ONLY floating steps are the final two casts, one multiply,
    sqrt, and divide — identical operands in both engines.

    Scale: each column's midrank map is built at VALUE grain (tie
    count per distinct value, lo via the distributed prefix sum —
    operators/distrank, no single-partition rank window over the
    FACT), then hash-joined back onto lineitem by value; the fact is
    never globally sorted. 1 row."""
    li = load_table(spark, sf_dir, "lineitem").select("l_quantity", "l_extendedprice")
    dec = "decimal(38,0)"

    def rank_map(col: str, out: str) -> DataFrame:
        vg = li.groupBy(col).agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        vg = ordered_prefix(vg, [col], {"cum_t": F.col("t")})
        # 2*rank + ties - 1 = 2*(cum_t - t + 1) + t - 1 = 2*cum_t - t + 1
        return vg.select(
            F.col(col).alias(f"_k_{out}"),
            (2 * F.col("cum_t") - F.col("t") + 1).alias(out),
        )

    mx = rank_map("l_quantity", "ax")
    my = rank_map("l_extendedprice", "ay")
    r = (
        li.join(mx, F.col("l_quantity").eqNullSafe(F.col("_k_ax")))
        .join(my, F.col("l_extendedprice").eqNullSafe(F.col("_k_ay")))
        .select("ax", "ay")
    )
    s = r.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("ax").cast(dec)).cast(dec).alias("sx"),
        F.sum(F.col("ay").cast(dec)).cast(dec).alias("sy"),
        F.sum((F.col("ax") * F.col("ay")).cast(dec)).cast(dec).alias("sxy"),
        F.sum((F.col("ax") * F.col("ax")).cast(dec)).cast(dec).alias("sxx"),
        F.sum((F.col("ay") * F.col("ay")).cast(dec)).cast(dec).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    den_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        (num / F.sqrt(den_x * den_y)).alias("rho_spearman"),
    )


# --- One-way ANOVA ----------------------------------------------------------


# The five TPC-H order priorities, pinned so the ANOVA rollup can pivot
# per-group moments into ONE row and fold them in a FIXED expression order.
_ANOVA_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _anova_group_moments_sql() -> str:
    """Conditional-aggregate SQL for per-priority (n_i, s_i) pairs —
    decimal-exact sums cast to double only once."""
    parts = []
    for i, p in enumerate(_ANOVA_PRIORITIES, 1):
        parts.append(
            f"CAST(COUNT(CASE WHEN o_orderpriority = '{p}' THEN 1 END) AS DOUBLE) AS n{i},\n"
            f"       CAST(CAST(SUM(CASE WHEN o_orderpriority = '{p}'"
            f" THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS STRING) AS DOUBLE) AS s{i}"
        )
    return ",\n       ".join(parts)


_ANOVA_SB_SQL = " + ".join(
    f"(CASE WHEN n{i} > 0 THEN s{i} * s{i} / n{i} ELSE 0.0 END)" for i in range(1, 6)
)
_ANOVA_K_SQL = " + ".join(f"(CASE WHEN n{i} > 0 THEN 1 ELSE 0 END)" for i in range(1, 6))


@query(
    "anova_price_by_priority",
    oracle=f"""
WITH a AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS s,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))
                    * CAST(o_totalprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS ssq,
           {_anova_group_moments_sql()}
    FROM orders
),
b AS (
    SELECT n, s, ssq,
           CAST({_ANOVA_K_SQL} AS BIGINT) AS k_groups,
           {_ANOVA_SB_SQL} AS sb
    FROM a
)
SELECT k_groups, n,
       sb - s * s / CAST(n AS DOUBLE) AS ss_between,
       ssq - sb AS ss_within,
       CASE WHEN k_groups > 1 AND CAST(n AS BIGINT) > k_groups AND ssq - sb > 0.0
            THEN ((sb - s * s / CAST(n AS DOUBLE)) / (CAST(k_groups AS DOUBLE) - 1.0))
                   / ((ssq - sb) / (CAST(n AS DOUBLE) - CAST(k_groups AS DOUBLE)))
            ELSE NULL END AS f_stat
FROM b
""",
)
def q_anova_price_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across the five order priorities on
    o_totalprice — the parametric sibling of kruskal_wallis_events.

    r10 rewrite (VERDICT r9 #3): the old rollup quantized s_g^2/n_g to
    6 dp, but at |s_g^2/n_g| ~ 3e13 the double ULP is ~0.004 — the grid
    sits BELOW ULP, so Spark's and DuckDB's round() legally disagree.
    No fixed decimal grid survives every SF, and Spark's 38-digit
    decimal cap can't hold s_g^2 exactly, so the cure is structural:
    the priority domain is closed (five TPC-H values), so ONE scan
    pivots per-group (n_i, s_i) into conditional aggregates on a single
    row — each s_i an exact decimal sum cast to double once — and
    sb = t1+t2+t3+t4+t5 folds in FIXED left-assoc order, a pure IEEE
    expression tree both engines evaluate bit-identically (neither
    reassociates float adds). SSB = sb - S^2/N, SSW = ssq - sb,
    F = (SSB/(k-1))/(SSW/(N-k)), CASE-guarded for degenerate tiers.
    At 100 TB this is still one scan + one 15-aggregate hash agg. 1 row."""
    o = load_table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    pd_ = F.col("o_totalprice").cast("decimal(12,2)")
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(pd_).cast("double").alias("s"),
        F.sum(pd_ * pd_).cast("double").alias("ssq"),
    ]
    for i, p in enumerate(_ANOVA_PRIORITIES, 1):
        cond = F.col("o_orderpriority") == p
        aggs.append(F.count(F.when(cond, F.lit(1))).cast("double").alias(f"n{i}"))
        aggs.append(F.sum(F.when(cond, pd_)).cast("double").alias(f"s{i}"))
    a = o.agg(*aggs)

    def term(i: int):
        return F.when(
            F.col(f"n{i}") > 0, F.col(f"s{i}") * F.col(f"s{i}") / F.col(f"n{i}")
        ).otherwise(F.lit(0.0))

    sb = term(1) + term(2) + term(3) + term(4) + term(5)
    k_expr = sum(
        (F.when(F.col(f"n{i}") > 0, F.lit(1)).otherwise(F.lit(0)) for i in range(2, 6)),
        F.when(F.col("n1") > 0, F.lit(1)).otherwise(F.lit(0)),
    ).cast("bigint")
    b = a.select("n", "s", "ssq", k_expr.alias("k_groups"), sb.alias("sb"))
    nd = F.col("n").cast("double")
    kd = F.col("k_groups").cast("double")
    ssb = F.col("sb") - F.col("s") * F.col("s") / nd
    ssw = F.col("ssq") - F.col("sb")
    return b.select(
        "k_groups",
        "n",
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        F.when(
            (F.col("k_groups") > 1) & (F.col("n") > F.col("k_groups")) & (ssw > 0.0),
            (ssb / (kd - F.lit(1.0))) / (ssw / (nd - kd)),
        ).alias("f_stat"),
    )


SRM_SEED = "srm-v1"


@query(
    "srm_check_events",
    oracle=f"""
WITH assign AS (
    SELECT DISTINCT user_id,
           {hash_bucket_sql('user_id', seed=SRM_SEED, n_buckets=2)} AS arm
    FROM events
),
counts AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(arm) AS BIGINT) AS n_treat,
           CAST(SUM(1 - arm) AS BIGINT) AS n_control
    FROM assign
)
SELECT n, n_treat, n_control,
       2.0 * ((CAST(n_treat AS DOUBLE) - CAST(n AS DOUBLE) / 2.0)
              * (CAST(n_treat AS DOUBLE) - CAST(n AS DOUBLE) / 2.0))
           / (CAST(n AS DOUBLE) / 2.0) AS chi2,
       CASE WHEN 2.0 * ((CAST(n_treat AS DOUBLE) - CAST(n AS DOUBLE) / 2.0)
              * (CAST(n_treat AS DOUBLE) - CAST(n AS DOUBLE) / 2.0))
           / (CAST(n AS DOUBLE) / 2.0) > 3.841 THEN 1 ELSE 0 END AS srm_flag
FROM counts
""",
)
def q_srm_check_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail — the first thing a trustworthy
    experimentation pipeline checks before reading ANY metric: md5-hash
    users into two arms at a designed 50/50 (the same deterministic
    randomization the split/sampling family uses), then the 1-df
    chi-square against the design ratio, flagged at the 95% critical
    value 3.841. A buggy exposure pipe (bots filtered from one arm,
    a crash in one variant) shows up here before it poisons the
    metrics. Unit of analysis is the USER (one distinct per user, not
    per event — SRM on exposure units, not traffic).

    Exactness: counts are integers; (n_treat - n/2) is a dyadic-exact
    double and the chi-square is a pinned multiply-divide chain —
    both engines write the identical expression. One distinct + one
    1-row agg; scales as a hash agg."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    assign = ev.distinct().select(
        hash_bucket(F.col("user_id"), seed=SRM_SEED, n_buckets=2).alias("arm")
    )
    counts = assign.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("arm").cast("bigint").alias("n_treat"),
        F.sum(F.lit(1) - F.col("arm")).cast("bigint").alias("n_control"),
    )
    d = F.col("n_treat").cast("double") - F.col("n").cast("double") / F.lit(2.0)
    chi2 = F.lit(2.0) * (d * d) / (F.col("n").cast("double") / F.lit(2.0))
    return counts.select(
        "n",
        "n_treat",
        "n_control",
        chi2.alias("chi2"),
        F.when(chi2 > F.lit(3.841), 1).otherwise(0).alias("srm_flag"),
    )


IPW_DECILES = 10
IPW_CLIP_LO = 0.05
IPW_CLIP_HI = 0.95


@query(
    "ipw_ate_events",
    oracle=f"""
WITH u AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS INT) AS t,
           CAST(CAST(CAST(SUM(CASE WHEN event_type = 'purchase'
                              THEN CAST(value AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END)
                     AS DECIMAL(18,6)) AS STRING) AS DOUBLE) AS y
    FROM events GROUP BY user_id
),
d AS (
    SELECT user_id, t, y,
           ntile({IPW_DECILES}) OVER (ORDER BY n_events, user_id) AS decile
    FROM u
),
p AS (
    SELECT decile,
           LEAST({IPW_CLIP_HI}, GREATEST({IPW_CLIP_LO},
               CAST(SUM(t) AS DOUBLE) / COUNT(*))) AS prop
    FROM d GROUP BY decile
),
w AS (
    SELECT d.t, d.y,
           CASE WHEN d.t = 1 THEN round(d.y / p.prop, 6)
                ELSE round(d.y / (1.0 - p.prop), 6) END AS wy
    FROM d JOIN p ON p.decile = d.decile
),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(t) AS BIGINT) AS n_treated,
           CAST(CAST(SUM(CASE WHEN t = 1 THEN CAST(wy AS DECIMAL(38,6)) END) AS STRING) AS DOUBLE) AS s1,
           CAST(CAST(SUM(CASE WHEN t = 0 THEN CAST(wy AS DECIMAL(38,6)) END) AS STRING) AS DOUBLE) AS s0,
           CAST(CAST(SUM(CASE WHEN t = 1 THEN CAST(y AS DECIMAL(38,6)) END) AS STRING) AS DOUBLE) AS y1,
           CAST(CAST(SUM(CASE WHEN t = 0 THEN CAST(y AS DECIMAL(38,6)) END) AS STRING) AS DOUBLE) AS y0
    FROM w
)
SELECT n_users, n_treated,
       y1 / CAST(n_treated AS DOUBLE)
         - y0 / CAST(n_users - n_treated AS DOUBLE) AS naive_diff,
       s1 / CAST(n_users AS DOUBLE) - s0 / CAST(n_users AS DOUBLE) AS ate_ipw
FROM agg
""",
)
def q_ipw_ate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted ATE of 'ever clicked' on per-user
    purchase value — the observational-causal estimator beside the
    randomized (A/B), panel (DiD), and heterogeneity (uplift) queries:
    stratify users into activity deciles (the confounder — heavy users
    click more AND buy more), estimate propensity as the decile's
    exact treated rate clipped to [{IPW_CLIP_LO}, {IPW_CLIP_HI}] (the
    standard positivity guard), weight outcomes by 1/p or 1/(1-p),
    and contrast with the naive difference-in-means the adjustment
    corrects. Counts and raw sums are exact; each weighted outcome
    rounds to 6 dp and sums as DECIMAL; the four terminal divisions
    are pinned. ntile ties break on user_id, so stratification is
    deterministic.

    Scale: one user-grain hash agg, a 10-row propensity table
    broadcast back, one more agg. Decile assignment is a distributed
    global row number + exact NTILE arithmetic (operators/distrank) —
    no single-partition window on the user grain."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("int")
        .alias("t"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.col("value").cast("decimal(18,6)"),
            ).otherwise(F.lit(0).cast("decimal(18,6)"))
        )
        .cast("decimal(18,6)")
        .cast("double")
        .alias("y"),
    )
    n_total = u.agg(F.count(F.lit(1)).cast("bigint").alias("_n_total"))
    d = (
        global_row_number(u, ["n_events", "user_id"], out="_rn")
        .crossJoin(F.broadcast(n_total))
        .select(
            "t",
            "y",
            ntile_from_rn(F.col("_rn"), F.col("_n_total"), IPW_DECILES).alias("decile"),
        )
    )
    p = d.groupBy("decile").agg(
        F.least(
            F.lit(IPW_CLIP_HI),
            F.greatest(
                F.lit(IPW_CLIP_LO),
                F.sum("t").cast("double") / F.count(F.lit(1)),
            ),
        ).alias("prop")
    )
    w = d.join(F.broadcast(p), "decile").select(
        "t",
        "y",
        F.when(F.col("t") == 1, F.round(F.col("y") / F.col("prop"), 6))
        .otherwise(F.round(F.col("y") / (F.lit(1.0) - F.col("prop")), 6))
        .alias("wy"),
    )
    agg = w.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("t").cast("bigint").alias("n_treated"),
        F.sum(F.when(F.col("t") == 1, F.col("wy").cast("decimal(38,6)")))
        .cast("double")
        .alias("s1"),
        F.sum(F.when(F.col("t") == 0, F.col("wy").cast("decimal(38,6)")))
        .cast("double")
        .alias("s0"),
        F.sum(F.when(F.col("t") == 1, F.col("y").cast("decimal(38,6)")))
        .cast("double")
        .alias("y1"),
        F.sum(F.when(F.col("t") == 0, F.col("y").cast("decimal(38,6)")))
        .cast("double")
        .alias("y0"),
    )
    nt = F.col("n_treated").cast("double")
    nc = (F.col("n_users") - F.col("n_treated")).cast("double")
    nu = F.col("n_users").cast("double")
    return agg.select(
        "n_users",
        "n_treated",
        (F.col("y1") / nt - F.col("y0") / nc).alias("naive_diff"),
        (F.col("s1") / nu - F.col("s0") / nu).alias("ate_ipw"),
    )


RDD_CUTOFF = 25  # running variable: l_quantity; treatment side: x >= 25
RDD_BANDWIDTH = 10


@query(
    "rdd_quantity_discount",
    oracle=f"""
WITH w AS (
    SELECT CAST(l_quantity AS BIGINT) - {RDD_CUTOFF} AS x,
           CAST(l_discount AS DECIMAL(18,6)) AS y,
           CASE WHEN l_quantity >= {RDD_CUTOFF} THEN 1 ELSE 0 END AS side
    FROM lineitem
    WHERE l_quantity >= {RDD_CUTOFF - RDD_BANDWIDTH}
      AND l_quantity < {RDD_CUTOFF + RDD_BANDWIDTH}
),
m AS (
    SELECT side,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(y) AS DOUBLE) AS sy,
           CAST(CAST(SUM(CAST(x AS DECIMAL(18,6)) * y) AS STRING) AS DOUBLE) AS sxy
    FROM w GROUP BY side
),
fit AS (
    SELECT side, n,
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
           (sy - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) AS limit_at_cutoff
    FROM m
)
SELECT l.n AS n_left, r.n AS n_right,
       l.slope AS slope_left, r.slope AS slope_right,
       l.limit_at_cutoff AS limit_left, r.limit_at_cutoff AS limit_right,
       r.limit_at_cutoff - l.limit_at_cutoff AS rd_estimate
FROM fit l, fit r
WHERE l.side = 0 AND r.side = 1
""",
)
def q_rdd_quantity_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression discontinuity at l_quantity = {RDD_CUTOFF}:
    local LINEAR fits on each side of the cutoff within a
    ±{RDD_BANDWIDTH}-unit bandwidth, RD estimate = difference of the
    two fits' limits AT the cutoff — the quasi-experimental estimator
    completing the causal suite (randomized A/B, panel DiD,
    observational IPW, heterogeneity uplift; this one identifies off a
    policy threshold). Local-linear, not local-mean, because a sloped
    outcome biases the naive two-means contrast at the boundary.

    Exactness: the running variable is centered INTEGER, so n/sx/sxx
    and the OLS denominator n*sxx - sx^2 are exact integers; y and xy
    ride the DECIMAL(18,6) transport; slope and limit are pinned
    double chains written identically in both engines. One scan with
    the bandwidth filter pushed to parquet, one 2-row hash agg."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") >= RDD_CUTOFF - RDD_BANDWIDTH)
        & (F.col("l_quantity") < RDD_CUTOFF + RDD_BANDWIDTH)
    )
    w = li.select(
        (F.col("l_quantity").cast("bigint") - RDD_CUTOFF).alias("x"),
        F.col("l_discount").cast("decimal(18,6)").alias("y"),
        F.when(F.col("l_quantity") >= RDD_CUTOFF, 1).otherwise(0).alias("side"),
    )
    m = w.groupBy("side").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x").cast("decimal(18,6)") * F.col("y")).cast("double").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    slope = (nd * F.col("sxy") - sxd * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    fit = m.select(
        "side",
        "n",
        slope.alias("slope"),
        ((F.col("sy") - slope * sxd) / nd).alias("limit_at_cutoff"),
    )
    l = fit.filter(F.col("side") == 0).select(
        F.col("n").alias("n_left"),
        F.col("slope").alias("slope_left"),
        F.col("limit_at_cutoff").alias("limit_left"),
    )
    r = fit.filter(F.col("side") == 1).select(
        F.col("n").alias("n_right"),
        F.col("slope").alias("slope_right"),
        F.col("limit_at_cutoff").alias("limit_right"),
    )
    return l.crossJoin(r).select(
        "n_left",
        "n_right",
        "slope_left",
        "slope_right",
        "limit_left",
        "limit_right",
        (F.col("limit_right") - F.col("limit_left")).alias("rd_estimate"),
    )


MCNEMAR_PRICE_CUT = 150_000.0


@query(
    "mcnemar_rules_orders",
    oracle=f"""
WITH w AS (
    SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
           CASE WHEN o_totalprice >= {MCNEMAR_PRICE_CUT} THEN 1 ELSE 0 END AS a,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS b
    FROM orders
),
d AS (
    SELECT CAST(SUM(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END) AS BIGINT) AS only_a,
           CAST(SUM(CASE WHEN a <> y AND b = y THEN 1 ELSE 0 END) AS BIGINT) AS only_b,
           CAST(SUM(CASE WHEN a = y AND b = y THEN 1 ELSE 0 END) AS BIGINT) AS both_right,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM w
)
SELECT n, both_right, only_a, only_b,
       CAST((only_a - only_b) * (only_a - only_b) AS DOUBLE)
         / CAST(only_a + only_b AS DOUBLE) AS chi2,
       CASE WHEN CAST((only_a - only_b) * (only_a - only_b) AS DOUBLE)
                 / CAST(only_a + only_b AS DOUBLE) > 3.841 THEN 1 ELSE 0 END AS differ_flag
FROM d
""",
)
def q_mcnemar_rules_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test between two classifiers ON THE SAME ROWS — the
    paired comparison that accuracy deltas get wrong (two models can
    share accuracy yet err on disjoint rows): price-threshold vs
    priority rules predicting order finality, discordant counts b/c
    (only-A-right, only-B-right), chi2 = (b-c)^2/(b+c) at the 3.841
    critical value. Everything is integer until one terminal division.
    One scan, one 1-row agg — the eval-stat sibling of the AUC and
    kappa queries."""
    w = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        F.when(F.col("o_totalprice") >= MCNEMAR_PRICE_CUT, 1).otherwise(0).alias("a"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("b"),
    )
    d = w.agg(
        F.sum(F.when((F.col("a") == F.col("y")) & (F.col("b") != F.col("y")), 1).otherwise(0))
        .cast("bigint")
        .alias("only_a"),
        F.sum(F.when((F.col("a") != F.col("y")) & (F.col("b") == F.col("y")), 1).otherwise(0))
        .cast("bigint")
        .alias("only_b"),
        F.sum(F.when((F.col("a") == F.col("y")) & (F.col("b") == F.col("y")), 1).otherwise(0))
        .cast("bigint")
        .alias("both_right"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    diff = F.col("only_a") - F.col("only_b")
    chi2 = (diff * diff).cast("double") / (F.col("only_a") + F.col("only_b")).cast(
        "double"
    )
    return d.select(
        "n",
        "both_right",
        "only_a",
        "only_b",
        chi2.alias("chi2"),
        F.when(chi2 > F.lit(3.841), 1).otherwise(0).alias("differ_flag"),
    )


OPE_SEED = "ope-log-v1"
OPE_POLICY_DECILE = 6  # target policy: treat iff activity decile >= 6


@query(
    "ope_replay_events",
    oracle=f"""
WITH u AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(CAST(SUM(CASE WHEN event_type = 'purchase'
                              THEN CAST(value AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END)
                     AS DECIMAL(18,6)) AS STRING) AS DOUBLE) AS r,
           {hash_bucket_sql('user_id', seed=OPE_SEED, n_buckets=2)} AS a
    FROM events GROUP BY user_id
),
d AS (
    SELECT user_id, r, a,
           CASE WHEN ntile(10) OVER (ORDER BY n_events, user_id) >= {OPE_POLICY_DECILE}
                THEN 1 ELSE 0 END AS pi
    FROM u
),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN pi = a THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(CAST(SUM(CAST(r AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS sum_r,
           CAST(CAST(SUM(CASE WHEN pi = a THEN CAST(r AS DECIMAL(38,6)) END) AS STRING) AS DOUBLE)
             AS sum_r_matched
    FROM d
)
SELECT n_users, n_matched,
       sum_r / CAST(n_users AS DOUBLE) AS v_logging,
       2.0 * sum_r_matched / CAST(n_users AS DOUBLE) AS v_ips,
       sum_r_matched / CAST(n_matched AS DOUBLE) AS v_snips
FROM agg
""",
)
def q_ope_replay_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline policy evaluation by inverse-propensity replay (Li et
    al. 2011) — "what would this targeting rule have earned?" answered
    from LOGGED data, no new experiment: the logging policy assigned
    users to two arms uniformly at random (md5, propensity exactly
    1/2), the target policy treats iff activity decile >=
    {OPE_POLICY_DECILE}; its IPS value keeps only users where the
    policy AGREES with the logged action, reweighting by 1/p — with
    p = 1/2 the weight is EXACTLY 2, so the estimator is a pure
    decimal sum doubled, no rounding contract at all. The
    self-normalized variant (SNIPS, lower variance) and the logging
    policy's own value ride along. One user-grain hash agg + a
    distributed row number / exact NTILE arithmetic
    (operators/distrank); scales like the IPW query."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase", F.col("value").cast("decimal(18,6)")
            ).otherwise(F.lit(0).cast("decimal(18,6)"))
        )
        .cast("decimal(18,6)")
        .cast("double")
        .alias("r"),
        F.first(hash_bucket(F.col("user_id"), seed=OPE_SEED, n_buckets=2)).alias("a"),
    )
    n_total = u.agg(F.count(F.lit(1)).cast("bigint").alias("_n_total"))
    d = (
        global_row_number(u, ["n_events", "user_id"], out="_rn")
        .crossJoin(F.broadcast(n_total))
        .select(
            "r",
            "a",
            F.when(
                ntile_from_rn(F.col("_rn"), F.col("_n_total"), 10)
                >= OPE_POLICY_DECILE,
                1,
            )
            .otherwise(0)
            .alias("pi"),
        )
    )
    agg = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.when(F.col("pi") == F.col("a"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_matched"),
        F.sum(F.col("r").cast("decimal(38,6)")).cast("double").alias("sum_r"),
        F.sum(F.when(F.col("pi") == F.col("a"), F.col("r").cast("decimal(38,6)")))
        .cast("double")
        .alias("sum_r_matched"),
    )
    nu = F.col("n_users").cast("double")
    return agg.select(
        "n_users",
        "n_matched",
        (F.col("sum_r") / nu).alias("v_logging"),
        (F.lit(2.0) * F.col("sum_r_matched") / nu).alias("v_ips"),
        (F.col("sum_r_matched") / F.col("n_matched").cast("double")).alias("v_snips"),
    )


@query(
    "runs_test_revenue",
    oracle="""
WITH daily AS (
    SELECT o_orderdate AS d,
           CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(14,2)) AS STRING) AS DOUBLE) AS x
    FROM orders GROUP BY o_orderdate
),
chg AS (
    SELECT d, CASE WHEN x > lag(x) OVER (ORDER BY d) THEN 1 ELSE 0 END AS up,
           lag(x) OVER (ORDER BY d) AS prev
    FROM daily
),
s AS (
    SELECT up,
           CASE WHEN lag(up) OVER (ORDER BY d) IS NULL
                  OR up <> lag(up) OVER (ORDER BY d) THEN 1 ELSE 0 END AS new_run
    FROM chg WHERE prev IS NOT NULL
),
agg AS (
    SELECT CAST(SUM(new_run) AS BIGINT) AS runs,
           CAST(SUM(up) AS BIGINT) AS n_up,
           CAST(SUM(1 - up) AS BIGINT) AS n_down,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM s
)
SELECT n, n_up, n_down, runs,
       1.0 + 2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE) / CAST(n AS DOUBLE)
         AS expected_runs,
       (CAST(runs AS DOUBLE)
         - (1.0 + 2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE) / CAST(n AS DOUBLE)))
       / sqrt(2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
              * (2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE) - CAST(n AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
         AS z_stat
FROM agg
""",
)
def q_runs_test_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the SIGNS of day-over-day revenue
    changes — the randomness check behind residual diagnostics (too
    few runs: momentum/trend the forecaster missed; too many:
    oscillation/overdifferencing): runs counted by the gaps-and-islands
    sign-change trick, expectation 1 + 2*n1*n2/n and its variance from
    pure integers, one terminal z chain with an IEEE-exact sqrt.
    Day-series-bounded, scale-free wrt fact rows."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .cast("decimal(14,2)")
        .cast("double")
        .alias("x")
    )
    w = Window.orderBy("d")  # day grain, calendar-bounded
    chg = daily.select(
        "d",
        F.when(F.col("x") > F.lag("x").over(w), 1).otherwise(0).alias("up"),
        F.lag("x").over(w).alias("prev"),
    ).filter(F.col("prev").isNotNull())
    s = chg.select(
        "up",
        F.when(
            F.lag("up").over(w).isNull() | (F.col("up") != F.lag("up").over(w)), 1
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = s.agg(
        F.sum("new_run").cast("bigint").alias("runs"),
        F.sum("up").cast("bigint").alias("n_up"),
        F.sum(F.lit(1) - F.col("up")).cast("bigint").alias("n_down"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    nu, nd, n = (
        F.col("n_up").cast("double"),
        F.col("n_down").cast("double"),
        F.col("n").cast("double"),
    )
    exp_r = F.lit(1.0) + F.lit(2.0) * nu * nd / n
    var = (
        F.lit(2.0)
        * nu
        * nd
        * (F.lit(2.0) * nu * nd - n)
        / (n * n * (n - F.lit(1.0)))
    )
    return agg.select(
        "n",
        "n_up",
        "n_down",
        "runs",
        exp_r.alias("expected_runs"),
        ((F.col("runs").cast("double") - exp_r) / F.sqrt(var)).alias("z_stat"),
    )


@query(
    "cramers_v_orders",
    oracle="""
WITH cells AS (
    SELECT o_orderpriority AS r, o_orderstatus AS c, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderpriority, o_orderstatus
),
marg AS (
    SELECT r, c, n,
           CAST(SUM(n) OVER (PARTITION BY r) AS BIGINT) AS nr,
           CAST(SUM(n) OVER (PARTITION BY c) AS BIGINT) AS nc,
           CAST(SUM(n) OVER () AS BIGINT) AS nn
    FROM cells
),
contrib AS (
    SELECT nn,
           round((CAST(n AS DOUBLE) - CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE) / CAST(nn AS DOUBLE))
                 * (CAST(n AS DOUBLE) - CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE) / CAST(nn AS DOUBLE))
                 / (CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE) / CAST(nn AS DOUBLE)), 6) AS chi,
           CAST(COUNT(DISTINCT r) OVER () AS BIGINT) AS nrows,
           CAST(COUNT(DISTINCT c) OVER () AS BIGINT) AS ncols
    FROM marg
)
SELECT CAST(MAX(nn) AS BIGINT) AS n,
       MAX(nrows) AS n_rows, MAX(ncols) AS n_cols,
       CAST(CAST(SUM(CAST(chi AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS chi2,
       sqrt(CAST(CAST(SUM(CAST(chi AS DECIMAL(38,6))) AS STRING) AS DOUBLE)
            / (CAST(MAX(nn) AS DOUBLE)
               * CAST(LEAST(MAX(nrows), MAX(ncols)) - 1 AS DOUBLE))) AS cramers_v
FROM contrib
""",
)
def q_cramers_v_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between order priority and order status — the
    normalized EFFECT SIZE the chi-square statistic itself isn't (chi2
    grows with n; V in [0,1] is comparable across datasets): per-cell
    (o-e)²/e contributions on pinned double chains, quantized to 6 dp
    and summed as DECIMAL so the 15-cell sum is order-independent,
    then V = sqrt(chi2 / (n * (min(r,c)-1))) with an IEEE-exact sqrt.
    One contingency hash agg; marginals from windows over the tiny
    cell table."""
    cells = load_table(spark, sf_dir, "orders").groupBy(
        F.col("o_orderpriority").alias("r"), F.col("o_orderstatus").alias("c")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wr = Window.partitionBy("r")
    wc = Window.partitionBy("c")
    wa = Window.orderBy(F.lit(1)).rowsBetween(  # day-series grain, calendar-bounded
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    marg = cells.select(
        "r",
        "c",
        "n",
        F.sum("n").over(wr).cast("bigint").alias("nr"),
        F.sum("n").over(wc).cast("bigint").alias("nc"),
        F.sum("n").over(wa).cast("bigint").alias("nn"),
    )
    e = F.col("nr").cast("double") * F.col("nc").cast("double") / F.col("nn").cast(
        "double"
    )
    chi = F.round((F.col("n").cast("double") - e) * (F.col("n").cast("double") - e) / e, 6)
    contrib = marg.select(
        "nn",
        chi.alias("chi"),
        F.size(F.collect_set("r").over(wa)).cast("bigint").alias("nrows"),
        F.size(F.collect_set("c").over(wa)).cast("bigint").alias("ncols"),
    )
    chi2 = F.sum(F.col("chi").cast("decimal(38,6)")).cast("double")
    return contrib.agg(
        F.max("nn").cast("bigint").alias("n"),
        F.max("nrows").alias("n_rows"),
        F.max("ncols").alias("n_cols"),
        chi2.alias("chi2"),
        F.sqrt(
            chi2
            / (
                F.max("nn").cast("double")
                * (F.least(F.max("nrows"), F.max("ncols")) - 1).cast("double")
            )
        ).alias("cramers_v"),
    )


# BH step-up thresholds Phi^{-1}(1 - (i/m * alpha)/2) for EVERY family
# size m = 1.._BH_MAX_FAMILY and rank i = 1..m, precomputed at import in
# pure Python (math.erf bisection, 200 halvings) — no libm inverse-normal
# at QUERY time in either engine. The table is keyed (m, rank) and joined
# on the OBSERVED family size, so the FDR guarantee holds for any segment
# count up to _BH_MAX_FAMILY; a larger family hits a null threshold on the
# LEFT join and raises loudly in BOTH engines instead of silently dropping
# tests (an inner join against a fixed m=5 table used to do exactly that).
_BH_ALPHA = 0.05
_BH_MAX_FAMILY = 20


def _phi_inv_upper(p: float) -> float:
    """z with P(Z > z) = p under the standard normal, by erf bisection."""
    lo, hi = 0.0, 40.0
    for _ in range(200):
        mid = (lo + hi) / 2.0
        if 0.5 * (1.0 + math.erf(mid / math.sqrt(2.0))) < 1.0 - p:
            lo = mid
        else:
            hi = mid
    return round((lo + hi) / 2.0, 6)


BH_Z_THRESHOLDS: dict[tuple[int, int], float] = {
    (m, i): _phi_inv_upper(i / m * _BH_ALPHA / 2.0)
    for m in range(1, _BH_MAX_FAMILY + 1)
    for i in range(1, m + 1)
}
_BH_THR_VALUES = ", ".join(f"({m}, {i}, {z!r})" for (m, i), z in BH_Z_THRESHOLDS.items())


@query(
    "bh_fdr_events",
    oracle=f"""
WITH s AS (
    SELECT event_type, CAST(value AS DOUBLE) AS v,
           CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS arm
    FROM events
),
r AS (
    SELECT event_type, arm,
           rank() OVER (PARTITION BY event_type ORDER BY v) AS lo,
           CAST(COUNT(*) OVER (PARTITION BY event_type, v) AS BIGINT) AS t
    FROM s
),
g AS (
    SELECT event_type,
           CAST(SUM(CASE WHEN arm = 1 THEN 2 * lo + t - 1 ELSE 0 END) AS BIGINT) AS two_r1,
           CAST(SUM(arm) AS BIGINT) AS n1,
           CAST(SUM(1 - arm) AS BIGINT) AS n2
    FROM r GROUP BY event_type
),
z AS (
    SELECT event_type,
           abs((CAST(two_r1 AS DOUBLE) / 2.0 - CAST(n1 * (n1 + 1) AS DOUBLE) / 2.0
                - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
               / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                      * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1.0) / 12.0)) AS abs_z
    FROM g
),
rk AS (
    SELECT event_type, abs_z,
           CAST(row_number() OVER (ORDER BY abs_z DESC, event_type) AS BIGINT) AS rnk
    FROM z
),
mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM z),
thr(m, rnk, z_thr) AS (VALUES {_BH_THR_VALUES}),
j AS (
    SELECT rk.event_type, rk.abs_z, rk.rnk,
           CASE WHEN thr.z_thr IS NULL
                THEN CAST(error('bh_fdr_events: family size exceeds precomputed thresholds') AS DOUBLE)
                ELSE thr.z_thr END AS z_thr,
           CASE WHEN rk.abs_z >= thr.z_thr THEN 1 ELSE 0 END AS passed
    FROM rk CROSS JOIN mm LEFT JOIN thr ON thr.m = mm.m AND thr.rnk = rk.rnk
),
k AS (SELECT MAX(CASE WHEN passed = 1 THEN rnk END) AS k FROM j)
SELECT j.event_type, j.abs_z, j.rnk AS bh_rank, j.z_thr,
       CASE WHEN j.rnk <= COALESCE(k.k, 0) THEN 1 ELSE 0 END AS rejected
FROM j, k
ORDER BY j.rnk
""",
)
def q_bh_fdr_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over a FAMILY of tests — the
    multiple-testing correction every metrics platform needs once it
    runs one test per segment: a Mann-Whitney z per event type (the
    2x-midrank integer transport, ranks within type), |z| ranked
    descending, each rank compared to its precomputed
    Phi-inverse((1 - i/m*alpha/2)) threshold (pure-Python erf-bisection
    constants — no inverse-normal libm call at query time in EITHER
    engine; the threshold table is keyed by (family size, rank) and
    joined on the OBSERVED family size, raising loudly past
    _BH_MAX_FAMILY rather than silently dropping or mis-thresholding
    tests), and the BH step-up rule rejects every rank up to the
    LARGEST passing one — including weaker tests dragged across by a
    stronger one, the part naive per-test thresholds get wrong.
    Per-type rank sorts partition-parallel; the family table is
    type-bounded."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("value").cast("double").alias("v"),
        F.when(F.col("user_id") % 2 == 1, 1).otherwise(0).alias("arm"),
    )
    r = ev.select(
        "event_type",
        "arm",
        F.rank().over(Window.partitionBy("event_type").orderBy("v")).alias("lo"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type", "v"))
        .cast("bigint")
        .alias("t"),
    )
    g = r.groupBy("event_type").agg(
        F.sum(F.when(F.col("arm") == 1, 2 * F.col("lo") + F.col("t") - 1).otherwise(0))
        .cast("bigint")
        .alias("two_r1"),
        F.sum("arm").cast("bigint").alias("n1"),
        F.sum(F.lit(1) - F.col("arm")).cast("bigint").alias("n2"),
    )
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    u1 = F.col("two_r1").cast("double") / F.lit(2.0) - (
        F.col("n1") * (F.col("n1") + 1)
    ).cast("double") / F.lit(2.0)
    z = F.abs(
        (u1 - n1d * n2d / F.lit(2.0))
        / F.sqrt(n1d * n2d * (n1d + n2d + F.lit(1.0)) / F.lit(12.0))
    )
    rk = g.select("event_type", z.alias("abs_z")).select(
        "event_type",
        "abs_z",
        F.row_number()
        .over(Window.orderBy(F.col("abs_z").desc(), "event_type"))  # event-type grain, closed 5-value domain
        .cast("bigint")
        .alias("rnk"),
    )
    spark_thr = ev.sparkSession.createDataFrame(
        [(m, i, zt) for (m, i), zt in BH_Z_THRESHOLDS.items()],
        "m bigint, rnk bigint, z_thr double",
    )
    mm = rk.agg(F.max("rnk").alias("m"))
    j = (
        rk.crossJoin(F.broadcast(mm))
        .join(F.broadcast(spark_thr), ["m", "rnk"], "left")
        .select(
            "event_type",
            "abs_z",
            "rnk",
            F.when(
                F.col("z_thr").isNull(),
                F.raise_error(
                    F.lit("bh_fdr_events: family size exceeds precomputed thresholds")
                ).cast("double"),
            )
            .otherwise(F.col("z_thr"))
            .alias("z_thr"),
            F.when(F.col("abs_z") >= F.col("z_thr"), 1).otherwise(0).alias("passed"),
        )
    )
    k = j.agg(F.max(F.when(F.col("passed") == 1, F.col("rnk"))).alias("k"))
    return (
        j.crossJoin(F.broadcast(k))
        .select(
            "event_type",
            "abs_z",
            F.col("rnk").alias("bh_rank"),
            "z_thr",
            F.when(F.col("rnk") <= F.coalesce(F.col("k"), F.lit(0)), 1)
            .otherwise(0)
            .alias("rejected"),
        )
        .orderBy("bh_rank")
    )
