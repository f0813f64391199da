"""ML feature-preparation operators: robust/min-max feature scaling,
leave-one-out target encoding, Gini-impurity split search (the
decision-stump trainer), deterministic k-fold assignment, and
classifier evaluation (confusion matrix → precision/recall/F1) — the
tabular-ML sibling of the LM-data-prep family (queries/lmprep.py).

Every query is exact-oracle-gated: sums ride the decimal transport
(functions.stable_sum), quantiles use the shared interpolated-percentile contract
(Spark ``percentile`` ≡ DuckDB ``quantile_cont``, rounded to 6 dp —
the nation_order_percentiles pattern), and ratios divide exact
integers or decimal-transported doubles, which IEEE 754 makes
bit-identical cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table
from nyc_taxi_data_engineering_spark.functions import stable_sum, stable_sum_sql
from nyc_taxi_data_engineering_spark.operators.sampling import hash_bucket, hash_bucket_sql
from nyc_taxi_data_engineering_spark.queries.registry import query


@query(
    "feature_scaling_customers",
    oracle="""
WITH stats AS (
    SELECT c_mktsegment,
           MIN(c_acctbal) AS mn, MAX(c_acctbal) AS mx,
           round(quantile_cont(c_acctbal, 0.5), 6) AS med,
           round(quantile_cont(c_acctbal, 0.75), 6)
             - round(quantile_cont(c_acctbal, 0.25), 6) AS iqr
    FROM customer GROUP BY c_mktsegment
)
SELECT c_custkey, c.c_mktsegment,
       (c_acctbal - mn) / (mx - mn) AS minmax_scaled,
       (c_acctbal - med) / iqr AS robust_scaled
FROM customer c JOIN stats s ON s.c_mktsegment = c.c_mktsegment
WHERE c_custkey % 10 = 0
""",
)
def q_feature_scaling_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment feature scaling of account balance, two standard
    recipes side by side: min-max to [0,1] and robust (median/IQR —
    outlier-immune, the sklearn RobustScaler). Stats are one grouped
    agg over the dim; scaled rows join the 5-row stats table by
    broadcast, so the fact side never shuffles. Median/IQR use the
    shared interpolated-percentile contract (6-dp rounded), so every
    scaled double matches cross-engine. Output sampled 1-in-10 by key
    to keep the gate row count bounded; the scan is complete."""
    cust = load_table(spark, sf_dir, "customer")
    stats = cust.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.min("c_acctbal").alias("mn"),
        F.max("c_acctbal").alias("mx"),
        F.round(F.expr("percentile(c_acctbal, 0.5)"), 6).alias("med"),
        (
            F.round(F.expr("percentile(c_acctbal, 0.75)"), 6)
            - F.round(F.expr("percentile(c_acctbal, 0.25)"), 6)
        ).alias("iqr"),
    )
    return (
        cust.join(F.broadcast(stats), cust["c_mktsegment"] == stats["seg"])
        .filter(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey",
            "c_mktsegment",
            ((F.col("c_acctbal") - F.col("mn")) / (F.col("mx") - F.col("mn"))).alias(
                "minmax_scaled"
            ),
            ((F.col("c_acctbal") - F.col("med")) / F.col("iqr")).alias("robust_scaled"),
        )
    )


@query(
    "target_encoding_orders",
    oracle=f"""
WITH grp AS (
    SELECT o_orderpriority,
           {stable_sum_sql('o_totalprice')} AS s,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
)
SELECT o_orderkey, o.o_orderpriority,
       (s - o_totalprice) / CAST(n - 1 AS DOUBLE) AS loo_encoding
FROM orders o JOIN grp g ON g.o_orderpriority = o.o_orderpriority
WHERE o_orderkey % 50 = 0
""",
)
def q_target_encoding_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of order priority against total
    price — the categorical-feature encoder that avoids self-leakage:
    each row's encoding is the group mean EXCLUDING the row itself,
    (sum - x) / (n - 1). Group sums ride the decimal transport so the
    subtraction and division are bit-identical; the 5-row group table
    broadcasts. LOO from aggregates is one pass — never a per-row
    window over the fact at scale. Output sampled 1-in-50 by key."""
    orders = load_table(spark, sf_dir, "orders")
    grp = orders.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        stable_sum("o_totalprice").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        orders.join(F.broadcast(grp), orders["o_orderpriority"] == grp["prio"])
        .filter(F.col("o_orderkey") % 50 == 0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            ((F.col("s") - F.col("o_totalprice")) / (F.col("n") - 1).cast("double")).alias(
                "loo_encoding"
            ),
        )
    )


GINI_THRESHOLDS = [i * 25000.0 for i in range(1, 20)]  # fixed candidate grid


@query(
    "gini_split_search_orders",
    oracle=f"""
WITH labeled AS (
    SELECT o_totalprice AS x,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS y
    FROM orders
),
cand AS (SELECT UNNEST({GINI_THRESHOLDS!r}::DOUBLE[]) AS threshold),
split AS (
    SELECT threshold,
           SUM(CASE WHEN x < threshold THEN 1 ELSE 0 END) AS n_left,
           SUM(CASE WHEN x < threshold THEN y ELSE 0 END) AS pos_left,
           SUM(CASE WHEN x >= threshold THEN 1 ELSE 0 END) AS n_right,
           SUM(CASE WHEN x >= threshold THEN y ELSE 0 END) AS pos_right
    FROM labeled CROSS JOIN cand
    GROUP BY threshold
)
SELECT threshold,
       CAST(n_left AS BIGINT) AS n_left, CAST(pos_left AS BIGINT) AS pos_left,
       CAST(n_right AS BIGINT) AS n_right, CAST(pos_right AS BIGINT) AS pos_right,
       (CAST(n_left AS DOUBLE) / (n_left + n_right))
         * (1.0 - (CAST(pos_left AS DOUBLE) / n_left) * (CAST(pos_left AS DOUBLE) / n_left)
                - (1.0 - CAST(pos_left AS DOUBLE) / n_left) * (1.0 - CAST(pos_left AS DOUBLE) / n_left))
       + (CAST(n_right AS DOUBLE) / (n_left + n_right))
         * (1.0 - (CAST(pos_right AS DOUBLE) / n_right) * (CAST(pos_right AS DOUBLE) / n_right)
                - (1.0 - CAST(pos_right AS DOUBLE) / n_right) * (1.0 - CAST(pos_right AS DOUBLE) / n_right))
       AS weighted_gini
FROM split
WHERE n_left > 0 AND n_right > 0
""",
)
def q_gini_split_search_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump training under the gate: weighted Gini impurity
    of 'is this order high-priority?' for every candidate price
    threshold on a fixed grid. ONE scan of the fact — the candidate
    grid broadcasts as a tiny cross join and all four split counts per
    threshold come out of a single hash agg (19 thresholds × 4
    conditional sums, not 19 passes). The impurity arithmetic is
    divisions/products of exact integer counts in pinned expression
    shape, so both engines produce identical doubles; downstream,
    argmin-by-gini picks the stump. This is the inner loop of
    distributed tree learning (each tree node = one such pass)."""
    orders = load_table(spark, sf_dir, "orders")
    labeled = orders.select(
        F.col("o_totalprice").alias("x"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0).alias("y"),
    )
    cand = spark.createDataFrame([(t,) for t in GINI_THRESHOLDS], "threshold double")
    split = (
        labeled.crossJoin(F.broadcast(cand))
        .groupBy("threshold")
        .agg(
            F.sum(F.when(F.col("x") < F.col("threshold"), 1).otherwise(0)).alias("n_left"),
            F.sum(F.when(F.col("x") < F.col("threshold"), F.col("y")).otherwise(0)).alias(
                "pos_left"
            ),
            F.sum(F.when(F.col("x") >= F.col("threshold"), 1).otherwise(0)).alias("n_right"),
            F.sum(F.when(F.col("x") >= F.col("threshold"), F.col("y")).otherwise(0)).alias(
                "pos_right"
            ),
        )
        .filter((F.col("n_left") > 0) & (F.col("n_right") > 0))
    )
    nl, pl = F.col("n_left").cast("double"), F.col("pos_left").cast("double")
    nr, pr = F.col("n_right").cast("double"), F.col("pos_right").cast("double")
    tot = F.col("n_left") + F.col("n_right")
    gini_l = (
        F.lit(1.0)
        - (pl / nl) * (pl / nl)
        - (F.lit(1.0) - pl / nl) * (F.lit(1.0) - pl / nl)
    )
    gini_r = (
        F.lit(1.0)
        - (pr / nr) * (pr / nr)
        - (F.lit(1.0) - pr / nr) * (F.lit(1.0) - pr / nr)
    )
    return split.select(
        "threshold",
        "n_left",
        "pos_left",
        "n_right",
        "pos_right",
        ((nl / tot) * gini_l + (nr / tot) * gini_r).alias("weighted_gini"),
    )


KFOLDS = 5


@query(
    "kfold_assignment_orders",
    oracle=f"""
SELECT {hash_bucket_sql("o_orderkey", seed="cvfold", n_buckets=KFOLDS)} AS fold,
       COUNT(*) AS n_orders,
       {stable_sum_sql('o_totalprice')} AS total_price
FROM orders
GROUP BY 1
""",
)
def q_kfold_assignment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic {KFOLDS}-fold cross-validation assignment: fold =
    md5(key || ':fold') mod K — RNG-free, stable across engines, runs,
    and cluster sizes (the property sklearn's seeded shuffle does NOT
    give you on distributed re-runs), and adding rows never moves an
    existing row's fold. Same salted-hash family as split_assignment
    (operators/sampling.py) with the fold-count tally + per-fold
    balance check under the gate."""
    orders = load_table(spark, sf_dir, "orders")
    fold = hash_bucket(F.col("o_orderkey"), seed="cvfold", n_buckets=KFOLDS)
    return orders.groupBy(fold.alias("fold")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        stable_sum("o_totalprice").alias("total_price"),
    )


@query(
    "domain_tag_eval",
    oracle="""
WITH preds AS (
    SELECT lower(source) AS actual,
           CASE
             WHEN length(text) % 3 = 0 THEN 'web'
             WHEN length(text) % 3 = 1 THEN 'news'
             ELSE lower(source)
           END AS predicted
    FROM documents
),
cm AS (
    SELECT actual, predicted, COUNT(*) AS n FROM preds GROUP BY actual, predicted
),
tp AS (SELECT actual AS cls, n AS tp FROM cm WHERE actual = predicted),
act AS (SELECT actual AS cls, CAST(SUM(n) AS BIGINT) AS n_actual FROM cm GROUP BY actual),
prd AS (SELECT predicted AS cls, CAST(SUM(n) AS BIGINT) AS n_predicted FROM cm GROUP BY predicted)
SELECT a.cls,
       a.n_actual,
       COALESCE(p.n_predicted, 0) AS n_predicted,
       COALESCE(t.tp, 0) AS true_positives,
       CAST(COALESCE(t.tp, 0) AS DOUBLE) / p.n_predicted AS precision,
       CAST(COALESCE(t.tp, 0) AS DOUBLE) / a.n_actual AS recall,
       2.0 * COALESCE(t.tp, 0) / (p.n_predicted + a.n_actual) AS f1
FROM act a
LEFT JOIN prd p ON p.cls = a.cls
LEFT JOIN tp t ON t.cls = a.cls
""",
)
def q_domain_tag_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation under the gate: confusion matrix →
    per-class precision / recall / F1 for a deterministic mock
    classifier against the documents' true source labels (the mock
    mispredicts on a text-length rule, so every confusion cell is
    reproducible in SQL — the EVAL arithmetic is the operator being
    certified, the model is a stand-in for any upstream scorer, e.g.
    the linear probe). The confusion matrix is one hash agg at
    (actual, predicted) grain — classes², tiny — and every metric
    divides exact integer counts off that table; F1 is computed as
    2·tp/(pred+actual) directly, dodging the precision·recall
    rounding chain."""
    docs = load_table(spark, sf_dir, "documents")
    preds = docs.select(
        F.lower("source").alias("actual"),
        F.when(F.length("text") % 3 == 0, F.lit("web"))
        .when(F.length("text") % 3 == 1, F.lit("news"))
        .otherwise(F.lower("source"))
        .alias("predicted"),
    )
    cm = preds.groupBy("actual", "predicted").agg(F.count(F.lit(1)).alias("n"))
    tp = cm.filter(F.col("actual") == F.col("predicted")).select(
        F.col("actual").alias("cls"), F.col("n").alias("tp")
    )
    act = cm.groupBy(F.col("actual").alias("cls")).agg(F.sum("n").alias("n_actual"))
    prd = cm.groupBy(F.col("predicted").alias("cls")).agg(F.sum("n").alias("n_predicted"))
    return (
        act.join(prd, "cls", "left")
        .join(tp, "cls", "left")
        .select(
            "cls",
            "n_actual",
            F.coalesce("n_predicted", F.lit(0)).alias("n_predicted"),
            F.coalesce("tp", F.lit(0)).alias("true_positives"),
            (F.coalesce("tp", F.lit(0)).cast("double") / F.col("n_predicted")).alias("precision"),
            (F.coalesce("tp", F.lit(0)).cast("double") / F.col("n_actual")).alias("recall"),
            (
                F.lit(2.0)
                * F.coalesce("tp", F.lit(0))
                / (F.col("n_predicted") + F.col("n_actual"))
            ).alias("f1"),
        )
    )


PIT_USER_MOD = 50  # pinned cohort: every 50th customer


@query(
    "pit_customer_features_orders",
    oracle=f"""
WITH feats AS (
  SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS d, o_totalprice,
         COUNT(*) OVER w AS n_prior_orders,
         CAST(CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(23,2))) OVER w, 0)
              AS STRING) AS DOUBLE) AS prior_spend,
         CAST(o_orderdate AS DATE)
           - LAG(CAST(o_orderdate AS DATE)) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
           AS days_since_prev
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT o_orderkey, o_custkey, strftime(d, '%Y-%m-%d') AS order_date,
       o_totalprice, CAST(n_prior_orders AS BIGINT) AS n_prior_orders,
       prior_spend, CAST(days_since_prev AS BIGINT) AS days_since_prev
FROM feats
WHERE o_custkey % {PIT_USER_MOD} = 0
""",
)
def q_pit_customer_features_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free POINT-IN-TIME training features — the feature-store
    contract every supervised pipeline on transactional data needs:
    for each order, the customer's history STRICTLY BEFORE that order
    (prior order count, prior decimal-exact spend, days since the
    previous order), never the row itself, never the future. One
    customer-keyed window with an UNBOUNDED..1 PRECEDING frame and a
    (date, orderkey) determinism sort does all three; the per-key
    shuffle is the only exchange, so 100 TB costs one hash partition
    by customer. The gate catches leakage structurally: including the
    current row shifts every count/sum and hash-mismatches."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    wkey = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w = wkey.rowsBetween(Window.unboundedPreceding, -1)
    d = F.col("o_orderdate").cast("date")
    feats = o.select(
        "o_orderkey",
        "o_custkey",
        d.alias("d"),
        "o_totalprice",
        F.count(F.lit(1)).over(w).alias("n_prior_orders"),
        F.coalesce(
            F.sum(F.col("o_totalprice").cast("decimal(23,2)")).over(w),
            F.lit(0).cast("decimal(23,2)"),
        )
        .cast("double")
        .alias("prior_spend"),
        F.datediff(d, F.lag(d).over(wkey)).alias("days_since_prev"),
    )
    return feats.filter(F.col("o_custkey") % PIT_USER_MOD == 0).select(
        "o_orderkey",
        "o_custkey",
        F.date_format("d", "yyyy-MM-dd").alias("order_date"),
        "o_totalprice",
        F.col("n_prior_orders").cast("long").alias("n_prior_orders"),
        "prior_spend",
        F.col("days_since_prev").cast("long").alias("days_since_prev"),
    )


@query(
    "feature_auc_screen_orders",
    oracle="""
WITH base AS (
    SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS pos,
           CAST(o_totalprice AS DOUBLE) AS totalprice,
           CAST(day(o_orderdate) AS DOUBLE) AS order_dom,
           CAST(o_custkey % 97 AS DOUBLE) AS custkey_mod97
    FROM orders
),
m AS (
    SELECT 'totalprice' AS feature, pos, totalprice AS v FROM base
    UNION ALL
    SELECT 'order_dom' AS feature, pos, order_dom AS v FROM base
    UNION ALL
    SELECT 'custkey_mod97' AS feature, pos, custkey_mod97 AS v FROM base
),
r AS (
    SELECT feature, pos,
           rank() OVER (PARTITION BY feature ORDER BY v) AS lo,
           CAST(COUNT(*) OVER (PARTITION BY feature, v) AS BIGINT) AS t
    FROM m
),
g AS (
    SELECT feature,
           CAST(SUM(CASE WHEN pos = 1 THEN 2 * lo + t - 1 ELSE 0 END) AS BIGINT) AS two_r1,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(1 - pos) AS BIGINT) AS n_neg
    FROM r GROUP BY feature
)
SELECT feature, n_pos, n_neg,
       (CAST(two_r1 AS DOUBLE) / 2.0 - CAST(n_pos * (n_pos + 1) AS DOUBLE) / 2.0)
         / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc,
       2.0 * ((CAST(two_r1 AS DOUBLE) / 2.0 - CAST(n_pos * (n_pos + 1) AS DOUBLE) / 2.0)
         / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))) - 1.0 AS gini_coef
FROM g ORDER BY feature
""",
)
def q_feature_auc_screen_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Univariate feature screening by rank-based ROC-AUC — the
    standard first pass of tabular feature selection, and the
    classifier-evaluation metric itself: for each candidate feature,
    AUC of ranking the positive class (urgent/high-priority orders)
    plus the Gini coefficient 2*AUC-1. One of the three features
    (custkey_mod97) is structured noise, so the output self-validates:
    its AUC sits at ~0.5 while totalprice / order_dom may deviate.

    Exactness: the Wilcoxon-Mann-Whitney identity AUC =
    (R1 - n1(n1+1)/2) / (n1*n2) with tie midranks carried as the
    INTEGER 2*midrank = 2*rank + ties - 1 (the statsq transport), so
    the rank sum is exact and the AUC is a single terminal double
    division; the half-integer two_r1/2 and the triangular number are
    both dyadic-exact doubles below 2^53.

    Scale: the melt is a per-row stack (no shuffle); exact ranks need
    one sort per feature — Window.partitionBy(feature) shuffles each
    feature's rows to one ordering, features rank in parallel. The
    final agg is a 3-row hash agg. For k features over n rows this is
    k parallel sorts of n — the unavoidable cost of EXACT AUC; at
    100 TB you'd screen on a stratified sample or bucketed histogram
    AUC, both of which this plan degrades to by swapping the rank CTE."""
    base = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("pos"),
        F.col("o_totalprice").cast("double").alias("totalprice"),
        F.dayofmonth("o_orderdate").cast("double").alias("order_dom"),
        (F.col("o_custkey") % 97).cast("double").alias("custkey_mod97"),
    )
    m = base.select(
        "pos",
        F.expr(
            "stack(3, 'totalprice', totalprice, 'order_dom', order_dom, "
            "'custkey_mod97', custkey_mod97)"
        ).alias("feature", "v"),
    )
    from pyspark.sql import Window

    wf = Window.partitionBy("feature").orderBy("v")
    wt = Window.partitionBy("feature", "v")
    r = m.select(
        "feature",
        "pos",
        F.rank().over(wf).alias("lo"),
        F.count(F.lit(1)).over(wt).cast("bigint").alias("t"),
    )
    g = r.groupBy("feature").agg(
        F.sum(F.when(F.col("pos") == 1, 2 * F.col("lo") + F.col("t") - 1).otherwise(0))
        .cast("bigint")
        .alias("two_r1"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum(F.lit(1) - F.col("pos")).cast("bigint").alias("n_neg"),
    )
    auc = (
        F.col("two_r1").cast("double") / F.lit(2.0)
        - (F.col("n_pos") * (F.col("n_pos") + 1)).cast("double") / F.lit(2.0)
    ) / (F.col("n_pos").cast("double") * F.col("n_neg").cast("double"))
    return g.select(
        "feature",
        "n_pos",
        "n_neg",
        auc.alias("auc"),
        (F.lit(2.0) * auc - F.lit(1.0)).alias("gini_coef"),
    ).orderBy("feature")


AUC_HIST_BINS = 64
AUC_HIST_LO = 0.0  # o_totalprice observed range at any SF starts near 800
AUC_HIST_HI = 600_000.0


@query(
    "histogram_auc_orders",
    oracle=f"""
WITH base AS (
    SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS pos,
           CAST(LEAST(GREATEST(CAST(floor((o_totalprice - {AUC_HIST_LO}) * {AUC_HIST_BINS} / ({AUC_HIST_HI} - {AUC_HIST_LO})) AS BIGINT), 0), {AUC_HIST_BINS - 1}) AS BIGINT) AS bin
    FROM orders
),
h AS (
    SELECT bin,
           CAST(SUM(pos) AS BIGINT) AS np,
           CAST(SUM(1 - pos) AS BIGINT) AS nn
    FROM base GROUP BY bin
),
tot AS (SELECT CAST(SUM(np) AS BIGINT) AS tp, CAST(SUM(nn) AS BIGINT) AS tn FROM h),
c AS (
    SELECT bin, np, nn,
           CAST(SUM(np) OVER (ORDER BY bin) AS BIGINT) AS cp,
           CAST(SUM(nn) OVER (ORDER BY bin) AS BIGINT) AS cn
    FROM h
),
-- trapezoid: each negative pairs with the positives in STRICTLY
-- higher bins plus half the in-bin ties; keep the doubled form
-- integer so the sum is exact
s AS (
    SELECT CAST(SUM(nn * (2 * ((SELECT tp FROM tot) - cp) + np)) AS BIGINT) AS two_area,
           CAST(COUNT(*) AS BIGINT) AS nonempty_bins
    FROM c
)
SELECT nonempty_bins, tp AS n_pos, tn AS n_neg,
       CAST(two_area AS DOUBLE) / 2.0 / (CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)) AS auc_hist
FROM s CROSS JOIN tot
""",
)
def q_histogram_auc_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-bucketed AUC — the 100 TB companion to the exact
    rank AUC (feature_auc_screen_orders): bucket the score into
    {AUC_HIST_BINS} fixed-width bins (one hash agg with map-side
    combine, NO global sort), then the trapezoid rule over cumulative
    bin counts, which equals exact AUC with ties-within-bin broken at
    the midrank — the standard production approximation whose error is
    bounded by the in-bin tie mass. Everything up to the last step is
    INTEGER: each bin contributes neg_in_bin * (2*prior_pos +
    pos_in_bin) to the DOUBLED area, so the sum is exact and the AUC
    is one terminal double chain. The window runs over {AUC_HIST_BINS}
    rows, not n."""
    bins = F.lit(AUC_HIST_BINS)
    width = F.lit(AUC_HIST_HI - AUC_HIST_LO)
    base = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("pos"),
        F.least(
            F.greatest(
                F.floor(
                    (F.col("o_totalprice") - F.lit(AUC_HIST_LO)) * bins / width
                ).cast("bigint"),
                F.lit(0).cast("bigint"),
            ),
            F.lit(AUC_HIST_BINS - 1).cast("bigint"),
        ).alias("bin"),
    )
    h = base.groupBy("bin").agg(
        F.sum("pos").cast("bigint").alias("np"),
        F.sum(F.lit(1) - F.col("pos")).cast("bigint").alias("nn"),
    )
    from pyspark.sql import Window

    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)  # fixed histogram-bin grid
    tp_row = h.agg(F.sum("np").cast("bigint").alias("tp"))
    c = h.select(
        "np",
        "nn",
        F.sum("np").over(wb).cast("bigint").alias("cp"),
    ).crossJoin(F.broadcast(tp_row))
    s = c.agg(
        F.sum(F.col("nn") * (2 * (F.col("tp") - F.col("cp")) + F.col("np")))
        .cast("bigint")
        .alias("two_area"),
        F.count(F.lit(1)).cast("bigint").alias("nonempty_bins"),
        F.sum("np").cast("bigint").alias("n_pos"),
        F.sum("nn").cast("bigint").alias("n_neg"),
    )
    return s.select(
        "nonempty_bins",
        "n_pos",
        "n_neg",
        (
            F.col("two_area").cast("double")
            / F.lit(2.0)
            / (F.col("n_pos").cast("double") * F.col("n_neg").cast("double"))
        ).alias("auc_hist"),
    )


AUC_BOOT_B = 16  # md5 half-sample resamples


@query(
    "auc_bootstrap_ci_orders",
    oracle=f"""
WITH base AS (
    SELECT o_orderkey,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS pos,
           CAST(LEAST(GREATEST(CAST(floor((o_totalprice - {AUC_HIST_LO}) * {AUC_HIST_BINS} / ({AUC_HIST_HI} - {AUC_HIST_LO})) AS BIGINT), 0), {AUC_HIST_BINS - 1}) AS BIGINT) AS bin
    FROM orders
),
memb AS (
    SELECT g.b, base.pos, base.bin
    FROM base, UNNEST(generate_series(0, {AUC_BOOT_B - 1})) AS g(b)
    WHERE CAST(('0x' || substr(md5('aucboot' || '|' || CAST(g.b AS VARCHAR) || '|' || CAST(base.o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 2 AS INT) = 0
),
h AS (
    SELECT b, bin,
           CAST(SUM(pos) AS BIGINT) AS np,
           CAST(SUM(1 - pos) AS BIGINT) AS nn
    FROM memb GROUP BY b, bin
),
c AS (
    SELECT b, np, nn,
           CAST(SUM(np) OVER (PARTITION BY b ORDER BY bin) AS BIGINT) AS cp,
           CAST(SUM(np) OVER (PARTITION BY b) AS BIGINT) AS tp,
           CAST(SUM(nn) OVER (PARTITION BY b) AS BIGINT) AS tn
    FROM h
),
auc AS (
    SELECT b,
           CAST(SUM(nn * (2 * (tp - cp) + np)) AS DOUBLE) / 2.0
             / (CAST(MAX(tp) AS DOUBLE) * CAST(MAX(tn) AS DOUBLE)) AS a
    FROM c GROUP BY b
),
r AS (SELECT a, row_number() OVER (ORDER BY a, b) AS rn FROM auc)
SELECT CAST({AUC_BOOT_B} AS BIGINT) AS n_resamples,
       MAX(CASE WHEN rn = 2 THEN a END) AS ci_lo,
       MAX(CASE WHEN rn = {AUC_BOOT_B - 1} THEN a END) AS ci_hi,
       MAX(CASE WHEN rn = 2 THEN a END) <= MAX(CASE WHEN rn = {AUC_BOOT_B - 1} THEN a END) AS ci_ordered
FROM r
""",
)
def q_auc_bootstrap_ci_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the histogram AUC — the
    uncertainty a single AUC number hides, computed in ONE distributed
    pass: md5 half-sample membership scatters each row into its
    resamples (the statsq bootstrap transport — deterministic, so the
    RESAMPLES replay in SQL), each resample's AUC is the same exact
    doubled-integer trapezoid over its own bin counts, and the CI is
    explicit order statistics (2nd / {AUC_BOOT_B - 1}th of
    {AUC_BOOT_B}). Cost: one scan fanned x{AUC_BOOT_B}, then
    per-(resample, bin) hash aggs — bins x resamples state, never a
    per-row sort; at 100 TB this is the only affordable way to put an
    error bar on a ranking metric."""
    from nyc_taxi_data_engineering_spark.operators.sampling import hash_bucket

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("pos"),
        F.least(
            F.greatest(
                F.floor(
                    (F.col("o_totalprice") - F.lit(AUC_HIST_LO))
                    * F.lit(AUC_HIST_BINS)
                    / F.lit(AUC_HIST_HI - AUC_HIST_LO)
                ).cast("bigint"),
                F.lit(0).cast("bigint"),
            ),
            F.lit(AUC_HIST_BINS - 1).cast("bigint"),
        ).alias("bin"),
    )
    memb = base.select(
        "pos",
        "bin",
        F.explode(F.sequence(F.lit(0), F.lit(AUC_BOOT_B - 1))).alias("b"),
        "o_orderkey",
    ).filter(
        hash_bucket(
            F.concat_ws("|", F.col("b"), F.col("o_orderkey")),
            seed="aucboot",
            n_buckets=2,
        )
        == 0
    )
    h = memb.groupBy("b", "bin").agg(
        F.sum("pos").cast("bigint").alias("np"),
        F.sum(F.lit(1) - F.col("pos")).cast("bigint").alias("nn"),
    )
    from pyspark.sql import Window

    wb = Window.partitionBy("b").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy("b")
    c = h.select(
        "b",
        "np",
        "nn",
        F.sum("np").over(wb).cast("bigint").alias("cp"),
        F.sum("np").over(wt).cast("bigint").alias("tp"),
        F.sum("nn").over(wt).cast("bigint").alias("tn"),
    )
    auc = c.groupBy("b").agg(
        (
            F.sum(F.col("nn") * (2 * (F.col("tp") - F.col("cp")) + F.col("np")))
            .cast("double")
            / F.lit(2.0)
            / (F.max("tp").cast("double") * F.max("tn").cast("double"))
        ).alias("a")
    )
    r = auc.select(
        "a", F.row_number().over(Window.orderBy("a", "b")).alias("rn")  # bootstrap grain, AUC_BOOT_B rows
    )
    return r.agg(
        F.lit(AUC_BOOT_B).cast("bigint").alias("n_resamples"),
        F.max(F.when(F.col("rn") == 2, F.col("a"))).alias("ci_lo"),
        F.max(F.when(F.col("rn") == AUC_BOOT_B - 1, F.col("a"))).alias("ci_hi"),
        (
            F.max(F.when(F.col("rn") == 2, F.col("a")))
            <= F.max(F.when(F.col("rn") == AUC_BOOT_B - 1, F.col("a")))
        ).alias("ci_ordered"),
    )


_GAINS_QS = "[0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]"


@query(
    "gains_curve_orders",
    oracle=f"""
WITH base AS (
    SELECT CAST(o_totalprice AS DOUBLE) AS score,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS pos
    FROM orders
),
ths AS (SELECT quantile_cont(score, {_GAINS_QS}) AS ths FROM base),
dec AS (
    SELECT pos,
           CAST(len(list_filter(ths.ths, t -> score > t)) + 1 AS INTEGER) AS decile
    FROM base, ths
),
g AS (
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(pos) AS BIGINT) AS n_pos
    FROM dec GROUP BY decile
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(n_pos) AS BIGINT) AS tp FROM g)
SELECT g.decile, g.n, g.n_pos,
       CAST(g.n_pos AS DOUBLE) / CAST(g.n AS DOUBLE)
         / (CAST(tot.tp AS DOUBLE) / CAST(tot.tn AS DOUBLE)) AS lift,
       CAST(SUM(g.n_pos) OVER (ORDER BY g.decile DESC) AS DOUBLE)
         / CAST(tot.tp AS DOUBLE) AS cum_capture
FROM g, tot
ORDER BY g.decile
""",
)
def q_gains_curve_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-gains / lift curve — the targeting readout AUC hides
    ("mail the top 2 deciles, capture what share of responders?"): per
    score decile, the positive rate's lift over base rate and the
    cumulative capture working DOWN from the best decile. Deciles come
    from broadcast percentile thresholds, NOT a global ntile sort (the
    customer_spend_deciles pattern — embarrassingly parallel bucket
    assignment); the cumulative window runs over 10 rows. Integer
    counts, pinned division chains."""
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("double").alias("score"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("pos"),
    )
    ths = base.agg(F.expr(f"percentile(score, array({_GAINS_QS[1:-1]}))").alias("ths"))
    dec = base.crossJoin(F.broadcast(ths)).select(
        "pos",
        (
            F.size(F.filter("ths", lambda t: F.col("score") > t)) + 1
        )
        .cast("int")
        .alias("decile"),
    )
    g = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("tn"), F.sum("n_pos").cast("bigint").alias("tp")
    )
    from pyspark.sql import Window

    wcum = Window.orderBy(F.col("decile").desc()).rowsBetween(  # 10-row decile grid
        Window.unboundedPreceding, 0
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n",
            "n_pos",
            (
                F.col("n_pos").cast("double")
                / F.col("n").cast("double")
                / (F.col("tp").cast("double") / F.col("tn").cast("double"))
            ).alias("lift"),
            (
                F.sum("n_pos").over(wcum).cast("double") / F.col("tp").cast("double")
            ).alias("cum_capture"),
        )
        .orderBy("decile")
    )
