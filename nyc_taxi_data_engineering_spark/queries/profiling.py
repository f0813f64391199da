"""Profiling queries: the generic single-pass table profiler applied
to the star schema (orders: mixed int/string/float/timestamp columns —
exercises every stringification branch)."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from nyc_taxi_data_engineering_spark.catalog import load_table
from nyc_taxi_data_engineering_spark.operators.profiling import profile, sql_profile_oracle
from nyc_taxi_data_engineering_spark.queries.registry import query

_ORDERS_COLS = [
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "float"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


@query("profile_orders", oracle=sql_profile_oracle("orders", _ORDERS_COLS))
def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile(load_table(spark, sf_dir, "orders"), [c for c, _ in _ORDERS_COLS])


# ------------------------------------------------- correlation matrix

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_DEC = "DECIMAL(18,6)"


def _corr_oracle(cols: list[str]) -> str:
    from nyc_taxi_data_engineering_spark.functions import dec_to_double_sql

    terms = [f"CAST(COUNT(*) AS DOUBLE) AS n"]
    for i, c in enumerate(cols):
        terms.append(f"{dec_to_double_sql(f'SUM(CAST({c} AS {_DEC}))')} AS s{i}")
    for i in range(len(cols)):
        for j in range(i, len(cols)):
            # DECIMAL(19,6) factors force DuckDB's multiply into HUGEINT
            # storage (a DECIMAL(18,6)^2 product overflows its int64 path);
            # the 6-dp quantized values are identical either way, so Spark's
            # decimal(18,6) products stay exactly comparable. The VARCHAR
            # hop (dec_to_double_sql) keeps the scale-12 moment's terminal
            # conversion correctly rounded — unscaled ~1e20 >> 2^53, where
            # DuckDB's direct cast double-rounds (r10 exact-sweep find).
            terms.append(
                dec_to_double_sql(
                    f"SUM(CAST({cols[i]} AS DECIMAL(19,6)) * CAST({cols[j]} AS DECIMAL(19,6)))"
                )
                + f" AS p{i}_{j}"
            )
    moments = ",\n           ".join(terms)
    selects = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            corr = (
                f"(n * p{i}_{j} - s{i} * s{j}) / "
                f"sqrt((n * p{i}_{i} - s{i} * s{i}) * (n * p{j}_{j} - s{j} * s{j}))"
            )
            selects.append(
                f"SELECT '{cols[i]}' AS col_a, '{cols[j]}' AS col_b, {corr} AS corr FROM m"
            )
    return f"WITH m AS (\n    SELECT {moments}\n    FROM lineitem\n)\n" + "\nUNION ALL ".join(selects)


@query("lineitem_correlations", oracle=_corr_oracle(_CORR_COLS))
def q_lineitem_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix of the lineitem numeric columns in
    ONE scan: all 4 sums, 4 self-products, and 6 cross-products
    accumulate as exact DECIMAL moments in a single hash aggregate
    (map-side combine, no second pass, no Spark stat helper), then the
    6 pairwise correlations derive in double arithmetic whose inputs
    and expression shape are bit-identical to the oracle's — no
    rounding anywhere, the doubles simply match. The single-pass
    moment shape is the only way to profile 100 TB: k(k+1)/2 + k + 1
    accumulators, one shuffle of ONE row per partition."""
    from pyspark.sql import functions as F

    cols = _CORR_COLS
    dec = "decimal(18,6)"
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for i, c in enumerate(cols):
        aggs.append(F.sum(F.col(c).cast(dec)).cast("double").alias(f"s{i}"))
    for i in range(len(cols)):
        for j in range(i, len(cols)):
            aggs.append(
                F.sum(F.col(cols[i]).cast(dec) * F.col(cols[j]).cast(dec))
                .cast("double")
                .alias(f"p{i}_{j}")
            )
    m = load_table(spark, sf_dir, "lineitem").agg(*aggs)
    n = F.col("n")
    pairs = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            si, sj = F.col(f"s{i}"), F.col(f"s{j}")
            corr = (n * F.col(f"p{i}_{j}") - si * sj) / F.sqrt(
                (n * F.col(f"p{i}_{i}") - si * si) * (n * F.col(f"p{j}_{j}") - sj * sj)
            )
            pairs.append(
                F.struct(
                    F.lit(cols[i]).alias("col_a"),
                    F.lit(cols[j]).alias("col_b"),
                    corr.alias("corr"),
                )
            )
    return m.select(F.explode(F.array(*pairs)).alias("r")).select("r.col_a", "r.col_b", "r.corr")


# ------------------------------------------------- Benford audit

# log10(1 + 1/d), precomputed HERE and injected as literals into BOTH
# engines: neither ever calls a log, so there is no libm-parity risk.
BENFORD_P = {d: math.log10(1 + 1 / d) for d in range(1, 10)}


def _benford_oracle() -> str:
    cases = " ".join(f"WHEN {d} THEN {BENFORD_P[d]!r}" for d in range(1, 10))
    return f"""
WITH digits AS (
    SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1) AS INT) AS digit
    FROM orders WHERE o_totalprice >= 1
),
obs AS (SELECT digit, COUNT(*) AS n_orders FROM digits GROUP BY digit),
tot AS (SELECT SUM(n_orders) AS n FROM obs)
SELECT o.digit, o.n_orders,
       CAST(t.n AS DOUBLE) * (CASE o.digit {cases} END) AS expected,
       (CAST(o.n_orders AS DOUBLE) - CAST(t.n AS DOUBLE) * (CASE o.digit {cases} END))
         * (CAST(o.n_orders AS DOUBLE) - CAST(t.n AS DOUBLE) * (CASE o.digit {cases} END))
         / (CAST(t.n AS DOUBLE) * (CASE o.digit {cases} END)) AS chi2_term
FROM obs o CROSS JOIN tot t
"""


@query("orders_benford_audit", oracle=_benford_oracle())
def q_orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the standard
    financial-forensics screen (fabricated or systematically capped
    amounts bend the leading-digit curve). The first digit comes from
    the DECIMAL(18,2) string rendering (identical in both engines;
    extracting it via log10 would reintroduce libm), the nine expected
    frequencies are Python-precomputed literals, and the chi-square
    terms are pure IEEE arithmetic on exact counts. One scan, one
    9-row agg."""
    from pyspark.sql import functions as F

    digits = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") >= 1)
        .select(
            F.substring(F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
    )
    obs = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n_orders"))
    tot = obs.agg(F.sum("n_orders").alias("n"))
    p = F.col("digit")
    expect_p = None
    for d in range(1, 10):
        expect_p = (
            F.when(p == d, F.lit(BENFORD_P[d]))
            if expect_p is None
            else expect_p.when(p == d, F.lit(BENFORD_P[d]))
        )
    exp = F.col("n").cast("double") * expect_p
    diff = F.col("n_orders").cast("double") - exp
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n_orders",
        exp.alias("expected"),
        (diff * diff / exp).alias("chi2_term"),
    )


from pyspark.sql import functions as F  # noqa: E402


@query(
    "order_price_mad_outliers",
    oracle="""
WITH med AS (
    SELECT o_orderpriority AS prio,
           round(quantile_cont(o_totalprice, 0.5), 6) AS med
    FROM orders GROUP BY o_orderpriority
),
dev AS (
    SELECT prio, med, abs(o_totalprice - med) AS adev
    FROM orders JOIN med ON prio = o_orderpriority
),
mad AS (
    SELECT prio, round(quantile_cont(adev, 0.5), 6) AS mad
    FROM dev GROUP BY prio
)
SELECT d.prio AS o_orderpriority, ANY_VALUE(d.med) AS median_price,
       ANY_VALUE(m.mad) AS mad,
       COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN d.adev > 3.0 * 1.4826 * m.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON m.prio = d.prio
GROUP BY d.prio
""",
)
def q_order_price_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier detection per order priority — the
    z-score's (order_price_outliers) heavy-tail-immune sibling: a few
    extreme prices move mean AND stddev, masking true outliers; the
    median absolute deviation moves by at most one order statistic.
    Threshold 3·1.4826·MAD is the standard normal-consistent cut.
    Plan: two grouped-percentile aggs (median of price, then median of
    |price − median|) with the 5-row stat tables broadcast back — the
    fact scans twice but never sorts globally; the interpolated
    percentiles ride the shared 6-dp quantile contract."""
    orders = load_table(spark, sf_dir, "orders")
    med = orders.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("med")
    )
    dev = orders.join(F.broadcast(med), orders["o_orderpriority"] == med["prio"]).select(
        "prio", "med", F.abs(F.col("o_totalprice") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("prio").agg(F.round(F.expr("percentile(adev, 0.5)"), 6).alias("mad"))
    return (
        dev.join(F.broadcast(mad.withColumnRenamed("prio", "mprio")), F.col("prio") == F.col("mprio"))
        .groupBy(F.col("prio").alias("o_orderpriority"))
        .agg(
            F.any_value("med").alias("median_price"),
            F.any_value("mad").alias("mad"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.when(F.col("adev") > F.lit(3.0) * F.lit(1.4826) * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


from nyc_taxi_data_engineering_spark.operators.sampling import (  # noqa: E402
    hash_bucket,
    hash_bucket_sql,
)


@query(
    "mi_order_priority_status",
    oracle="""
WITH xy AS (
  SELECT o_orderpriority AS priority, o_orderstatus AS status, COUNT(*) AS nxy
  FROM orders GROUP BY o_orderpriority, o_orderstatus
),
mx AS (SELECT priority, SUM(nxy) AS nx FROM xy GROUP BY priority),
my AS (SELECT status, SUM(nxy) AS ny FROM xy GROUP BY status),
tot AS (SELECT SUM(nxy) AS n_tot FROM xy)
SELECT xy.priority, xy.status, xy.nxy AS n_cell,
       round(ln((CAST(xy.nxy AS DOUBLE) * n_tot) / (CAST(nx AS DOUBLE) * ny)), 6)
         AS pmi,
       round((CAST(xy.nxy AS DOUBLE) / n_tot)
             * round(ln((CAST(xy.nxy AS DOUBLE) * n_tot) / (CAST(nx AS DOUBLE) * ny)), 6), 6)
         AS mi_contribution
FROM xy JOIN mx USING (priority) JOIN my USING (status) CROSS JOIN tot
ORDER BY priority, status
""",
)
def q_mi_order_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between order priority and order
    status — the categorical-dependence profile (summing
    mi_contribution gives the mutual information; independence → all
    cells ≈ 0). One hash aggregation produces the contingency table;
    the marginals are re-aggregations of that tiny table joined back
    broadcast — the fact table is scanned exactly once regardless of
    cardinality. ln over integer-count ratios in pinned double shape,
    quantized to 6 dp (the [[dsir-log-contract]] precedent); the
    contribution multiplies the QUANTIZED pmi so both engines sum
    identical terms."""
    orders = load_table(spark, sf_dir, "orders")
    xy = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderstatus").alias("status"),
    ).agg(F.count(F.lit(1)).alias("nxy")).persist()
    mx = xy.groupBy("priority").agg(F.sum("nxy").alias("nx"))
    my = xy.groupBy("status").agg(F.sum("nxy").alias("ny"))
    tot = xy.agg(F.sum("nxy").alias("n_tot"))
    pmi_raw = F.log(
        (F.col("nxy").cast("double") * F.col("n_tot"))
        / (F.col("nx").cast("double") * F.col("ny"))
    )
    pmi_q = F.round(pmi_raw, 6)
    return (
        xy.join(F.broadcast(mx), "priority")
        .join(F.broadcast(my), "status")
        .crossJoin(F.broadcast(tot))
        .select(
            "priority",
            "status",
            F.col("nxy").alias("n_cell"),
            pmi_q.alias("pmi"),
            F.round((F.col("nxy").cast("double") / F.col("n_tot")) * pmi_q, 6).alias(
                "mi_contribution"
            ),
        )
        .orderBy("priority", "status")
    )


_PSI_BIN_W = 50000
_PSI_BINS = 10


@query(
    "psi_split_drift_orders",
    oracle=f"""
WITH binned AS (
  SELECT LEAST(CAST(FLOOR(o_totalprice / {_PSI_BIN_W}) AS INT), {_PSI_BINS - 1}) AS bin,
         {hash_bucket_sql('o_orderkey', 'psi', 2)} AS arm
  FROM orders
),
cells AS (
  SELECT bin,
         SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b
  FROM binned GROUP BY bin
),
tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM cells)
SELECT bin, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round((CAST(n_a + 1 AS DOUBLE) / (ta + {_PSI_BINS})
              - CAST(n_b + 1 AS DOUBLE) / (tb + {_PSI_BINS}))
             * ln((CAST(n_a + 1 AS DOUBLE) / (ta + {_PSI_BINS}))
                  / (CAST(n_b + 1 AS DOUBLE) / (tb + {_PSI_BINS}))), 6) AS psi_term
FROM cells CROSS JOIN tot
ORDER BY bin
""",
)
def q_psi_split_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability index between two md5-hash split halves of
    orders over fixed price bins — the production drift monitor for
    "did this week's data shift vs last week's" (here: arm A vs arm B
    of a deterministic split, so expected PSI ≈ 0). One scan builds
    per-(bin, arm) counts as conditional aggregates; Laplace +1
    smoothing keeps one-sided bins finite. Summing psi_term gives the
    PSI; > 0.2 is the conventional alarm. Pinned double shape + 6 dp."""
    orders = load_table(spark, sf_dir, "orders")
    binned = orders.select(
        F.least(
            F.floor(F.col("o_totalprice") / _PSI_BIN_W).cast("int"), F.lit(_PSI_BINS - 1)
        ).alias("bin"),
        hash_bucket(F.col("o_orderkey"), "psi", 2).alias("arm"),
    )
    cells = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
    ).persist()
    tot = cells.agg(F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"))
    p_a = (F.col("n_a") + 1).cast("double") / (F.col("ta") + _PSI_BINS)
    p_b = (F.col("n_b") + 1).cast("double") / (F.col("tb") + _PSI_BINS)
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_a",
            "n_b",
            F.round((p_a - p_b) * F.log(p_a / p_b), 6).alias("psi_term"),
        )
        .orderBy("bin")
    )


@query(
    "key_skew_diagnostics",
    oracle="""
WITH per AS (
  SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_suppkey
),
tot AS (SELECT COUNT(*) AS n_keys, SUM(cnt) AS n_rows, MAX(cnt) AS max_cnt FROM per),
ranked AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, l_suppkey) AS rk FROM per),
topk AS (SELECT SUM(cnt) AS top_cnt FROM ranked WHERE rk <= 10),
ent AS (
  SELECT SUM(CAST(round(-((CAST(cnt AS DOUBLE) / n_rows)
                          * ln(CAST(cnt AS DOUBLE) / n_rows)), 6)
                  AS DECIMAL(18,6))) AS s_ent
  FROM per CROSS JOIN tot
)
SELECT n_keys, CAST(n_rows AS BIGINT) AS n_rows,
       round(CAST(max_cnt AS DOUBLE) / n_rows, 6) AS max_share,
       round(CAST(top_cnt AS DOUBLE) / n_rows, 6) AS top10_share,
       CAST(s_ent AS DOUBLE) AS entropy,
       CASE WHEN n_keys > 1 THEN
            round(CAST(s_ent AS DOUBLE) / ln(CAST(n_keys AS DOUBLE)), 6) END
         AS entropy_ratio
FROM tot CROSS JOIN topk CROSS JOIN ent
""",
)
def q_key_skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew profile of lineitem's supplier key: key count,
    hottest-key share, top-10 share, and Shannon entropy vs the uniform
    maximum — the diagnostic that decides whether a join on this key
    needs salting ([[skew-salting]]) before it burns an executor. The
    fact table collapses to one row per key in a single map-side-combined
    aggregation; every ranking/window after that touches only the key
    table. Entropy terms are 6-dp-quantized pre-sum (decimal transport)
    so both engines add identical numbers."""
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt")).persist()
    tot = per.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
    )
    # top-10 hottest keys via TakeOrderedAndProject (per-partition
    # top-K merge) — no single-partition rank window on the key grain
    topk = (
        per.orderBy(F.col("cnt").desc(), F.col("l_suppkey"))
        .limit(10)
        .agg(F.sum("cnt").alias("top_cnt"))
    )
    p = F.col("cnt").cast("double") / F.col("n_rows")
    ent = (
        per.crossJoin(F.broadcast(tot))
        .select(F.round(-(p * F.log(p)), 6).cast("decimal(18,6)").alias("term"))
        .agg(F.sum("term").alias("s_ent"))
    )
    return (
        tot.crossJoin(F.broadcast(topk))
        .crossJoin(F.broadcast(ent))
        .select(
            "n_keys",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.round(F.col("max_cnt").cast("double") / F.col("n_rows"), 6).alias(
                "max_share"
            ),
            F.round(F.col("top_cnt").cast("double") / F.col("n_rows"), 6).alias(
                "top10_share"
            ),
            F.col("s_ent").cast("double").alias("entropy"),
            # n_keys <= 1: ln(0) ERRORS in DuckDB (Spark yields NULL) and
            # ln(1)=0 divides by zero — pinned NULL in both engines
            F.when(
                F.col("n_keys") > 1,
                F.round(
                    F.col("s_ent").cast("double")
                    / F.log(F.col("n_keys").cast("double")),
                    6,
                ),
            ).alias("entropy_ratio"),
        )
    )
