"""Deterministic sketches for cardinality and frequency estimation —
the approximate-counting toolkit a 100 TB pipeline reaches for when an
exact ``COUNT(DISTINCT ...)`` or a full frequency table is the
bottleneck, built hash-deterministic so every estimate is
reproducible AND oracle-checkable row by row (the reason these are
md5-based rather than Spark's built-in approx_count_distinct /
approx_percentile, whose HLL++/KLL internals no second engine can
replay):

- **KMV (k minimum values)** distinct-count estimator (Bar-Yossef et
  al., RANDOM 2002): keep the k smallest hash values of a column; the
  k-th smallest, as a fraction of the hash space, estimates density →
  ``(k-1) / u_k`` estimates distinct count. Mergeable (union = merge
  the k-minima sets), per-group, one shuffle.
- **Count-min sketch** (Cormode & Muthukrishnan, J.Alg 2005): d
  seeded hash rows × w buckets of counters; a token's estimate is the
  MIN over its d counters — always ≥ the true count, with the
  overestimate bounded by the collision mass n/w per row. The counter
  table is d·w rows (a broadcastable aggregate of one explode), so
  frequency queries never re-touch the corpus.

Hashes derive from md5 prefixes exactly like operators/sampling's
bucket hash, so DuckDB evaluates the identical sketch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# 15 hex chars = 60 bits: fits a signed long exactly; the double
# division below rounds identically (IEEE nearest) on both engines.
_HASH_HEX_CHARS = 15
_HASH_SPACE = float(1 << 60)

KMV_K = 64
CMS_DEPTH = 4
CMS_WIDTH = 256


def hash_fraction(c: Column) -> Column:
    """Deterministic u ∈ [0, 1) from the first 60 bits of md5(value)."""
    h = F.conv(F.substring(F.md5(c.cast("string")), 1, _HASH_HEX_CHARS), 16, 10).cast("long")
    return h.cast("double") / F.lit(_HASH_SPACE)


def hash_fraction_sql(expr: str) -> str:
    return (
        f"(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, {_HASH_HEX_CHARS}))::BIGINT"
        f" / {_HASH_SPACE})"
    )


def kmv_distinct(df: DataFrame, group: str, value: str) -> DataFrame:
    """Per-group KMV distinct-count estimate: (group, n_hashes_kept,
    kth_min, est_distinct). Groups with fewer than k distinct values
    report the EXACT count (the sketch holds every hash — the standard
    small-set exactness of KMV).

    Shape: distinct on (group, value-hash) — one shuffle with map-side
    combine — then a per-group top-k window over the surviving hash
    set and a tiny final agg. At scale the window input is already the
    deduped hash set, and mergeability means tiers/partitions can
    pre-sketch and union."""
    hashed = df.select(F.col(group), hash_fraction(F.col(value)).alias("u")).distinct()
    w = Window.partitionBy(group).orderBy("u")
    kept = hashed.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= KMV_K)
    return (
        kept.groupBy(group)
        .agg(F.count(F.lit(1)).alias("n_hashes_kept"), F.max("u").alias("kth_min"))
        .select(
            group,
            "n_hashes_kept",
            F.round("kth_min", 9).alias("kth_min"),
            F.round(
                F.when(F.col("n_hashes_kept") < KMV_K, F.col("n_hashes_kept").cast("double")).otherwise(
                    (KMV_K - 1) / F.col("kth_min")
                ),
                3,
            ).alias("est_distinct"),
        )
    )


def cms_bucket(c: Column, row: int) -> Column:
    """Counter column for hash row ``row``: md5(row|value) prefix mod CMS_WIDTH."""
    h = F.md5(F.concat_ws("|", F.lit(str(row)), c.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % CMS_WIDTH).cast("int")


def cms_bucket_sql(expr: str, row: int) -> str:
    concat = f"'{row}' || '|' || CAST({expr} AS VARCHAR)"
    return f"CAST(('0x' || substr(md5({concat}), 1, 8))::BIGINT % {CMS_WIDTH} AS INT)"


def cms_counters(df: DataFrame, value: str) -> DataFrame:
    """The d×w counter table (hash_row, bucket, cnt): one explode of
    depth bucket assignments per input row, then a hash agg whose
    output is at most d·w rows — broadcastable no matter the corpus."""
    rows = F.array(
        *[
            F.struct(F.lit(j).alias("hash_row"), cms_bucket(F.col(value), j).alias("bucket"))
            for j in range(CMS_DEPTH)
        ]
    )
    return (
        df.select(F.explode(rows).alias("rb"))
        .groupBy(F.col("rb.hash_row").alias("hash_row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(candidates: DataFrame, counters: DataFrame, value: str) -> DataFrame:
    """Point-query the sketch for every candidate row: join each of
    the d (hash_row, bucket) keys against the broadcast counter table
    and take the min. Adds ``cms_est``."""
    est = None
    for j in range(CMS_DEPTH):
        cj = counters.filter(F.col("hash_row") == j).select(
            F.col("bucket").alias(f"b{j}"), F.col("cnt").alias(f"c{j}")
        )
        candidates = candidates.join(
            F.broadcast(cj), cms_bucket(F.col(value), j) == F.col(f"b{j}")
        ).drop(f"b{j}")
        col_j = F.col(f"c{j}")
        est = col_j if est is None else F.least(est, col_j)
    return candidates.withColumn("cms_est", est).drop(*[f"c{j}" for j in range(CMS_DEPTH)])


HIST_BUCKETS = 256


def histogram_quantiles(df: DataFrame, value: str, quantiles: list[float]) -> DataFrame:
    """Single-pass mergeable quantile estimation from a fixed-grid
    histogram: bucket every value on an equi-width [min, max] grid
    (one scan after a min/max/count pre-pass), cumulate the ≤W-row
    histogram, and linearly interpolate inside the bucket holding each
    target rank. The scale path where exact ``percentile`` (sort-based
    agg; see nation_order_percentiles) stops being affordable —
    per-partition histograms merge by addition, the error is bounded
    by one bucket width, and unlike percentile_approx's KLL internals
    every arithmetic step replays in a second engine.

    Returns (quantile, est_value) per requested quantile, values
    rounded to 6 dp."""
    stats = df.agg(
        F.min(value).alias("lo"),
        F.max(value).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    width = (F.col("hi") - F.col("lo")) / HIST_BUCKETS
    # degenerate grid (all values equal): every row lands in bucket 0
    # rather than dividing by a zero width
    bucket = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(F.floor((F.col(value) - F.col("lo")) / width), F.lit(HIST_BUCKETS - 1))
    ).cast("int")
    hist = (
        df.crossJoin(F.broadcast(stats))
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("bucket")  # sketch register grain, fixed 2^p buckets
    cum = hist.select(
        "bucket",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        (F.sum("cnt").over(w) - F.col("cnt")).alias("cum_before"),
    )
    qs = F.array(*[F.lit(float(q)) for q in quantiles])
    targets = (
        stats.select(F.explode(qs).alias("quantile"), "lo", "hi", "n")
        .withColumn("t", F.col("quantile") * F.col("n"))
    )
    # first bucket whose cumulative count reaches the target rank —
    # argmin folded into the same min(struct) hash-agg shape as PQ
    pick = (
        targets.join(F.broadcast(cum), F.col("cum") >= F.col("t"))
        .groupBy("quantile", "lo", "hi", "n", "t")
        .agg(F.min(F.struct("bucket", "cnt", "cum_before")).alias("b"))
    )
    width_v = (F.col("hi") - F.col("lo")) / HIST_BUCKETS
    est = F.col("lo") + width_v * (
        F.col("b.bucket") + (F.col("t") - F.col("b.cum_before")) / F.col("b.cnt")
    )
    return pick.select("quantile", F.round(est, 6).alias("est_value")).orderBy("quantile")


def histogram_quantiles_sql(table: str, value: str, quantiles: list[float]) -> str:
    """DuckDB twin of :func:`histogram_quantiles`."""
    qlist = ", ".join(str(float(q)) for q in quantiles)
    return f"""
WITH stats AS (
    SELECT MIN({value}) AS lo, MAX({value}) AS hi, COUNT(*) AS n FROM {table}
),
hist AS (
    SELECT CASE WHEN hi = lo THEN 0
                ELSE LEAST(FLOOR(({value} - lo) / ((hi - lo) / {HIST_BUCKETS})), {HIST_BUCKETS - 1}) END::INT AS bucket,
           COUNT(*) AS cnt
    FROM {table}, stats GROUP BY 1
),
cum AS (
    SELECT bucket, cnt,
           SUM(cnt) OVER (ORDER BY bucket) AS cum,
           SUM(cnt) OVER (ORDER BY bucket) - cnt AS cum_before
    FROM hist
),
targets AS (
    SELECT unnest([{qlist}]) AS quantile, lo, hi, n FROM stats
),
pick AS (
    SELECT quantile, lo, hi, n, quantile * n AS t,
           MIN({{'bucket': bucket, 'cnt': cnt, 'cum_before': cum_before}}) AS b
    FROM targets JOIN cum ON cum >= quantile * n
    GROUP BY quantile, lo, hi, n
)
SELECT quantile,
       round(lo + ((hi - lo) / {HIST_BUCKETS}) * (b.bucket + (t - b.cum_before) / b.cnt), 6) AS est_value
FROM pick ORDER BY quantile"""


# --------------------------------------------------------- HyperLogLog

# - **HyperLogLog** (Flajolet et al., AofA 2007): the industry-standard
#   mergeable cardinality sketch. Register index = 16 md5 bits mod m,
#   rho = leading-zero count of the next 52 bits + 1, registers merge
#   by MAX. The raw estimate alpha_m * m^2 / sum(2^-rho) is computed
#   here entirely in INTEGER arithmetic — every 2^-rho term scales to
#   the exact integer 2^(52-rho), and the register sum stays < 2^63 —
#   so the only float op is one final division: bit-identical across
#   engines, no libm anywhere (rho comes from length(bin(x)), not
#   log2; the small-range linear-counting correction is deliberately
#   omitted because it needs ln(), and the raw estimate is itself the
#   oracle-checked quantity).
HLL_P = 10
HLL_M = 1 << HLL_P  # 1024 registers
HLL_RHO_BITS = 52  # 13 hex chars -> positive signed long
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
_HLL_SCALE = float(HLL_M * HLL_M * (1 << HLL_RHO_BITS))  # alpha numerator


def hll_registers(df: DataFrame, group: str, value: str) -> DataFrame:
    """(group, reg, max_rho): the merged register table — the sketch
    itself. m rows per group at most; mergeable by a further MAX."""
    h = F.md5(F.col(value).cast("string"))
    reg = (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % HLL_M).alias("reg")
    x = F.conv(F.substring(h, 5, 13), 16, 10).cast("long")
    rho = F.when(x == 0, F.lit(HLL_RHO_BITS + 1)).otherwise(
        F.lit(HLL_RHO_BITS + 1) - F.length(F.bin(x))
    )
    return (
        df.select(F.col(group).alias(group), reg, rho.alias("rho"))
        .groupBy(group, "reg")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate(regs: DataFrame, group: str) -> DataFrame:
    """(group, n_registers_used, est_distinct) from a register table:
    observed registers contribute the exact integer 2^(52-rho), the
    m - used empty ones 2^52 each; the single float op is the final
    alpha*m^2*2^52 / S division."""
    # pyspark's shiftleft() only takes a literal bit count; the SQL
    # function accepts a column expression for it
    term = F.expr(f"shiftleft(CAST(1 AS BIGINT), greatest({HLL_RHO_BITS} - max_rho, 0))")
    per_group = regs.groupBy(group).agg(
        F.count(F.lit(1)).alias("n_registers_used"),
        F.sum(term).alias("s_observed"),
    )
    empty = (F.lit(HLL_M).cast("long") - F.col("n_registers_used")) * F.lit(
        1 << HLL_RHO_BITS
    ).cast("long")
    s_total = (F.col("s_observed") + empty).cast("double")
    return per_group.select(
        group,
        "n_registers_used",
        F.round(F.lit(HLL_ALPHA) * F.lit(_HLL_SCALE) / s_total, 3).alias("est_distinct"),
    )


def hll_sql(from_cte: str, group: str, value: str) -> str:
    """DuckDB twin over a CTE named ``from_cte`` with (group, value)
    columns; yields (group, n_registers_used, est_distinct)."""
    h = f"md5(CAST({value} AS VARCHAR))"
    reg = f"(('0x' || substr({h}, 1, 4))::BIGINT % {HLL_M})"
    x = f"('0x' || substr({h}, 5, 13))::BIGINT"
    rho = f"(CASE WHEN {x} = 0 THEN {HLL_RHO_BITS + 1} ELSE {HLL_RHO_BITS + 1} - length(bin({x})) END)"
    return f"""regs AS (
    SELECT {group}, {reg} AS reg, MAX({rho}) AS max_rho
    FROM {from_cte} GROUP BY {group}, {reg}
),
hll AS (
    SELECT {group},
           COUNT(*) AS n_registers_used,
           SUM((1::BIGINT) << greatest({HLL_RHO_BITS} - max_rho, 0)) AS s_observed
    FROM regs GROUP BY {group}
),
est AS (
    SELECT {group}, n_registers_used,
           round({HLL_ALPHA!r} * {_HLL_SCALE!r}
                 / CAST(s_observed + ({HLL_M}::BIGINT - n_registers_used) * {1 << HLL_RHO_BITS}::BIGINT AS DOUBLE),
                 3) AS est_distinct
    FROM hll
)"""
