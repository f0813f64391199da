"""Time-series regularization queries: calendar gap-fill + forward
fill over the supplier daily-revenue series (operators/timeseries.py
applied to the flagship revenue rollup)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table
from nyc_taxi_data_engineering_spark.functions import (
    portable_round,
    portable_round_sql,
    stable_sum,
    stable_sum_sql,
)
from nyc_taxi_data_engineering_spark.operators import pin
from nyc_taxi_data_engineering_spark.operators.timeseries import forward_fill, gap_fill
from nyc_taxi_data_engineering_spark.queries.registry import query

# One year keeps the dense spine ~365 x |suppliers| — representative
# without exploding the oracle compare. The range predicate (not
# year()) reaches the parquet scan as a pushed filter. 1996, not 1994:
# the synthetic shipdates span 1995-2001, and an out-of-range window
# passes the gate TRIVIALLY on 0 rows (caught in round 8 when the
# interpolation twin also came back empty).
_LO, _HI = "1996-01-01", "1997-01-01"


@query(
    "supplier_daily_gapfill",
    oracle=f"""
WITH daily AS (
  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
         {stable_sum_sql('l_extendedprice * (1 - l_discount)', 4, 23)} AS rev,
         COUNT(*) AS n_trips
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{_LO}' AND l_shipdate < TIMESTAMP '{_HI}'
  GROUP BY 1, 2
),
bounds AS (SELECT l_suppkey, MIN(d) AS lo, MAX(d) AS hi FROM daily GROUP BY 1),
spine AS (
  SELECT l_suppkey, CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
  FROM bounds
)
SELECT s.l_suppkey, strftime(s.d, '%Y-%m-%d') AS ship_date,
       daily.rev IS NULL AS is_gap,
       daily.rev AS rev,
       last_value(daily.rev IGNORE NULLS) OVER (
         PARTITION BY s.l_suppkey ORDER BY s.d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rev_ff,
       COALESCE(daily.n_trips, 0) AS n_trips
FROM spine s LEFT JOIN daily ON s.l_suppkey = daily.l_suppkey AND s.d = daily.d
""",
)
def q_supplier_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-supplier daily revenue: every day in each supplier's
    observed 1996 range appears, gaps flagged and forward-filled with
    the last traded value. Spine generation is per-key sequence +
    explode (distributed, no driver calendar); the fill is one
    per-supplier running window. Dense output is |suppliers| x ~365
    regardless of fact skew."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(_LO)) & (F.col("l_shipdate") < F.lit(_HI))
    )
    daily = li.groupBy(
        "l_suppkey", F.col("l_shipdate").cast("date").alias("d")
    ).agg(
        stable_sum(
            F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), 4, 23
        ).alias("rev"),
        F.count(F.lit(1)).alias("n_trips"),
    )
    filled = gap_fill(daily, "l_suppkey", "d", ["rev"])
    ff = forward_fill(filled, "l_suppkey", "d", ["rev"])
    return ff.select(
        "l_suppkey",
        F.date_format("d", "yyyy-MM-dd").alias("ship_date"),
        "is_gap",
        "rev",
        F.col("rev_ff"),
        F.coalesce("n_trips", F.lit(0)).alias("n_trips"),
    )


ANOMALY_LOOKBACK = 24  # trailing hours in the baseline window
ANOMALY_MIN_HISTORY = 12  # hours of history before scoring starts


@query(
    "events_rate_anomaly",
    oracle=f"""
WITH hours AS (
    SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS hour,
           COUNT(*) AS c
    FROM events GROUP BY 1
),
w AS (
    SELECT hour, c,
           SUM(c) OVER win AS s,
           SUM(c * c) OVER win AS sq,
           COUNT(*) OVER win AS n
    FROM hours
    WINDOW win AS (ORDER BY hour
                   ROWS BETWEEN {ANOMALY_LOOKBACK} PRECEDING AND 1 PRECEDING)
),
m AS (
    SELECT hour, c, n,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_trailing,
           CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) AS msq
    FROM w
)
SELECT hour, c AS n_events, mean_trailing,
       (CAST(c AS DOUBLE) - mean_trailing)
           / sqrt(msq - mean_trailing * mean_trailing) AS z_score,
       (CAST(c AS DOUBLE) - mean_trailing)
           / sqrt(msq - mean_trailing * mean_trailing) > 3.0 AS is_anomaly
FROM m
WHERE n >= {ANOMALY_MIN_HISTORY} AND msq - mean_trailing * mean_trailing > 0
""",
)
def q_events_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding z-score anomaly detection on the event rate — the
    ops-monitoring primitive (rate spike / drop flagging) computed the
    scale-correct way: raw events collapse to an HOURLY series first
    (one hash agg with map-side combine), and the trailing-24h window
    runs over that TINY series, not the data. Baseline mean/variance
    derive from integer sums (counts and squared counts), so every
    double is division/sqrt of exact integers — bit-identical in both
    engines with no rounding anywhere. Scoring starts after 12 hours
    of history; zero-variance baselines are excluded."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hours = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.col("w.start").alias("hour"), "c")
    )
    win = Window.orderBy("hour").rowsBetween(-ANOMALY_LOOKBACK, -1)  # hour grain, calendar-bounded
    w = hours.select(
        "hour",
        "c",
        F.sum("c").over(win).alias("s"),
        F.sum(F.col("c") * F.col("c")).over(win).alias("sq"),
        F.count(F.lit(1)).over(win).alias("n"),
    )
    mean = F.col("s").cast("double") / F.col("n").cast("double")
    m = w.select("hour", "c", "n", mean.alias("mean_trailing"),
                 (F.col("sq").cast("double") / F.col("n").cast("double")).alias("msq"))
    var = F.col("msq") - F.col("mean_trailing") * F.col("mean_trailing")
    z = (F.col("c").cast("double") - F.col("mean_trailing")) / F.sqrt(var)
    return (
        m.filter((F.col("n") >= ANOMALY_MIN_HISTORY) & (var > 0))
        .select(
            "hour",
            F.col("c").alias("n_events"),
            "mean_trailing",
            z.alias("z_score"),
            (z > 3.0).alias("is_anomaly"),
        )
    )


EWMA_LAGS = 8  # trailing hours in the exponential baseline
EWMA_SPIKE_FACTOR = 2.0


def _ewma_sql_terms() -> tuple[str, str]:
    num = " + ".join(
        f"CASE WHEN lag(c, {k}) OVER win IS NULL THEN 0.0 "
        f"ELSE CAST(lag(c, {k}) OVER win AS DOUBLE) * {2.0 ** -k!r} END"
        for k in range(1, EWMA_LAGS + 1)
    )
    den = " + ".join(
        f"CASE WHEN lag(c, {k}) OVER win IS NULL THEN 0.0 ELSE {2.0 ** -k!r} END"
        for k in range(1, EWMA_LAGS + 1)
    )
    return num, den


_EWMA_NUM, _EWMA_DEN = _ewma_sql_terms()


@query(
    "events_ewma_spikes",
    oracle=f"""
WITH hours AS (
    SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS hour,
           COUNT(*) AS c
    FROM events GROUP BY 1
),
w AS (
    SELECT hour, c, {_EWMA_NUM} AS num, {_EWMA_DEN} AS den
    FROM hours
    WINDOW win AS (ORDER BY hour)
)
SELECT hour, c AS n_events,
       num / den AS ewma_trailing,
       CAST(c AS DOUBLE) / (num / den) AS rate_ratio,
       CAST(c AS DOUBLE) > {EWMA_SPIKE_FACTOR} * (num / den) AS is_spike
FROM w
WHERE den > 0
""",
)
def q_events_ewma_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA rate baseline + spike flags — the smoothing alternative to
    the sliding z-score (events_rate_anomaly): recent hours dominate
    the baseline with exponentially decaying half-life-1h weights.
    Same scale shape: raw events collapse to the HOURLY series first
    (one map-side-combined hash agg), the lag window runs over the
    tiny series only. Weights are binary fractions (2^-k) so every
    term count*2^-k is EXACT in doubles, and the 8-term sums are
    written in the same left-to-right order in both engines —
    bit-identical with no rounding contract needed. Boundary hours
    normalize by the weight mass actually present."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hours = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.col("w.start").alias("hour"), "c")
    )
    win = Window.orderBy("hour")  # hour grain, calendar-bounded
    zero = F.lit(0.0)
    num = zero
    den = zero
    for k in range(1, EWMA_LAGS + 1):
        lagc = F.lag("c", k).over(win)
        wk = F.lit(2.0 ** -k)
        num = num + F.when(lagc.isNull(), zero).otherwise(lagc.cast("double") * wk)
        den = den + F.when(lagc.isNull(), zero).otherwise(wk)
    w = hours.select("hour", "c", num.alias("num"), den.alias("den"))
    ewma = F.col("num") / F.col("den")
    return (
        w.filter(F.col("den") > 0)
        .select(
            "hour",
            F.col("c").alias("n_events"),
            ewma.alias("ewma_trailing"),
            (F.col("c").cast("double") / ewma).alias("rate_ratio"),
            (F.col("c").cast("double") > F.lit(EWMA_SPIKE_FACTOR) * ewma).alias("is_spike"),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM change-point detection over the hourly event-rate series
# ---------------------------------------------------------------------------
#
# One-sided CUSUM statistics against the series' own mean, computed by
# the prefix-sum identity  S+_t = P_t - min_{0<=j<=t} P_j  (and the
# mirrored S-_t with max), where P_t = sum_{i<=t} (c_i - mean). To keep
# the oracle exact, everything is SCALED BY n (the hour count):
# n*P_t = n*prefix_t - t*total is INTEGER arithmetic, the running
# min/max stay integers, and the single terminal division of two exact
# integers is the same IEEE double in both engines — no rounding
# contract needed anywhere.

@query(
    "events_cusum_changepoint",
    oracle="""
WITH hours AS (
    SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS hour,
           COUNT(*) AS c
    FROM events GROUP BY 1
),
tot AS (SELECT COUNT(*) AS n, SUM(c) AS total FROM hours),
p AS (
    SELECT hour, c,
           (SELECT n FROM tot) * SUM(c) OVER w
             - ROW_NUMBER() OVER w * (SELECT total FROM tot) AS scaled
    FROM hours
    WINDOW w AS (ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
s AS (
    SELECT hour, c, scaled,
           LEAST(0, MIN(scaled) OVER w) AS lo,
           GREATEST(0, MAX(scaled) OVER w) AS hi
    FROM p
    WINDOW w AS (ORDER BY hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT hour, c AS n_events,
       CAST(scaled - lo AS DOUBLE) / (SELECT CAST(n AS DOUBLE) FROM tot) AS cusum_up,
       CAST(hi - scaled AS DOUBLE) / (SELECT CAST(n AS DOUBLE) FROM tot) AS cusum_down
FROM s
""",
)
def q_events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour CUSUM change-point statistics for the event rate:
    cusum_up peaks where a sustained upward level shift ends, cusum_down
    where a downward one does — the classic sequential-detection
    companion to the EWMA spike flags (events_ewma_spikes), sensitive to
    small persistent shifts a point-wise threshold misses. Scale shape:
    raw events collapse to the hourly series FIRST (one map-side-combined
    hash agg over the fact — the only big-data pass), then three windows
    run over the tiny series; the 1-row (n, total) aggregate enters as a
    broadcast. The n-scaled integer formulation keeps the whole
    recursion exact (see module comment)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hours = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.col("w.start").alias("hour"), "c")
    )
    tot = hours.agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("total")
    )
    w = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, Window.currentRow)  # hour grain, calendar-bounded
    rn = F.row_number().over(Window.orderBy("hour"))  # hour grain, calendar-bounded
    p = (
        hours.crossJoin(F.broadcast(tot))
        .select(
            "hour",
            "c",
            "n",
            (F.col("n") * F.sum("c").over(w) - rn * F.col("total")).alias("scaled"),
        )
    )
    s = p.select(
        "hour",
        "c",
        "n",
        "scaled",
        F.least(F.lit(0).cast("long"), F.min("scaled").over(w)).alias("lo"),
        F.greatest(F.lit(0).cast("long"), F.max("scaled").over(w)).alias("hi"),
    )
    return s.select(
        "hour",
        F.col("c").alias("n_events"),
        ((F.col("scaled") - F.col("lo")).cast("double") / F.col("n").cast("double")).alias(
            "cusum_up"
        ),
        ((F.col("hi") - F.col("scaled")).cast("double") / F.col("n").cast("double")).alias(
            "cusum_down"
        ),
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast + error metrics over daily revenue
# ---------------------------------------------------------------------------

@query(
    "daily_revenue_forecast_eval",
    oracle=f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d,
           {stable_sum_sql('o_totalprice', 2, 23)} AS rev
    FROM orders GROUP BY 1
),
joined AS (
    SELECT a.d, a.rev, f.rev AS fc
    FROM daily a JOIN daily f ON f.d = a.d - INTERVAL 7 DAY
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       {stable_sum_sql('ABS(rev - fc)', 2, 23)} / COUNT(*) AS mae,
       {stable_sum_sql('rev - fc', 2, 23)} / COUNT(*) AS bias,
       {stable_sum_sql(f"CASE WHEN rev <> 0 THEN {portable_round_sql('ABS(rev - fc) / rev', 9)} END", 9, 18)}
         / COUNT(CASE WHEN rev <> 0 THEN 1 END) AS mape
FROM joined
""",
)
def q_daily_revenue_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive backtest on the daily revenue series: forecast
    each day with the value seven days earlier (the strongest cheap
    baseline for weekly-seasonal series and the yardstick any real
    model must beat), scored with MAE / bias / MAPE over every day
    that has a lag-7 partner. One fact scan collapses to the daily
    series; the lag is a keyed self-join on the tiny series (an exact
    calendar shift — window lag would silently mis-lag across date
    gaps). Revenue is decimal-exact; MAPE's per-day ratio is an IEEE
    division of two exact doubles rounded to a 9-dp grid before the
    decimal sum, so every metric replays bit-identically. Zero-revenue
    days are excluded from MAPE by the standard convention (the ratio
    is undefined there; ANSI mode would error) — identical CASE +
    count-of-defined-terms denominator on both engines, a no-op on
    data without zero days."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        stable_sum("o_totalprice", 2, 23).alias("rev")
    )
    fc = daily.select(F.col("d").alias("fd"), F.col("rev").alias("fc"))
    joined = daily.join(fc, F.col("fd") == F.date_sub(F.col("d"), 7)).select("d", "rev", "fc")
    diff = F.col("rev") - F.col("fc")
    n = F.count(F.lit(1))
    # portable_round, not native round: the per-day ratio is an
    # off-grid double, the exact cross-engine half-rounding hazard the
    # r11 sweep flushed in revenue_seasonal_dow (|ratio| is O(1), far
    # inside the 2^53/1e9 bound).
    mape_term = F.when(
        F.col("rev") != 0, portable_round(F.abs(diff) / F.col("rev"), 9)
    )
    return joined.agg(
        n.cast("long").alias("n_days"),
        (stable_sum(F.abs(diff), 2, 23) / n).alias("mae"),
        (stable_sum(diff, 2, 23) / n).alias("bias"),
        (stable_sum(mape_term, 9, 18) / F.count(mape_term)).alias("mape"),
    )


# ---------------------------------------------------------------------------
# DAU / trailing-7-day WAU / stickiness
# ---------------------------------------------------------------------------

@query(
    "events_dau_wau_stickiness",
    oracle="""
WITH ud AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
spread AS (
    SELECT user_id, CAST(unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS wday
    FROM ud
),
wau AS (SELECT wday, COUNT(DISTINCT user_id) AS wau FROM spread GROUP BY 1)
SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau,
       CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
FROM dau JOIN wau ON wau.wday = dau.day
""",
)
def q_events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users, trailing-7-day weekly active users, and the
    DAU/WAU stickiness ratio per day — the engagement-health readout
    every product pipeline ships. The trailing-window COUNT DISTINCT
    (which no range-window can express) becomes a scatter: each (user,
    day) contributes membership to the 7 window-end days it covers via
    an exploded date sequence, then one distinct hash agg per window
    end. Linear in events x7, no self-join of the fact against itself,
    no window over users; the integer ratio divides exactly."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    dau = ud.groupBy("day").agg(F.count_distinct("user_id").alias("dau"))
    spread = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias("wday"),
    )
    wau = spread.groupBy("wday").agg(F.count_distinct("user_id").alias("wau"))
    return (
        dau.join(wau, dau["day"] == wau["wday"])
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau").cast("double")).alias("stickiness"),
        )
    )


@query(
    "supplier_daily_interpolate",
    oracle=f"""
WITH daily AS (
  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
         {stable_sum_sql('l_extendedprice * (1 - l_discount)', 4, 23)} AS rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{_LO}' AND l_shipdate < TIMESTAMP '{_HI}'
  GROUP BY 1, 2
),
bounds AS (SELECT l_suppkey, MIN(d) AS lo, MAX(d) AS hi FROM daily GROUP BY 1),
spine AS (
  SELECT l_suppkey, CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
  FROM bounds
),
dense AS (
  SELECT s.l_suppkey, s.d, daily.rev
  FROM spine s LEFT JOIN daily ON s.l_suppkey = daily.l_suppkey AND s.d = daily.d
),
anchored AS (
  SELECT l_suppkey, d, rev,
         last_value(CASE WHEN rev IS NOT NULL THEN d END IGNORE NULLS)
           OVER wb AS pd,
         last_value(rev IGNORE NULLS) OVER wb AS pv,
         first_value(CASE WHEN rev IS NOT NULL THEN d END IGNORE NULLS)
           OVER wf AS nd,
         first_value(rev IGNORE NULLS) OVER wf AS nv
  FROM dense
  WINDOW wb AS (PARTITION BY l_suppkey ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY l_suppkey ORDER BY d
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT l_suppkey, strftime(d, '%Y-%m-%d') AS ship_date,
       rev IS NULL AS is_gap,
       rev,
       CASE WHEN rev IS NOT NULL THEN rev
            WHEN pd IS NOT NULL AND nd IS NOT NULL
            THEN pv + (nv - pv) * (CAST(d - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE))
       END AS rev_li
FROM anchored
""",
)
def q_supplier_daily_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation across each supplier's daily-revenue gaps —
    the smoother companion to supplier_daily_gapfill's step-function
    forward fill (a 3-day gap between 100 and 400 reads 175/250/325,
    not 100/100/100; the right pre-processing for trend models that
    can't see gap flags). Same dense-spine construction; the fill is
    two per-key anchored windows and a straight-line projection whose
    fraction divides exact integer day counts — bit-identical doubles
    in both engines with no rounding contract."""
    from nyc_taxi_data_engineering_spark.operators.timeseries import linear_interpolate

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(_LO)) & (F.col("l_shipdate") < F.lit(_HI))
    )
    daily = li.groupBy(
        "l_suppkey", F.col("l_shipdate").cast("date").alias("d")
    ).agg(
        stable_sum(
            F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), 4, 23
        ).alias("rev")
    )
    dense = gap_fill(daily, "l_suppkey", "d", ["rev"])
    out = linear_interpolate(dense, "l_suppkey", "d", "rev", "rev_li")
    return out.select(
        "l_suppkey",
        F.date_format("d", "yyyy-MM-dd").alias("ship_date"),
        "is_gap",
        "rev",
        "rev_li",
    )


_ACF_MAX_LAG = 7

_ACF_MOMENTS_SQL = """
daily AS (
  SELECT o_orderdate AS d,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(14,2)) AS x
  FROM orders GROUP BY o_orderdate
),
idx AS (SELECT row_number() OVER (ORDER BY d) AS rn,
               x, CAST(x AS DECIMAL(19,2)) AS xw FROM daily),
ks AS (SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6),(7)) AS t(k)),
gmo AS (
  SELECT COUNT(*) AS n, SUM(x) AS s, SUM(xw * xw) AS ssq FROM idx
),
perk AS (
  -- anchored on ks (LEFT JOIN the day series) so every lag keeps its
  -- row even over an EMPTY series — matching the Spark side, which
  -- explodes a literal 7-entry array; on non-empty input this is the
  -- same cross join as before
  SELECT ks.k,
         SUM(a.xw * b.xw) AS p,
         SUM(CASE WHEN b.x IS NOT NULL THEN a.x END) AS h,
         SUM(b.x) AS t,
         COUNT(b.x) AS nk
  FROM ks
  LEFT JOIN idx a ON TRUE
  LEFT JOIN idx b ON b.rn = a.rn + ks.k
  GROUP BY ks.k
)
"""


@query(
    "revenue_acf_lags",
    oracle=f"""
WITH {_ACF_MOMENTS_SQL}
SELECT k AS lag_k, nk AS n_pairs,
       round((CAST(p AS DOUBLE)
              - (CAST(s AS DOUBLE) / n) * (CAST(h AS DOUBLE) + CAST(t AS DOUBLE))
              + nk * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
             / (CAST(ssq AS DOUBLE) - (CAST(s AS DOUBLE) / n) * CAST(s AS DOUBLE)), 6)
         AS acf
FROM perk CROSS JOIN gmo
ORDER BY lag_k
""",
)
def q_revenue_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the daily order-revenue series.

    100 TB shape: the full fact table collapses to one row per day in
    a single hash aggregation (map-side combine), and every window /
    lead after that touches only the ~thousands-of-rows day series —
    the same pre-aggregate-then-window contract as the rolling-revenue
    and CUSUM queries. Exactness: per-day totals are quantized to
    DECIMAL(18,4), so cross-products and their sums are exact decimals
    in both engines; the centered numerator is recovered algebraically
    (P − m(H+T) + n_k m²) from exact moments in pinned double shape —
    no order-dependent double summation anywhere. The oracle replays
    the lead as an rn self-join; lead(x,k) over the day index is the
    same pairing."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .cast("decimal(14,2)")
        .alias("x")
    )
    w = Window.orderBy("d")  # day grain, calendar-bounded
    leads = daily.select(
        "x", *[F.lead("x", k).over(w).alias(f"x{k}") for k in range(1, _ACF_MAX_LAG + 1)]
    )
    aggs = [
        F.count("x").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ssq"),
    ]
    for k in range(1, _ACF_MAX_LAG + 1):
        xk = F.col(f"x{k}")
        aggs += [
            F.sum(F.col("x") * xk).alias(f"p{k}"),
            F.sum(F.when(xk.isNotNull(), F.col("x"))).alias(f"h{k}"),
            F.sum(xk).alias(f"t{k}"),
            F.count(xk).alias(f"nk{k}"),
        ]
    row = leads.agg(*aggs)
    m = F.col("s").cast("double") / F.col("n")
    den = F.col("ssq").cast("double") - m * F.col("s").cast("double")
    entries = []
    for k in range(1, _ACF_MAX_LAG + 1):
        num = (
            F.col(f"p{k}").cast("double")
            - m * (F.col(f"h{k}").cast("double") + F.col(f"t{k}").cast("double"))
            + F.col(f"nk{k}") * m * m
        )
        entries.append(
            F.struct(
                F.lit(k).alias("lag_k"),
                F.col(f"nk{k}").alias("n_pairs"),
                F.round(num / den, 6).alias("acf"),
            )
        )
    return (
        row.select(F.explode(F.array(*entries)).alias("e"))
        .select("e.*")
        .orderBy("lag_k")
    )


@query(
    "revenue_seasonal_dow",
    oracle=f"""
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(14,2)) AS x
  FROM orders GROUP BY o_orderdate
),
gmo AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM daily)
SELECT isodow(d) - 1 AS dow,
       COUNT(*) AS n_days,
       {portable_round_sql('CAST(SUM(x) AS DOUBLE) / COUNT(*)', 6)} AS dow_avg,
       {portable_round_sql('(CAST(SUM(x) AS DOUBLE) / COUNT(*)) / (CAST(s AS DOUBLE) / n)', 6)}
         AS seasonal_index
FROM daily CROSS JOIN gmo
GROUP BY isodow(d) - 1, s, n
ORDER BY dow
""",
)
def q_revenue_seasonal_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal indices of daily order revenue (0=Monday):
    each weekday's average daily total over the grand average — the
    multiplicative seasonal factor a forecast divides out. Same
    pre-aggregate contract as revenue_acf_lags: one hash agg to the
    day series, then a 7-group rollup against a 1-row broadcast of the
    grand moments. Exact decimal day totals; averages and the index
    derived in pinned double shape, portable_round to 6 dp — native
    round() flipped one 6-dp grid unit at sf10 (dow_avg magnitude
    1.55e9, a near-half tie two decades above bench; the sixth-tier
    sweep's one real finding). Bound: |dow_avg| < 2^53/1e6 ≈ 9e9,
    holds through ~sf50."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .cast("decimal(14,2)")
        .alias("x")
    ).persist()
    glob = daily.agg(F.count("x").alias("n"), F.sum("x").alias("s"))
    dow = daily.groupBy(F.weekday("d").alias("dow")).agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("x").alias("sd")
    )
    davg = F.col("sd").cast("double") / F.col("n_days")
    return (
        dow.crossJoin(F.broadcast(glob))
        .select(
            "dow",
            "n_days",
            portable_round(davg, 6).alias("dow_avg"),
            portable_round(davg / (F.col("s").cast("double") / F.col("n")), 6).alias(
                "seasonal_index"
            ),
        )
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing (double exponential smoothing) with a
# one-step-ahead backtest — the trend-aware upgrade of the EWMA/
# seasonal-naive forecasters.
#
# alpha = beta = 1/2 pins every coefficient to a binary fraction, and
# the recursion l' = x/2 + (l+b)/2, b' = (l'-l)/2 + b/2 is written with
# IDENTICAL association in the Spark fold and the DuckDB recursive CTE,
# so the state doubles are bit-identical at every step — the absolute
# forecast errors accumulate in the same pinned sequential order, and
# no rounding contract is needed anywhere.
#
# 100 TB design: the fact collapses to the daily series in one
# map-side-combined hash agg; the inherently-sequential recursion then
# runs as ONE F.aggregate fold over a sort_array'd series on a single
# row — series-sized (days), never data-sized, no driver loop, no UDF.
# ---------------------------------------------------------------------------

_HOLT_DAILY_SQL = """
daily AS (
  SELECT o_orderdate AS d,
         CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(14,2)) AS STRING) AS DOUBLE) AS x
  FROM orders GROUP BY o_orderdate
)
"""


@query(
    "holt_linear_forecast",
    oracle=f"""
WITH RECURSIVE {_HOLT_DAILY_SQL},
s AS (SELECT d, x, row_number() OVER (ORDER BY d) AS rn FROM daily),
rec AS (
    SELECT rn, x AS l, CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS es
    FROM s WHERE rn = 1
    UNION ALL
    SELECT s.rn,
           0.5 * s.x + 0.5 * (r.l + r.b),
           0.5 * ((0.5 * s.x + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b,
           r.es + abs(s.x - (r.l + r.b))
    FROM rec r JOIN s ON s.rn = r.rn + 1
)
SELECT rn::INT AS n_days,
       l AS final_level,
       b AS final_trend,
       CASE WHEN rn > 1 THEN es / CAST(rn - 1 AS DOUBLE) END AS mae,
       l + b AS forecast_1,
       l + 7.0 * b AS forecast_7
FROM rec WHERE rn = (SELECT MAX(rn) FROM s)
""",
)
def q_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear method over daily order revenue: final (level,
    trend) state, one-step-ahead MAE over the whole series, and the
    1-day / 7-day-ahead forecasts. See block comment for the exactness
    and scale contract."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .cast("decimal(14,2)")
        .cast("double")
        .alias("x")
    )
    series = daily.agg(
        F.sort_array(F.collect_list(F.struct("d", "x"))).alias("s")
    ).filter(F.size("s") > 0)  # empty input -> 0 rows, like the recursive-CTE oracle
    half = F.lit(0.5)

    def step(acc, e):
        lvl = half * e["x"] + half * (acc["l"] + acc["b"])
        return F.struct(
            lvl.alias("l"),
            (half * (lvl - acc["l"]) + half * acc["b"]).alias("b"),
            (acc["es"] + F.abs(e["x"] - (acc["l"] + acc["b"]))).alias("es"),
        )

    init = F.struct(
        F.element_at(F.col("s"), 1)["x"].alias("l"),
        F.lit(0.0).alias("b"),
        F.lit(0.0).alias("es"),
    )
    folded = F.aggregate(F.slice(F.col("s"), F.lit(2), F.size("s") - 1), init, step)
    return series.select(
        F.size("s").cast("int").alias("n_days"),
        folded["l"].alias("final_level"),
        folded["b"].alias("final_trend"),
        F.when(
            F.size("s") > 1, folded["es"] / (F.size("s") - 1).cast("double")
        ).alias("mae"),
        (folded["l"] + folded["b"]).alias("forecast_1"),
        (folded["l"] + F.lit(7.0) * folded["b"]).alias("forecast_7"),
    )


# ---------------------------------------------------------------------------
# Theil–Sen robust slope + Mann–Kendall trend test over the daily
# revenue series — the outlier-proof answer to "is revenue trending?".
#
# Exactness: day indices and the S statistic are integers; every pair
# slope (x_j - x_i) / (dd_j - dd_i) is one IEEE division of identical
# operands; the medians are ORDER STATISTICS (lower median at position
# (n+1)//2, pinned) so no averaging ever mixes doubles; Var(S) is
# integer arithmetic with one terminal /18.0.
#
# 100 TB design: the fact collapses to the day series first, so the
# O(days²) pair enumeration (~3M pairs for a 7-year series) is
# SCALE-FREE with respect to data volume — it grows with calendar
# time, not rows. The single-partition selection window runs over day
# pairs only, never over fact rows.
# ---------------------------------------------------------------------------


@query(
    "theil_sen_trend",
    oracle=f"""
WITH {_HOLT_DAILY_SQL},
s AS (
  SELECT x, date_diff('day', TIMESTAMP '1970-01-01', d) AS dd FROM daily
),
pairs AS (
  SELECT (b.x - a.x) / CAST(b.dd - a.dd AS DOUBLE) AS slope,
         CAST(sign(b.x - a.x) AS BIGINT) AS sgn
  FROM s a JOIN s b ON a.dd < b.dd
),
np AS (SELECT COUNT(*) AS n_pairs, CAST(SUM(sgn) AS BIGINT) AS s_stat FROM pairs),
med AS (
  SELECT slope AS theil_slope
  FROM (SELECT slope, row_number() OVER (ORDER BY slope) AS rn FROM pairs), np
  WHERE rn = (np.n_pairs + 1) // 2
),
nd AS (SELECT COUNT(*) AS n_days FROM s),
ties AS (
  SELECT COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tie_term
  FROM (SELECT COUNT(*) AS t FROM s GROUP BY x) WHERE t > 1
),
vs AS (
  SELECT (n_days * (n_days - 1) * (2 * n_days + 5) - tie_term) / 18.0 AS var_s
  FROM nd, ties
),
resid AS (
  SELECT s.x - med.theil_slope * CAST(s.dd AS DOUBLE) AS r FROM s, med
),
med_i AS (
  SELECT r AS intercept
  FROM (SELECT r, row_number() OVER (ORDER BY r) AS rn FROM resid), nd
  WHERE rn = (nd.n_days + 1) // 2
)
SELECT nd.n_days::INT AS n_days, np.n_pairs, np.s_stat, vs.var_s,
       CASE WHEN np.s_stat > 0 THEN (np.s_stat - 1) / sqrt(vs.var_s)
            WHEN np.s_stat < 0 THEN (np.s_stat + 1) / sqrt(vs.var_s)
            ELSE 0.0 END AS z_mk,
       med.theil_slope, med_i.intercept
FROM nd, np, vs, med, med_i
""",
)
def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen median slope + intercept and the Mann–Kendall S/z
    trend statistics for daily order revenue. One row."""

    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
            .cast("decimal(14,2)")
            .cast("double")
            .alias("x")
        )
        .select("x", F.datediff(F.col("d"), F.lit("1970-01-01")).alias("dd"))
        .persist()
    )
    a = daily.select(F.col("x").alias("xa"), F.col("dd").alias("dda"))
    b = daily.select(F.col("x").alias("xb"), F.col("dd").alias("ddb"))
    # Pair table persisted ONCE (optimization r13, VERDICT r12 task 2):
    # it is calendar²-bounded (days² rows of 16 bytes — scale-free with
    # respect to data volume), yet it feeds THREE consumers (the
    # n_pairs/S aggregate and both phases of the distributed median
    # rank), so lazily the non-equi day-pair join — the registry's only
    # CartesianProduct-class plan — re-executed once per consumer.
    # One InMemoryRelation now pays for all of them.
    pairs = a.join(b, F.col("dda") < F.col("ddb")).select(
        ((F.col("xb") - F.col("xa")) / (F.col("ddb") - F.col("dda")).cast("double")).alias(
            "slope"
        ),
        F.signum(F.col("xb") - F.col("xa")).cast("bigint").alias("sgn"),
    ).persist()
    np_df = pairs.agg(F.count(F.lit(1)).alias("n_pairs"), F.sum("sgn").alias("s_stat"))
    # median slope by distributed rank (operators/distrank): the pair
    # grain is days² — no single-partition sort. Ties in slope make the
    # row numbering order-dependent but the VALUE at the median
    # position is unique, which is all this extracts.
    from nyc_taxi_data_engineering_spark.operators.distrank import global_row_number

    # pin(): the 1-row median is referenced by the residual chain (which
    # itself ranks -> several plan branches) AND the terminal projection;
    # lazily each reference re-ran the whole pair-rank machinery over the
    # cached pairs (optimization r13, guide §2.4).
    med = pin(
        global_row_number(pairs, ["slope"], out="rn")
        .crossJoin(F.broadcast(np_df.select("n_pairs")))
        .filter(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
        .select(F.col("slope").alias("theil_slope"))
    )
    nd = daily.agg(F.count(F.lit(1)).alias("n_days"))
    ties = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)), F.lit(0)
            ).alias("tie_term")
        )
    )
    vs = nd.crossJoin(ties).select(
        (
            (
                F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
                - F.col("tie_term")
            )
            / F.lit(18.0)
        ).alias("var_s")
    )
    resid = daily.crossJoin(F.broadcast(med)).select(
        (F.col("x") - F.col("theil_slope") * F.col("dd").cast("double")).alias("r")
    )
    med_i = (
        global_row_number(resid, ["r"], out="rn")
        .crossJoin(F.broadcast(nd))
        .filter(F.col("rn") == F.expr("(n_days + 1) div 2"))
        .select(F.col("r").alias("intercept"))
    )
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt(F.col("var_s")))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt(F.col("var_s")))
        .otherwise(F.lit(0.0))
    )
    return (
        nd.crossJoin(np_df)
        .crossJoin(vs)
        .crossJoin(med)
        .crossJoin(med_i)
        .select(
            F.col("n_days").cast("int").alias("n_days"),
            "n_pairs",
            "s_stat",
            "var_s",
            z.alias("z_mk"),
            "theil_slope",
            "intercept",
        )
    )


# ---------------------------------------------------------------------------
# Holt-Winters additive (level + trend + weekly seasonality) — the
# seasonal extension of holt_linear_forecast, same exactness contract:
# alpha = beta = gamma = 0.5 (exactly representable), the fold's IEEE
# op sequence written identically in the Spark F.aggregate lambda and
# the DuckDB recursive CTE, day-of-week as epoch_days % 7 (dayofweek()
# disagrees between engines: Spark is 1-7 Sun-first, DuckDB 0-6).
# Seasonal state is a 7-slot array on the Spark side and s0..s6
# columns in the CTE — same values, same update order.
# 100 TB: the fact collapses to the daily series before the fold, so
# the recursion length is calendar days, not data size (scale-free).
# ---------------------------------------------------------------------------

_HW_SI = "CASE s.dow WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 ELSE r.s6 END"
_HW_LNEW = f"0.5 * (s.x - ({_HW_SI})) + 0.5 * (r.l + r.b)"


def _hw_snew(i: int) -> str:
    return (
        f"CASE WHEN s.dow = {i} THEN 0.5 * (s.x - ({_HW_LNEW})) + 0.5 * ({_HW_SI})"
        f" ELSE r.s{i} END"
    )


@query(
    "holt_winters_forecast",
    oracle=f"""
WITH RECURSIVE {_HOLT_DAILY_SQL},
s AS (
  SELECT x, date_diff('day', TIMESTAMP '1970-01-01', d) % 7 AS dow,
         row_number() OVER (ORDER BY d) AS rn
  FROM daily
),
rec AS (
    SELECT rn, dow, x AS l, CAST(0.0 AS DOUBLE) AS b,
           CAST(0.0 AS DOUBLE) AS s0, CAST(0.0 AS DOUBLE) AS s1,
           CAST(0.0 AS DOUBLE) AS s2, CAST(0.0 AS DOUBLE) AS s3,
           CAST(0.0 AS DOUBLE) AS s4, CAST(0.0 AS DOUBLE) AS s5,
           CAST(0.0 AS DOUBLE) AS s6, CAST(0.0 AS DOUBLE) AS es
    FROM s WHERE rn = 1
    UNION ALL
    SELECT s.rn, s.dow,
           {_HW_LNEW},
           0.5 * (({_HW_LNEW}) - r.l) + 0.5 * r.b,
           {_hw_snew(0)}, {_hw_snew(1)}, {_hw_snew(2)}, {_hw_snew(3)},
           {_hw_snew(4)}, {_hw_snew(5)}, {_hw_snew(6)},
           r.es + abs(s.x - (r.l + r.b + ({_HW_SI})))
    FROM rec r JOIN s ON s.rn = r.rn + 1
)
SELECT rn::INT AS n_days,
       l AS final_level,
       b AS final_trend,
       CASE WHEN rn > 1 THEN es / CAST(rn - 1 AS DOUBLE) END AS mae,
       (l + b) + (CASE (dow + 1) % 7 WHEN 0 THEN s0 WHEN 1 THEN s1 WHEN 2 THEN s2
                  WHEN 3 THEN s3 WHEN 4 THEN s4 WHEN 5 THEN s5 ELSE s6 END) AS forecast_1,
       (l + 7.0 * b) + (CASE dow WHEN 0 THEN s0 WHEN 1 THEN s1 WHEN 2 THEN s2
                        WHEN 3 THEN s3 WHEN 4 THEN s4 WHEN 5 THEN s5 ELSE s6 END) AS forecast_7
FROM rec WHERE rn = (SELECT MAX(rn) FROM s)
""",
)
def q_holt_winters_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive over daily order revenue: final level and
    trend after the level/trend/weekly-seasonal fold, one-step-ahead
    MAE, and the 1-day / 7-day forecasts (7 days ahead lands on the
    same weekday, so it reuses the last day's seasonal)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .cast("decimal(14,2)")
        .cast("double")
        .alias("x")
    )
    series = daily.select(
        "d",
        "x",
        (F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")) % 7).alias("dow"),
    ).agg(
        F.sort_array(F.collect_list(F.struct("d", "x", "dow"))).alias("s")
    ).filter(F.size("s") > 0)  # empty input -> 0 rows, like the recursive-CTE oracle
    half = F.lit(0.5)

    def step(acc, e):
        si = F.element_at(acc["sea"], e["dow"].cast("int") + 1)
        lnew = half * (e["x"] - si) + half * (acc["l"] + acc["b"])
        return F.struct(
            lnew.alias("l"),
            (half * (lnew - acc["l"]) + half * acc["b"]).alias("b"),
            F.transform(
                acc["sea"],
                lambda v, j: F.when(
                    j == e["dow"].cast("int"), half * (e["x"] - lnew) + half * si
                ).otherwise(v),
            ).alias("sea"),
            (acc["es"] + F.abs(e["x"] - (acc["l"] + acc["b"] + si))).alias("es"),
        )

    init = F.struct(
        F.element_at(F.col("s"), 1)["x"].alias("l"),
        F.lit(0.0).alias("b"),
        F.array(*[F.lit(0.0) for _ in range(7)]).alias("sea"),
        F.lit(0.0).alias("es"),
    )
    folded = F.aggregate(F.slice(F.col("s"), F.lit(2), F.size("s") - 1), init, step)
    last_dow = F.element_at(F.col("s"), F.size("s"))["dow"].cast("int")
    return series.select(
        F.size("s").cast("int").alias("n_days"),
        folded["l"].alias("final_level"),
        folded["b"].alias("final_trend"),
        F.when(
            F.size("s") > 1, folded["es"] / (F.size("s") - 1).cast("double")
        ).alias("mae"),
        (
            (folded["l"] + folded["b"])
            + F.element_at(folded["sea"], ((last_dow + 1) % 7) + 1)
        ).alias("forecast_1"),
        (
            (folded["l"] + F.lit(7.0) * folded["b"])
            + F.element_at(folded["sea"], last_dow + 1)
        ).alias("forecast_7"),
    )


# ---------------------------------------------------------------------------
# Recursive-CTE surface (Spark 4's WITH RECURSIVE): the Holt fold over
# the final 60-day revenue window as ONE portable SQL text that BOTH
# engines execute verbatim — three formulations of the same recurrence
# now agree (F.aggregate fold, Spark recursive CTE, DuckDB recursive
# CTE). Spark's recursion supports UNION ALL only and iterates level
# by level (spark.sql.cteRecursionLevelLimit defaults to 100), so the
# recursion must be a LINEAR chain with bounded depth: a pinned
# two-month window (<= 61 levels) — the pattern to reach for when a
# fold must live in pure SQL; unbounded series belong to F.aggregate.
# ---------------------------------------------------------------------------

_HOLT60_SQL = """
WITH RECURSIVE daily AS (
  SELECT o_orderdate AS d,
         CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DECIMAL(14,2)) AS STRING) AS DOUBLE) AS x
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '2001-06-01 00:00:00'
  GROUP BY o_orderdate
),
s AS (SELECT d, x, row_number() OVER (ORDER BY d) AS rn FROM daily),
rec AS (
    SELECT rn, x AS l, CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS es
    FROM s WHERE rn = 1
    UNION ALL
    SELECT s.rn,
           0.5 * s.x + 0.5 * (r.l + r.b),
           0.5 * ((0.5 * s.x + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b,
           r.es + abs(s.x - (r.l + r.b))
    FROM rec r JOIN s ON s.rn = r.rn + 1
)
SELECT CAST(rn AS INT) AS n_days,
       l AS final_level,
       b AS final_trend,
       CASE WHEN rn > 1 THEN es / CAST(rn - 1 AS DOUBLE) END AS mae,
       l + b AS forecast_1
FROM rec WHERE rn = (SELECT MAX(rn) FROM s)
"""


@query("holt_recursive_sql_60d", oracle=_HOLT60_SQL)
def q_holt_recursive_sql_60d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's method over the final two months, run through Spark's
    WITH RECURSIVE — the SQL text is character-identical to the DuckDB
    oracle, so the gate directly certifies Spark's recursive-CTE
    execution against an independent engine."""
    from nyc_taxi_data_engineering_spark.catalog import register_views

    register_views(spark, sf_dir, names=("orders",))
    return spark.sql(_HOLT60_SQL)


@query(
    "revenue_max_drawdown",
    oracle=f"""
WITH {_HOLT_DAILY_SQL},
cum AS (
    SELECT d, x,
           SUM(CAST(x AS DECIMAL(18,2))) OVER (ORDER BY d) AS equity
    FROM daily
),
dd AS (
    SELECT d, CAST(equity AS DOUBLE) AS equity,
           CAST(MAX(equity) OVER (ORDER BY d) AS DOUBLE) AS peak
    FROM cum
)
SELECT strftime(d, '%Y-%m-%d') AS day, equity, peak,
       equity / peak - 1.0 AS drawdown
FROM dd
ORDER BY drawdown, day
LIMIT 10
""",
)
def q_revenue_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10 worst drawdown days of the cumulative daily-revenue
    'equity curve': running decimal-exact cumsum, running peak
    (cummax window), drawdown = equity/peak - 1 as one IEEE division.
    All windows run on the collapsed day series (scale-free)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .cast("decimal(14,2)")
        .cast("double")
        .alias("x")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)  # day grain, calendar-bounded
    cum = daily.withColumn("equity", F.sum(F.col("x").cast("decimal(18,2)")).over(w))
    dd = cum.select(
        "d",
        F.col("equity").cast("double").alias("equity"),
        F.max("equity").over(w).cast("double").alias("peak"),
    )
    return (
        dd.select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "equity",
            "peak",
            (F.col("equity") / F.col("peak") - F.lit(1.0)).alias("drawdown"),
        )
        .orderBy("drawdown", "day")
        .limit(10)
    )


@query(
    "holt_per_supplier_forecast",
    oracle="""
WITH RECURSIVE daily AS (
    SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
           CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(16,2))) AS DECIMAL(16,2)) AS STRING) AS DOUBLE) AS x
    FROM lineitem GROUP BY l_suppkey, CAST(l_shipdate AS DATE)
),
s AS (SELECT l_suppkey, d, x,
             row_number() OVER (PARTITION BY l_suppkey ORDER BY d) AS rn
      FROM daily),
rec AS (
    SELECT l_suppkey, rn, x AS l, CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS es
    FROM s WHERE rn = 1
    UNION ALL
    SELECT s.l_suppkey, s.rn,
           0.5 * s.x + 0.5 * (r.l + r.b),
           0.5 * ((0.5 * s.x + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b,
           r.es + abs(s.x - (r.l + r.b))
    FROM rec r JOIN s ON s.l_suppkey = r.l_suppkey AND s.rn = r.rn + 1
),
last AS (SELECT l_suppkey, MAX(rn) AS n FROM s GROUP BY l_suppkey)
SELECT r.l_suppkey, r.rn::INT AS n_days,
       r.l AS final_level, r.b AS final_trend,
       CASE WHEN r.rn > 1 THEN r.es / CAST(r.rn - 1 AS DOUBLE) END AS mae,
       r.l + 7.0 * r.b AS forecast_7
FROM rec r JOIN last t ON t.l_suppkey = r.l_suppkey AND t.n = r.rn
ORDER BY r.l_suppkey
""",
)
def q_holt_per_supplier_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear method fit INDEPENDENTLY per supplier — the
    fleet-forecasting shape (one model per SKU/store/key, thousands at
    once) that a driver loop can never scale to: each supplier's daily
    revenue series is collapsed by one hash agg, collected into a
    calendar-bounded sorted array, and folded with the SAME pinned
    0.5/0.5 update chain as the global holt_linear_forecast — the fold
    runs inside codegen, partition-parallel across suppliers, with
    per-group state bounded by observed days, not rows. Final (level,
    trend), one-step-ahead MAE, and the 7-day forecast per supplier.
    The oracle walks the identical IEEE chain as a grouped recursive
    CTE, so every level/trend double matches bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_suppkey", F.col("l_shipdate").cast("date").alias("d")
    ).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(16,2)"))
        .cast("decimal(16,2)")
        .cast("double")
        .alias("x")
    )
    series = daily.groupBy("l_suppkey").agg(
        F.sort_array(F.collect_list(F.struct("d", "x"))).alias("s")
    )
    half = F.lit(0.5)

    def step(acc, e):
        lvl = half * e["x"] + half * (acc["l"] + acc["b"])
        return F.struct(
            lvl.alias("l"),
            (half * (lvl - acc["l"]) + half * acc["b"]).alias("b"),
            (acc["es"] + F.abs(e["x"] - (acc["l"] + acc["b"]))).alias("es"),
        )

    init = F.struct(
        F.element_at(F.col("s"), 1)["x"].alias("l"),
        F.lit(0.0).alias("b"),
        F.lit(0.0).alias("es"),
    )
    folded = F.aggregate(F.slice(F.col("s"), F.lit(2), F.size("s") - 1), init, step)
    return series.select(
        "l_suppkey",
        F.size("s").cast("int").alias("n_days"),
        folded["l"].alias("final_level"),
        folded["b"].alias("final_trend"),
        # Pinned NULL for a single-observation supplier: Spark's 0/0
        # division yields NULL while DuckDB's float 0/0 varies by
        # version, so guard identically in both engines.
        F.when(
            F.size("s") > 1, folded["es"] / (F.size("s") - 1).cast("double")
        ).alias("mae"),
        (folded["l"] + F.lit(7.0) * folded["b"]).alias("forecast_7"),
    ).orderBy("l_suppkey")


@query(
    "croston_per_supplier_demand",
    oracle="""
WITH RECURSIVE daily AS (
    SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
           CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(16,2))) AS DECIMAL(16,2)) AS STRING) AS DOUBLE) AS q
    FROM lineitem GROUP BY l_suppkey, CAST(l_shipdate AS DATE)
),
s AS (SELECT l_suppkey, d, q,
             row_number() OVER (PARTITION BY l_suppkey ORDER BY d) AS rn
      FROM daily),
rec AS (
    SELECT l_suppkey, rn, d, q AS z, CAST(1.0 AS DOUBLE) AS p
    FROM s WHERE rn = 1
    UNION ALL
    SELECT s.l_suppkey, s.rn, s.d,
           0.5 * s.q + 0.5 * r.z,
           0.5 * CAST(s.d - r.d AS DOUBLE) + 0.5 * r.p
    FROM rec r JOIN s ON s.l_suppkey = r.l_suppkey AND s.rn = r.rn + 1
),
last AS (SELECT l_suppkey, MAX(rn) AS n FROM s GROUP BY l_suppkey)
SELECT r.l_suppkey, r.rn::INT AS n_demand_days,
       r.z AS smoothed_size, r.p AS smoothed_interval,
       r.z / r.p AS demand_rate
FROM rec r JOIN last t ON t.l_suppkey = r.l_suppkey AND t.n = r.rn
ORDER BY r.l_suppkey
""",
)
def q_croston_per_supplier_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method per supplier — THE intermittent-demand
    forecaster (sparse shipment calendars break Holt: zero days drag
    the level): smooth demand SIZE and inter-demand INTERVAL as
    separate 0.5-EWMAs updated only on demand days, forecast rate =
    size/interval per day. The interval rides in the fold state as the
    previous demand DATE, so gaps are exact integer day differences.
    Same fleet shape as holt_per_supplier_forecast: one hash agg to
    demand days, a calendar-bounded sorted-array fold in codegen,
    partition-parallel across suppliers; the oracle replays the
    identical IEEE chain as a grouped recursive CTE."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_suppkey", F.col("l_shipdate").cast("date").alias("d")
    ).agg(
        F.sum(F.col("l_quantity").cast("decimal(16,2)"))
        .cast("decimal(16,2)")
        .cast("double")
        .alias("q")
    )
    series = daily.groupBy("l_suppkey").agg(
        F.sort_array(F.collect_list(F.struct("d", "q"))).alias("s")
    )
    half = F.lit(0.5)

    def step(acc, e):
        return F.struct(
            (half * e["q"] + half * acc["z"]).alias("z"),
            (half * F.datediff(e["d"], acc["d"]).cast("double") + half * acc["p"]).alias(
                "p"
            ),
            e["d"].alias("d"),
        )

    first = F.element_at(F.col("s"), 1)
    init = F.struct(
        first["q"].alias("z"), F.lit(1.0).alias("p"), first["d"].alias("d")
    )
    folded = F.aggregate(F.slice(F.col("s"), F.lit(2), F.size("s") - 1), init, step)
    return series.select(
        "l_suppkey",
        F.size("s").cast("int").alias("n_demand_days"),
        folded["z"].alias("smoothed_size"),
        folded["p"].alias("smoothed_interval"),
        (folded["z"] / folded["p"]).alias("demand_rate"),
    ).orderBy("l_suppkey")


STL_TAIL_DAYS = 28  # report the decomposition's last four weeks


@query(
    "stl_decompose_revenue",
    oracle=f"""
WITH {_HOLT_DAILY_SQL},
t AS (
    SELECT d, x,
           date_diff('day', TIMESTAMP '1970-01-01', d) % 7 AS dow,
           row_number() OVER (ORDER BY d) AS rn,
           CAST(COUNT(*) OVER () AS BIGINT) AS n,
           CASE WHEN row_number() OVER (ORDER BY d) > 3
                 AND row_number() OVER (ORDER BY d) <= CAST(COUNT(*) OVER () AS BIGINT) - 3
                THEN CAST(CAST(CAST(CAST(SUM(CAST(CAST(x AS DECIMAL(14,2)) AS DECIMAL(20,2)))
                          OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                          AS STRING) AS DOUBLE) / 7.0 AS STRING) AS DOUBLE)
           END AS trend
    FROM daily
),
det AS (SELECT d, x, dow, rn, n, trend, x - trend AS detrended FROM t),
sea AS (
    SELECT dow,
           round(CAST(CAST(SUM(CAST(round(detrended, 6) AS DECIMAL(28,6))) AS STRING) AS DOUBLE)
                 / COUNT(detrended), 6) AS seasonal
    FROM det WHERE detrended IS NOT NULL GROUP BY dow
),
out AS (
    SELECT strftime(det.d, '%Y-%m-%d') AS day, det.x, det.trend, s.seasonal,
           det.x - det.trend - s.seasonal AS residual,
           det.rn, det.n
    FROM det JOIN sea s ON s.dow = det.dow
    WHERE det.trend IS NOT NULL
)
SELECT day, x, trend, seasonal, residual
FROM out WHERE rn > n - 3 - {STL_TAIL_DAYS}
ORDER BY day
""",
)
def q_stl_decompose_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition (STL-lite) of daily order
    revenue: trend = centered 7-day moving average (DECIMAL-exact sum,
    one /7.0), seasonal = per-weekday mean of the detrended series
    (6-dp-quantized decimal transport), residual = x - trend -
    seasonal — the anomaly-detection front-end that separates "weekend
    dip" from "real drop". Weekday is epoch-days % 7 (dayofweek()
    disagrees across engines); edge days without a full MA window are
    excluded like statsmodels' naive mode; last {STL_TAIL_DAYS}
    decomposed days reported. Everything runs on the COLLAPSED day
    series — scale-free with respect to fact rows, the one sort is
    calendar-bounded."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .cast("decimal(14,2)")
        .cast("double")
        .alias("x")
    )
    w = Window.orderBy("d")  # day grain, calendar-bounded
    wma = w.rowsBetween(-3, 3)
    t = daily.select(
        "d",
        "x",
        (F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")) % 7).alias("dow"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.orderBy(F.lit(1)).rowsBetween(  # fixed forecast-horizon frame over day series
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("bigint")
        .alias("n"),
        (
            F.sum(F.col("x").cast("decimal(14,2)").cast("decimal(20,2)")).over(wma)
            .cast("double")
            / F.lit(7.0)
        ).alias("ma"),
    )
    det = t.select(
        "d",
        "x",
        "dow",
        "rn",
        "n",
        F.when(
            (F.col("rn") > 3) & (F.col("rn") <= F.col("n") - 3), F.col("ma")
        ).alias("trend"),
    ).withColumn("detrended", F.col("x") - F.col("trend"))
    sea = (
        det.filter(F.col("detrended").isNotNull())
        .groupBy("dow")
        .agg(
            F.round(
                F.sum(F.round(F.col("detrended"), 6).cast("decimal(28,6)")).cast(
                    "double"
                )
                / F.count("detrended"),
                6,
            ).alias("seasonal")
        )
    )
    out = (
        det.filter(F.col("trend").isNotNull())
        .join(F.broadcast(sea), "dow")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "x",
            "trend",
            "seasonal",
            (F.col("x") - F.col("trend") - F.col("seasonal")).alias("residual"),
            "rn",
            "n",
        )
    )
    return (
        out.filter(F.col("rn") > F.col("n") - 3 - STL_TAIL_DAYS)
        .select("day", "x", "trend", "seasonal", "residual")
        .orderBy("day")
    )


CONFORMAL_ALPHA_PCT = 10  # 90% target coverage
CONFORMAL_CAL_PCT = 80  # first 80% of forecastable days calibrate


@query(
    "conformal_forecast_interval",
    oracle=f"""
WITH {_HOLT_DAILY_SQL},
f AS (
    SELECT d, x,
           lag(x, 7) OVER (ORDER BY d) AS pred,
           row_number() OVER (ORDER BY d) AS rn
    FROM daily
),
r AS (
    SELECT d, abs(x - pred) AS ae,
           row_number() OVER (ORDER BY d) AS rn,
           CAST(COUNT(*) OVER () AS BIGINT) AS n
    FROM f WHERE pred IS NOT NULL
),
split AS (
    SELECT *, CAST(floor(n * {CONFORMAL_CAL_PCT} / 100.0) AS BIGINT) AS n_cal FROM r
),
q AS (
    SELECT ae AS q_alpha FROM (
        SELECT ae, row_number() OVER (ORDER BY ae, d) AS qr,
               MAX(n_cal) OVER () AS n_cal
        FROM split WHERE rn <= n_cal
    ) WHERE qr = CAST(ceil((n_cal + 1) * (100 - {CONFORMAL_ALPHA_PCT}) / 100.0) AS BIGINT)
)
SELECT CAST(MAX(s.n_cal) AS BIGINT) AS n_cal,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       MAX(q.q_alpha) AS q_alpha,
       CAST(SUM(CASE WHEN s.ae <= q.q_alpha THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS coverage
FROM split s CROSS JOIN q
WHERE s.rn > s.n_cal
""",
)
def q_conformal_forecast_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for the seasonal-naive
    (lag-7) revenue forecast — distribution-free uncertainty
    quantification, the modern answer to "how wide should the band
    be": the first {CONFORMAL_CAL_PCT}% of forecastable days
    calibrate, q_alpha is the EXACT ceil((n+1)(1-alpha))-th order
    statistic of absolute calibration errors (the finite-sample
    coverage guarantee needs that +1 — an off-by-one here silently
    voids the guarantee, which is why the index arithmetic sits under
    the hash gate), and empirical coverage on the held-out tail checks
    the promise. Residuals and the quantile are order statistics with
    day tiebreaks — no averaging, no libm; coverage is one integer
    division. Day-series-bounded, scale-free wrt fact rows."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .cast("decimal(14,2)")
        .cast("double")
        .alias("x")
    )
    w = Window.orderBy("d")  # day grain, calendar-bounded
    f = daily.select("d", "x", F.lag("x", 7).over(w).alias("pred"))
    r = f.filter(F.col("pred").isNotNull()).select(
        "d",
        F.abs(F.col("x") - F.col("pred")).alias("ae"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(
            Window.orderBy(F.lit(1)).rowsBetween(  # fixed forecast-horizon frame over day series
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("bigint")
        .alias("n"),
    )
    split = r.withColumn(
        "n_cal",
        F.floor(F.col("n") * CONFORMAL_CAL_PCT / F.lit(100.0)).cast("bigint"),
    )
    cal = split.filter(F.col("rn") <= F.col("n_cal")).select(
        "ae",
        "d",
        F.row_number().over(Window.orderBy("ae", "d")).alias("qr"),  # day grain, calendar-bounded
        F.max("n_cal")
        .over(
            Window.orderBy(F.lit(1)).rowsBetween(  # fixed quantile frame over day series
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n_cal"),
    )
    q = cal.filter(
        F.col("qr")
        == F.ceil(
            (F.col("n_cal") + 1) * (100 - CONFORMAL_ALPHA_PCT) / F.lit(100.0)
        ).cast("bigint")
    ).select(F.col("ae").alias("q_alpha"))
    test = split.filter(F.col("rn") > F.col("n_cal"))
    return test.crossJoin(F.broadcast(q)).agg(
        F.max("n_cal").cast("bigint").alias("n_cal"),
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.max("q_alpha").alias("q_alpha"),
        (
            F.sum(F.when(F.col("ae") <= F.col("q_alpha"), 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("coverage"),
    )


HAAR_N = 1024  # first 2^10 observed days
HAAR_LEVELS = 5


def _haar_level_sql(prev: str, out: str, lvl: int) -> str:
    # r10 (VERDICT r9 #4): the whole pyramid runs in EXACT decimal.
    # Halving is `* DECIMAL(2,1) 0.5` (exact: scale grows by 1/level),
    # and per-level energy sums d*d in decimal with NO rounding — the
    # old round(d*d, 6) sat below the double ULP at |d*d| ~ 1e14 and
    # flipped the hash. d fits scale 7 at any probe tier (|d| < 1e10,
    # scale <= 2+level <= 7); DuckDB squares at DECIMAL(19,7)
    # (hugeint-backed — int64-width 17 overflows its multiply) while
    # Spark squares at (17,7) (a (19,7)^2 would cross Spark's 38-digit
    # cap and trigger a lossy rescale); both products are exact, so
    # the values agree despite the differing declared widths.
    return f"""{out} AS (
    SELECT CAST(floor((rn + 1) / 2.0) AS BIGINT) AS rn,
           (MAX(CASE WHEN rn % 2 = 1 THEN v END)
            + MAX(CASE WHEN rn % 2 = 0 THEN v END)) * CAST(0.5 AS DECIMAL(2,1)) AS v,
           (MAX(CASE WHEN rn % 2 = 1 THEN v END)
            - MAX(CASE WHEN rn % 2 = 0 THEN v END)) * CAST(0.5 AS DECIMAL(2,1)) AS d
    FROM {prev} GROUP BY CAST(floor((rn + 1) / 2.0) AS BIGINT)
),
d{lvl} AS (
    SELECT {lvl} AS level, CAST(COUNT(*) AS BIGINT) AS n_coeffs,
           CAST(CAST(SUM(CAST(d AS DECIMAL(19,7)) * CAST(d AS DECIMAL(19,7))) AS STRING) AS DOUBLE) AS energy,
           CAST(CAST(MAX(abs(CAST(d AS DECIMAL(19,7)))) AS STRING) AS DOUBLE) AS max_abs_coeff
    FROM {out}
)"""


_HAAR_LEVELS_SQL = ",\n".join(
    _haar_level_sql(f"s{i - 1}" if i > 1 else "s0", f"s{i}", i)
    for i in range(1, HAAR_LEVELS + 1)
)


@query(
    "haar_decompose_revenue",
    oracle=f"""
WITH {_HOLT_DAILY_SQL},
s0 AS (
    SELECT row_number() OVER (ORDER BY d) AS rn, CAST(x AS DECIMAL(14,2)) AS v
    FROM daily QUALIFY row_number() OVER (ORDER BY d) <= {HAAR_N}
),
{_HAAR_LEVELS_SQL}
SELECT level, n_coeffs, energy, max_abs_coeff
FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3
      UNION ALL SELECT * FROM d4 UNION ALL SELECT * FROM d5)
ORDER BY level
""",
)
def q_haar_decompose_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet multiresolution decomposition of the first
    {HAAR_N} days of revenue — the signal-processing answer to "at
    what time scale does the variance live" (level 1 ≈ day-to-day
    noise, level 3 ≈ weekly, level 5 ≈ monthly): {HAAR_LEVELS} levels
    of pairwise (a+b)/2 averages carried forward and (a-b)/2 detail
    coefficients, per level the coefficient count, energy (EXACT
    decimal sum of squares — r10: the old round(d*d, 6) sat below the
    double ULP at |d*d| ~ 1e14 and flipped the driver hash; the whole
    pyramid now runs in exact decimal, halving via * DECIMAL 0.5, so
    nothing is ever rounded) and the largest |coefficient| (a
    localized shock detector). Each level is a hash agg over a
    halving series — log2(n) rounds, series-bounded, scale-free wrt
    fact rows."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .cast("decimal(14,2)")
        .cast("double")
        .alias("x")
    )
    half = F.lit(0.5).cast("decimal(2,1)")
    s = (
        daily.select(
            F.row_number().over(Window.orderBy("d")).alias("rn"),  # day grain, calendar-bounded
            F.col("x").cast("decimal(14,2)").alias("v"),
        )
        .filter(F.col("rn") <= HAAR_N)
    )
    rows = []
    for lvl in range(1, HAAR_LEVELS + 1):
        pair = F.floor((F.col("rn") + 1) / F.lit(2.0)).cast("bigint")
        o = F.max(F.when(F.col("rn") % 2 == 1, F.col("v")))
        e = F.max(F.when(F.col("rn") % 2 == 0, F.col("v")))
        nxt = s.groupBy(pair.alias("rn")).agg(
            ((o + e) * half).alias("v"), ((o - e) * half).alias("d")
        )
        dd = F.col("d").cast("decimal(17,7)")
        rows.append(
            nxt.agg(
                F.lit(lvl).alias("level"),
                F.count(F.lit(1)).cast("bigint").alias("n_coeffs"),
                F.sum(dd * dd).cast("double").alias("energy"),
                F.max(F.abs(dd)).cast("double").alias("max_abs_coeff"),
            )
        )
        s = nxt.select("rn", "v")
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("level")
