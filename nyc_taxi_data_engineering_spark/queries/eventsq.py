"""Batch event-analytics queries over the ``events`` table:
semi-structured JSON extraction, gap-based sessionization, and funnel
conversion. Complements queries/streamingq.py (the streaming window
family) with the batch-side shapes the reference's event pipelines
lack entirely (SURVEY §2.4: no JSON parsing, no sessionization).

Scale notes:
- JSON parsing is ``from_json`` with an explicit schema — JVM-side
  Jackson inside whole-stage codegen, no Python, no schema inference
  scan. At 100 TB a permissive schema + a corrupt-record column is the
  same plan.
- Sessionization is lag + running-sum over (user_id) windows: state is
  per-user and the shuffle is one hash exchange on user_id; no
  single-partition window anywhere.
- The funnel is two user-keyed aggregates joined on user_id — at scale
  both sides pre-aggregate map-side before the one shuffle each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table
from nyc_taxi_data_engineering_spark.functions import stable_sum, stable_sum_sql
from nyc_taxi_data_engineering_spark.operators import iterate
from nyc_taxi_data_engineering_spark.operators.skew import salted_agg
from nyc_taxi_data_engineering_spark.queries.registry import query

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


@query(
    "events_props_by_type",
    oracle="""
WITH e AS (
  SELECT event_type,
         CASE WHEN json_valid(props)
              THEN CAST(json_extract_string(props, '$.k') AS INTEGER) END AS k
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(COUNT(k) AS BIGINT) AS n_with_k,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       CAST(COUNT(DISTINCT k) AS BIGINT) AS distinct_k,
       MIN(k) AS min_k,
       MAX(k) AS max_k,
       ROUND(SUM(k) * 1.0 / COUNT(k), 6) AS avg_k
FROM e
GROUP BY event_type
""",
)
def q_events_props_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the ``props`` JSON column with
    an explicit schema and aggregate the extracted field per event
    type. ``from_json`` returns NULL for missing/malformed fields;
    DuckDB's ``json_extract_string`` ERRORS on non-JSON input (e.g. the
    weird tier's empty-string props) rather than yielding NULL, so the
    oracle guards with ``json_valid`` to match Spark's tolerant NULL. avg is integer-sum / count: exact sums, so the double
    division is order-independent."""
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k INT").getField("k")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.countDistinct("k").alias("distinct_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.sum("k") * 1.0 / F.count("k"), 6).alias("avg_k"),
        )
    )


@query(
    "events_sessions",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_seq
  FROM flagged
)
SELECT user_id,
       CAST(session_seq AS BIGINT) AS session_seq,
       COUNT(*) AS n_events,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us,
       {stable_sum_sql('value', 4, 18)} AS total_value
FROM sessions
GROUP BY user_id, session_seq
""",
)
def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization: a new session starts after
    >30 min of user inactivity. lag() flags session starts; the
    running sum of flags numbers sessions per user (the classic
    sessionize-without-UDF shape). Both windows partition by user_id
    — one hash shuffle, per-user state, no global window. Ordering is
    (ts, event_id): event_id breaks timestamp ties so the running sum
    (and therefore session identity) is deterministic. Durations are
    exact integer microseconds (epoch_us twin: unix_micros)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
                > SESSION_GAP_US
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_new"),
    )
    sessions = flagged.withColumn("session_seq", F.sum("is_new").over(w))
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("duration_us"),
        stable_sum("value", 4, 18).alias("total_value"),
    )


@query(
    "events_user_stats_salted",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS total_value,
       MAX(value) AS max_value
FROM events
GROUP BY user_id
""",
)
def q_events_user_stats_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event stats through the explicit hot-key lever:
    ``salted_agg`` spreads each user's rows over 8 salt buckets
    (partial agg on (user_id, salt), final on user_id), so one viral
    user_id — the skew AQE can't fix, since it splits partitions, not
    keys — never lands on a single reducer. The result is identical to
    the unsalted GROUP BY (all three aggregates are mergeable), which
    is exactly what the oracle runs. The value sum goes through exact
    decimal partials (see ``stable_sum``) so the two-phase re-merge is
    order-independent and matches DuckDB bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        ["user_id"],
        {
            "n_events": ("sum", F.count(F.lit(1))),
            "total_value_dec": ("sum", F.sum(F.col("value").cast("decimal(18,4)"))),
            "max_value": ("max", F.max("value")),
        },
        salt_n=8,
        fingerprint_cols=["event_id"],
    )
    return out.select(
        "user_id",
        "n_events",
        F.col("total_value_dec").cast("double").alias("total_value"),
        "max_value",
    )


@query(
    "events_funnel_signup_purchase",
    oracle="""
WITH su AS (
  SELECT user_id, MIN(ts) AS signup_ts
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
conv AS (
  SELECT su.user_id, COUNT(e.event_id) AS n_purchases_after
  FROM su LEFT JOIN events e
    ON e.user_id = su.user_id AND e.event_type = 'purchase' AND e.ts >= su.signup_ts
  GROUP BY su.user_id
)
SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
       (SELECT COUNT(*) FROM su) AS n_signup_users,
       CAST(COALESCE(SUM(CASE WHEN n_purchases_after > 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_converted,
       CASE WHEN (SELECT COUNT(*) FROM su) > 0 THEN
            ROUND(COALESCE(SUM(CASE WHEN n_purchases_after > 0 THEN 1 ELSE 0 END), 0) * 100.0
                  / (SELECT COUNT(*) FROM su), 2) END AS conversion_pct
FROM conv
""",
)
def q_events_funnel_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase funnel: of users who ever signed up, how many
    later purchased (at-or-after their first signup). Per-user signup
    floor is one keyed agg; the conversion check is a user_id equi-join
    against purchases with the time predicate in the join condition —
    an AQE-friendly shuffle join at scale, never a range scan."""
    ev = load_table(spark, sf_dir, "events")
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"), F.col("ts").alias("p_ts"), "event_id"
    )
    conv = (
        signup.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id")) & (F.col("p_ts") >= F.col("signup_ts")),
            "left",
        )
        .groupBy("user_id")
        .agg(F.count("event_id").alias("n_purchases_after"))
    )
    n_users = ev.agg(F.countDistinct("user_id").alias("n_users"))
    funnel = conv.agg(
        F.count(F.lit(1)).alias("n_signup_users"),
        # COALESCE like the oracle: a count is 0 on empty input, not a
        # NULL that arrives as float64 and breaks the dtype contract
        F.coalesce(
            F.sum(F.when(F.col("n_purchases_after") > 0, 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("n_converted"),
    )
    return (
        n_users.crossJoin(funnel)  # 1-row x 1-row
        .select(
            "n_users",
            "n_signup_users",
            "n_converted",
            F.when(
                F.col("n_signup_users") > 0,
                F.round(F.col("n_converted") * 100.0 / F.col("n_signup_users"), 2),
            ).alias("conversion_pct"),
        )
    )


@query(
    "event_transition_matrix",
    oracle="""
WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events
),
t AS (
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
),
tot AS (SELECT prev_type, SUM(n_transitions) AS row_total FROM t GROUP BY prev_type)
SELECT t.prev_type, t.next_type, t.n_transitions,
       CAST(t.n_transitions AS DOUBLE) / CAST(tot.row_total AS DOUBLE) AS p_next
FROM t JOIN tot ON t.prev_type = tot.prev_type
""",
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the sequence-statistics prep behind next-action
    models and session-shape monitoring. One window (partitioned by
    user, deterministic (ts, event_id) order) produces the lag pairs;
    the count and row-normalized probability aggregate from the TINY
    (type x type) matrix, so the only data-scale exchange is the
    per-user window shuffle. Row totals re-aggregate from the matrix
    itself rather than rescanning events."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("prev_type", F.lag("event_type").over(w))
    t = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    tot = t.groupBy("prev_type").agg(F.sum("n_transitions").alias("row_total"))
    return (
        t.join(F.broadcast(tot), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n_transitions",
            (F.col("n_transitions").cast("double") / F.col("row_total").cast("double")).alias(
                "p_next"
            ),
        )
    )


@query(
    "user_retention_cohorts",
    oracle="""
WITH wk AS (
    SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS week
    FROM events
),
cohort AS (
    SELECT user_id, MIN(week) AS cohort_week FROM wk GROUP BY user_id
),
sizes AS (
    SELECT cohort_week, COUNT(*) AS n_cohort FROM cohort GROUP BY cohort_week
),
act AS (
    SELECT c.cohort_week,
           CAST(date_diff('day', c.cohort_week, w.week) / 7 AS INT) AS week_k,
           COUNT(DISTINCT w.user_id) AS n_active
    FROM wk w JOIN cohort c USING (user_id)
    GROUP BY c.cohort_week, week_k
)
SELECT a.cohort_week, a.week_k, a.n_active, s.n_cohort,
       round(a.n_active * 1.0 / s.n_cohort, 6) AS retention
FROM act a JOIN sizes s USING (cohort_week)
""",
)
def q_user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — the canonical product-analytics triangle:
    users cohorted by first-active ISO week, and for each (cohort,
    weeks-since-signup) cell the fraction of the cohort still active.
    week 0 retention is 1.0 by construction (the built-in sanity row).

    Scale shape: one distinct to (user, week) — the only events-sized
    shuffle, with map-side combine — then a per-user min (hash agg), a
    keyed join back on user_id, and two small aggs over (cohorts x
    weeks) cells. No windows, no self-join of the raw stream; both
    engines truncate to ISO-Monday weeks so the cells match exactly."""
    wk = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week"))
        .distinct()
    )
    cohort = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = cohort.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("n_cohort"))
    act = (
        wk.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_k"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
    return act.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_k",
        "n_active",
        "n_cohort",
        F.round(F.col("n_active") * F.lit(1.0) / F.col("n_cohort"), 6).alias("retention"),
    )


@query(
    "props_corrupt_audit",
    oracle="""
WITH tampered AS (
  SELECT event_type,
         CASE WHEN event_id % 7 = 0
              THEN substr(props, 1, length(props) - 1)
              ELSE props END AS p
  FROM events
),
parsed AS (
  SELECT event_type, p,
         CASE WHEN json_valid(p) THEN 1 ELSE 0 END AS ok,
         CASE WHEN json_valid(p)
              THEN CAST(json_extract_string(p, '$.k') AS INTEGER) END AS k
  FROM tampered
)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(ok) AS BIGINT) AS n_valid,
       CAST(SUM(1 - ok) AS BIGINT) AS n_corrupt,
       CAST(SUM(k) AS BIGINT) AS sum_k_valid
FROM parsed
GROUP BY event_type
""",
)
def q_props_corrupt_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling — the PERMISSIVE-parse audit every
    ingest needs before trusting a JSON column: a deterministic 1-in-7
    tamper chops the closing brace, then ``try_parse_json`` (the
    strict VARIANT parser, NULL on malformed input) is audited against
    DuckDB's ``json_valid``: per event type, valid/corrupt counts and
    the aggregate over surviving rows. Two engines' ideas of "broken
    JSON" must coincide row-for-row for the hash to match. Single
    scan, one hash agg; corrupt rows are counted, not dropped silently
    — at 100 TB a silent 0.01% parse-loss is a real data bug."""
    ev = load_table(spark, sf_dir, "events")
    p = F.when(
        F.col("event_id") % 7 == 0,
        F.expr("substring(props, 1, length(props) - 1)"),
    ).otherwise(F.col("props"))
    # try_parse_json (the strict VARIANT parser, NULL on malformed) is
    # the validity probe — permissive from_json would hand back an
    # all-null struct instead of failing, hiding the corruption. The
    # one known strictness gap (Spark's variant parser tolerates
    # trailing garbage, DuckDB's json_valid doesn't) cannot arise
    # here: the tamper truncates, never appends.
    parsed = ev.select(
        "event_type",
        F.try_parse_json(p).alias("v"),
    ).select(
        "event_type",
        F.when(F.col("v").isNotNull(), 1).otherwise(0).alias("ok"),
        F.try_variant_get(F.col("v"), "$.k", "int").alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("ok").cast("bigint").alias("n_valid"),
        F.sum(1 - F.col("ok")).cast("bigint").alias("n_corrupt"),
        F.sum("k").cast("bigint").alias("sum_k_valid"),
    )


ATTR_WINDOW_H = 24  # credit clicks within this many hours before a purchase


@query(
    "attribution_multitouch_events",
    oracle=f"""
WITH clicks AS (
    SELECT user_id, event_id AS click_id, ts AS click_ts
    FROM events WHERE event_type = 'click'
),
purchases AS (
    SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, value
    FROM events WHERE event_type = 'purchase'
),
touches AS (
    SELECT p.purchase_id, p.value, c.click_id, c.click_ts,
           COUNT(*) OVER (PARTITION BY p.purchase_id) AS n_touches,
           ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                              ORDER BY c.click_ts DESC, c.click_id DESC) AS recency
    FROM purchases p
    JOIN clicks c
      ON c.user_id = p.user_id
     AND c.click_ts < p.purchase_ts
     AND c.click_ts >= p.purchase_ts - INTERVAL {ATTR_WINDOW_H} HOUR
),
credit AS (
    SELECT click_id,
           CAST(round(value / n_touches, 6) AS DECIMAL(18,6)) AS linear_credit,
           CASE WHEN recency = 1 THEN CAST(value AS DECIMAL(18,6))
                ELSE CAST(0 AS DECIMAL(18,6)) END AS last_touch_credit
    FROM touches
)
SELECT click_id,
       CAST(SUM(linear_credit) AS DOUBLE) AS linear_value,
       CAST(SUM(last_touch_credit) AS DOUBLE) AS last_touch_value,
       COUNT(*) AS n_purchases_touched
FROM credit
GROUP BY click_id
""",
)
def q_attribution_multitouch_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution — linear and last-touch credit side by
    side: every click within {ATTR_WINDOW_H}h before a purchase shares
    that purchase's value equally (linear), while the most recent click
    takes it all (last-touch); ties on the same timestamp break by
    event id. Credit divides DECIMAL(18,6) by an exact integer so the
    per-touch shares (and their re-aggregation per click) match
    bit-for-bit cross-engine.

    Scale shape: the click×purchase interval join is keyed on user_id
    FIRST (per-user touch lists are session-sized, so the range
    condition explodes nothing — the same per-key-interval shape as
    click_purchase_attribution's streaming twin); the per-purchase
    window runs on the touch table, already reduced to matched pairs,
    never on the raw event stream."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    touches = purchases.join(
        clicks,
        (clicks["user_id"] == purchases["user_id"])
        & (F.col("click_ts") < F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {ATTR_WINDOW_H} HOUR")),
    ).select("purchase_id", "value", "click_id", "click_ts")
    from pyspark.sql import Window

    w_cnt = Window.partitionBy("purchase_id")
    w_rec = Window.partitionBy("purchase_id").orderBy(
        F.col("click_ts").desc(), F.col("click_id").desc()
    )
    credit = touches.select(
        "click_id",
        F.round(F.col("value") / F.count(F.lit(1)).over(w_cnt), 6)
        .cast("decimal(18,6)")
        .alias("linear_credit"),
        F.when(
            F.row_number().over(w_rec) == 1, F.col("value").cast("decimal(18,6)")
        )
        .otherwise(F.lit(0).cast("decimal(18,6)"))
        .alias("last_touch_credit"),
    )
    return credit.groupBy("click_id").agg(
        F.sum("linear_credit").cast("double").alias("linear_value"),
        F.sum("last_touch_credit").cast("double").alias("last_touch_value"),
        F.count(F.lit(1)).alias("n_purchases_touched"),
    )


@query(
    "funnel_time_to_convert",
    oracle="""
WITH su AS (
  SELECT user_id, MIN(ts) AS signup_ts
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
conv AS (
  SELECT su.user_id,
         (MIN(epoch_us(e.ts)) - MIN(epoch_us(su.signup_ts))) / 3600000000.0 AS hours
  FROM su JOIN events e
    ON e.user_id = su.user_id AND e.event_type = 'purchase' AND e.ts >= su.signup_ts
  GROUP BY su.user_id
),
ranked AS (
  SELECT hours,
         ROW_NUMBER() OVER (ORDER BY hours, user_id) AS rn,
         COUNT(*) OVER () AS n
  FROM conv
)
SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
       MAX(CASE WHEN rn = 1 THEN hours END) AS min_hours,
       MAX(CASE WHEN rn = (n + 1) // 2 THEN hours END) AS median_hours,
       MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN hours END) AS p90_hours,
       MAX(CASE WHEN rn = n THEN hours END) AS max_hours
FROM ranked
""",
)
def q_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution for the signup→purchase funnel:
    hours from a user's first signup to their first purchase at or
    after it, summarized as explicit order statistics (min / median /
    p90 / max picked by row_number — no engine-specific quantile
    interpolation, so the oracle replays exactly). The latency
    companion to events_funnel_signup_purchase's conversion RATE: two
    user-keyed aggregates and one user equi-join do all the heavy
    lifting map-side; the final window ranks only the converted-user
    summary (one row per converted user). The hour delta divides exact
    integer microseconds by a constant — the same IEEE double in both
    engines. Quantile indexes are pure integer arithmetic
    ((n+1)//2, ceil(9n/10) = (9n+9)//10)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"), F.col("ts").alias("p_ts")
    )
    conv = (
        su.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id")) & (F.col("p_ts") >= F.col("signup_ts")),
        )
        .groupBy("user_id")
        .agg(
            (
                (F.min(F.unix_micros("p_ts")) - F.min(F.unix_micros("signup_ts")))
                / F.lit(3600000000.0)
            ).alias("hours")
        )
    )
    from nyc_taxi_data_engineering_spark.operators.distrank import global_row_number

    # distributed rank + broadcast count: the converted-user grain
    # grows with users, so no single-partition window (r12). Cached so
    # the count pass and the rank pass share ONE events scan (the
    # key_skew/theil_sen cache pattern).
    conv = conv.persist()
    n_tot = conv.agg(F.count(F.lit(1)).alias("n"))
    ranked = (
        global_row_number(conv, ["hours", "user_id"], out="rn")
        .crossJoin(F.broadcast(n_tot))
        .select("hours", "rn", "n")
    )
    pick = lambda cond: F.max(F.when(cond, F.col("hours")))
    med_rn = F.floor((F.col("n") + 1) / 2)
    p90_rn = F.floor((9 * F.col("n") + 9) / 10)
    return ranked.agg(
        F.max("n").cast("long").alias("n_converted"),
        pick(F.col("rn") == 1).alias("min_hours"),
        pick(F.col("rn") == med_rn).alias("median_hours"),
        pick(F.col("rn") == p90_rn).alias("p90_hours"),
        pick(F.col("rn") == F.col("n")).alias("max_hours"),
    )


_VARIANT_J = (
    "('{\"u\": {\"id\": ' || CAST(user_id AS STRING) || ', \"ty\": \"' || event_type"
    " || '\"}, \"vals\": [' || CAST(event_id % 5 AS STRING) || ', '"
    " || CAST(event_id % 11 AS STRING) || ']}')"
)


@query(
    "events_variant_paths",
    oracle=f"""
WITH nested AS (SELECT event_type, {_VARIANT_J} AS j FROM events)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(json_extract_string(j, '$.u.id') AS BIGINT)) AS BIGINT) AS sum_uid,
       CAST(SUM(CAST(json_extract_string(j, '$.vals[1]') AS BIGINT)) AS BIGINT) AS sum_val1,
       CAST(SUM(CASE WHEN json_extract_string(j, '$.u.ty') = event_type THEN 1 ELSE 0 END) AS BIGINT) AS ty_roundtrip
FROM nested
GROUP BY event_type
ORDER BY event_type
""",
)
def q_events_variant_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VARIANT semi-structured surface (Spark 4 parse_json /
    variant_get) on nested objects and arrays: a nested JSON document
    is planted from the event columns, parsed ONCE to a variant, and
    typed values extract by path — an object field, an array element,
    and a string round-trip sanity count — aggregated per event type.
    The DuckDB oracle reads the same paths with its JSON functions, so
    the two engines' path semantics must coincide value-for-value.
    Single scan, one hash agg; variant decode is per-row codegen."""
    ev = load_table(spark, sf_dir, "events")
    nested = ev.select(
        "event_type", F.parse_json(F.expr(_VARIANT_J)).alias("v")
    )
    vg = lambda path, t: F.expr(f"variant_get(v, '{path}', '{t}')")  # noqa: E731
    return (
        nested.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(vg("$.u.id", "bigint")).cast("bigint").alias("sum_uid"),
            F.sum(vg("$.vals[1]", "bigint")).cast("bigint").alias("sum_val1"),
            F.sum(
                F.when(vg("$.u.ty", "string") == F.col("event_type"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("ty_roundtrip"),
        )
        .orderBy("event_type")
    )


@query(
    "attribution_decay_position_events",
    oracle=f"""
WITH clicks AS (
    SELECT user_id, event_id AS click_id, ts AS click_ts
    FROM events WHERE event_type = 'click'
),
purchases AS (
    SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, value
    FROM events WHERE event_type = 'purchase'
),
touches AS (
    SELECT p.purchase_id, p.value, c.click_id,
           COUNT(*) OVER (PARTITION BY p.purchase_id) AS n_touches,
           ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                              ORDER BY c.click_ts DESC, c.click_id DESC) AS recency,
           epoch(p.purchase_ts) - epoch(c.click_ts) AS gap_s
    FROM purchases p
    JOIN clicks c
      ON c.user_id = p.user_id
     AND c.click_ts < p.purchase_ts
     AND c.click_ts >= p.purchase_ts - INTERVAL {ATTR_WINDOW_H} HOUR
),
weighted AS (
    SELECT *,
           1.0 / CAST(1 << CAST((gap_s - gap_s % 3600) / 3600 AS INT) AS DOUBLE) AS w
    FROM touches
),
shared AS (
    SELECT *,
           w / SUM(w) OVER (PARTITION BY purchase_id) AS decay_share,
           CASE WHEN n_touches = 1 THEN 1.0
                WHEN n_touches = 2 THEN 0.5
                WHEN recency = 1 THEN 0.4
                WHEN recency = n_touches THEN 0.4
                ELSE 0.2 / (n_touches - 2) END AS position_share
    FROM weighted
)
SELECT click_id,
       CAST(CAST(SUM(CAST(round(value * decay_share, 6) AS DECIMAL(18,6))) AS STRING) AS DOUBLE) AS decay_value,
       CAST(CAST(SUM(CAST(round(value * position_share, 6) AS DECIMAL(18,6))) AS STRING) AS DOUBLE) AS position_value,
       COUNT(*) AS n_purchases_touched
FROM shared
GROUP BY click_id
""",
)
def q_attribution_decay_position_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay and position-based (U-shaped) credit — completing
    the five-model attribution suite (linear/last-touch in
    attribution_multitouch_events, removal-effect in markovq, Shapley
    in shapleyq). Exactness: decay weights are DYADIC (1/2^hours-ago
    via integer shift — every weight, and every per-purchase weight
    SUM, is an exact double, so the normalizing division is one IEEE
    op), hour gaps use the modulo-exact integer division, U-shape
    constants are pinned literals, and per-touch credits quantize to
    6 dp decimals before the per-click re-aggregation. Same keyed
    interval-join shape as the linear/last-touch twin."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    touches = purchases.join(
        clicks,
        (clicks["user_id"] == purchases["user_id"])
        & (F.col("click_ts") < F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {ATTR_WINDOW_H} HOUR")),
    ).select(
        "purchase_id",
        "value",
        "click_id",
        "click_ts",
        F.expr("unix_timestamp(purchase_ts) - unix_timestamp(click_ts)").alias("gap_s"),
    )
    wp = Window.partitionBy("purchase_id")
    t = (
        touches.withColumn("n_touches", F.count(F.lit(1)).over(wp))
        .withColumn(
            "recency",
            F.row_number().over(wp.orderBy(F.col("click_ts").desc(), F.col("click_id").desc())),
        )
        .withColumn(
            "w",
            F.expr("1.0 / CAST(1 << CAST((gap_s - gap_s % 3600) / 3600 AS INT) AS DOUBLE)"),
        )
    )
    shared = t.withColumn("decay_share", F.col("w") / F.sum("w").over(wp)).withColumn(
        "position_share",
        F.when(F.col("n_touches") == 1, F.lit(1.0))
        .when(F.col("n_touches") == 2, F.lit(0.5))
        .when(F.col("recency") == 1, F.lit(0.4))
        .when(F.col("recency") == F.col("n_touches"), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n_touches") - 2)),
    )
    return shared.groupBy("click_id").agg(
        F.sum(F.round(F.col("value") * F.col("decay_share"), 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("decay_value"),
        F.sum(F.round(F.col("value") * F.col("position_share"), 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("position_value"),
        F.count(F.lit(1)).alias("n_purchases_touched"),
    )


@query(
    "event_path_trigrams",
    oracle="""
WITH seq AS (
    SELECT user_id, event_type,
           lead(event_type, 1) OVER w AS e2,
           lead(event_type, 2) OVER w AS e3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type AS e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n_paths
FROM seq WHERE e3 IS NOT NULL
GROUP BY e1, e2, e3
ORDER BY n_paths DESC, e1, e2, e3
LIMIT 20
""",
)
def q_event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 behavioral path trigrams: the order-3 extension of the
    first-order transition matrix (event_transition_matrix) — two lead
    windows on ONE user-keyed sort, a trigram hash agg, and a
    deterministic top-k (TakeOrdered, count-then-lexicographic)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), "e1", "e2", "e3")
        .limit(20)
    )


@query(
    "user_activity_streaks",
    oracle="""
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
isl AS (
    SELECT user_id, d,
           date_diff('day', DATE '1970-01-01', d)
             - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
    FROM days
),
streaks AS (
    SELECT user_id, MIN(d) AS streak_start, MAX(d) AS streak_end,
           CAST(COUNT(*) AS BIGINT) AS streak_days
    FROM isl GROUP BY user_id, grp
),
best AS (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY streak_days DESC, streak_start) AS rk
    FROM streaks
)
SELECT user_id, strftime(streak_start, '%Y-%m-%d') AS streak_start,
       strftime(streak_end, '%Y-%m-%d') AS streak_end, streak_days
FROM best WHERE rk = 1
ORDER BY user_id
""",
)
def q_user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user — the
    gaps-and-islands pattern: island id = epoch-day minus the per-user
    day rank (constant within a consecutive run), one distinct, two
    hash aggs, two windows on the SAME user partitioning. Integer
    arithmetic end to end; dates format engine-natively."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn(
        "grp",
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
        - F.row_number().over(w),
    )
    streaks = isl.groupBy("user_id", "grp").agg(
        F.min("d").alias("streak_start"),
        F.max("d").alias("streak_end"),
        F.count(F.lit(1)).cast("bigint").alias("streak_days"),
    )
    wb = Window.partitionBy("user_id").orderBy(
        F.col("streak_days").desc(), "streak_start"
    )
    return (
        streaks.withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.date_format("streak_start", "yyyy-MM-dd").alias("streak_start"),
            F.date_format("streak_end", "yyyy-MM-dd").alias("streak_end"),
            "streak_days",
        )
        .orderBy("user_id")
    )


MARKOV_POWER_ITERS = 4


def _stationary_iter_sql(prev: str, out: str) -> str:
    # Renormalize after every multiply: a state that appears as next_type
    # but never as prev_type (dangling/absorbing) sheds its mass on the
    # following iteration's join with tm — dividing by the surviving total
    # keeps pi a probability distribution regardless. On a fully-connected
    # chain the divisor is exactly 1 on the decimal grid (mass conserved),
    # so this is a no-op there.
    return f"""{out}_raw AS (
    SELECT t.next_type AS state,
           SUM(CAST(round(p.pi * t.p_next, 12) AS DECIMAL(28,12))) AS pi_dec
    FROM {prev} p JOIN tm t ON t.prev_type = p.state
    GROUP BY t.next_type
),
{out} AS (
    SELECT state,
           CAST(pi_dec AS DOUBLE)
           / CAST((SELECT SUM(pi_dec) FROM {out}_raw) AS DOUBLE) AS pi
    FROM {out}_raw
)"""


_STATIONARY_ITERS_SQL = ",\n".join(
    _stationary_iter_sql(f"p{i - 1}", f"p{i}")
    for i in range(1, MARKOV_POWER_ITERS + 1)
)


from nyc_taxi_data_engineering_spark.operators.graph import materialize_ctes  # noqa: E402


@query(
    "markov_stationary_events",
    # materialize_ctes: the per-iteration CTE pairs reference tm and the
    # previous pi multiple times — same DuckDB inlining bomb as the
    # graph-family oracles (see operators/graph.materialize_ctes)
    oracle=materialize_ctes(f"""
WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events
),
t AS (
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
),
tot AS (SELECT prev_type, SUM(n_transitions) AS row_total FROM t GROUP BY prev_type),
tm AS (
    SELECT t.prev_type, t.next_type,
           CAST(t.n_transitions AS DOUBLE) / CAST(tot.row_total AS DOUBLE) AS p_next
    FROM t JOIN tot ON t.prev_type = tot.prev_type
),
k AS (SELECT CAST(COUNT(DISTINCT prev_type) AS DOUBLE) AS k FROM tm),
p0 AS (SELECT DISTINCT prev_type AS state, 1.0 / (SELECT k FROM k) AS pi FROM tm),
{_STATIONARY_ITERS_SQL}
SELECT state, pi FROM p{MARKOV_POWER_ITERS} ORDER BY state
"""),
)
def q_markov_stationary_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain — where
    user behavior settles in the long run, the one-vector summary of
    the transition matrix: {MARKOV_POWER_ITERS} power iterations
    pi' = pi P from the uniform start, each mass term rounded to 12 dp
    and summed as DECIMAL(28,12) (the PageRank determinism contract —
    a k-term double sum has engine-dependent order, the decimal grid
    does not), then renormalized so dangling states (observed only as
    next_type, never as prev_type) cannot silently drain probability
    mass — on a fully-connected chain the renormalization divides by
    exactly 1. The chain itself comes from the same lag-window build
    as event_transition_matrix; every iteration is a keyed join + hash
    agg over the TYPE x TYPE matrix — constant-size work regardless of
    data volume once the matrix is built."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("prev_type", F.lag("event_type").over(w))
    t = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    tot = t.groupBy("prev_type").agg(F.sum("n_transitions").alias("row_total"))
    tm = t.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        (F.col("n_transitions").cast("double") / F.col("row_total").cast("double")).alias(
            "p_next"
        ),
    )
    tm = tm.persist()

    def renorm(raw: DataFrame) -> DataFrame:
        # Renormalize each iteration: dangling states (next_type-only)
        # shed mass on the join with tm; dividing by the surviving total
        # keeps pi summing to 1 in both engines. Exact no-op (divisor 1
        # on the decimal grid) when the chain is fully connected.
        total = raw.agg(F.sum("pi_dec").alias("pi_total"))
        return raw.crossJoin(F.broadcast(total)).select(
            "state",
            (F.col("pi_dec").cast("double") / F.col("pi_total").cast("double")).alias(
                "pi"
            ),
        )

    def power_round(raw: DataFrame, _: int) -> DataFrame:
        return (
            renorm(raw)
            .withColumnRenamed("state", "prev_type")
            .join(tm, "prev_type")
            .groupBy(F.col("next_type").alias("state"))
            .agg(
                F.sum(
                    F.round(F.col("pi") * F.col("p_next"), 12).cast("decimal(28,12)")
                ).alias("pi_dec")
            )
        )

    # The carried state is the unnormalized mass: renorm reads it twice
    # (the total and the divide). A unit mass on every state renormalizes
    # to exactly 1.0 / k, the uniform start.
    raw = tm.select(F.col("prev_type").alias("state")).distinct().select(
        "state", F.lit(1).cast("decimal(28,12)").alias("pi_dec")
    )
    return renorm(iterate(raw, power_round, MARKOV_POWER_ITERS)).orderBy("state")


PATHDIST_USERS = 12  # most-active users, deterministic tiebreak
PATHDIST_CAP = 100  # first events per user


@query(
    "path_edit_distance_pairs",
    oracle=f"""
WITH ranked AS (
    SELECT user_id, COUNT(*) AS n_events
    FROM events GROUP BY user_id
    ORDER BY n_events DESC, user_id LIMIT {PATHDIST_USERS}
),
paths AS (
    SELECT e.user_id,
           array_to_string((list(substr(e.event_type, 1, 1)
                                 ORDER BY e.ts, e.event_id))[1:{PATHDIST_CAP}], '') AS path
    FROM events e JOIN ranked r ON r.user_id = e.user_id
    GROUP BY e.user_id
)
SELECT a.user_id AS user_a, b.user_id AS user_b,
       CAST(length(a.path) AS BIGINT) AS len_a,
       CAST(length(b.path) AS BIGINT) AS len_b,
       CAST(levenshtein(a.path, b.path) AS BIGINT) AS edit_distance,
       1.0 - CAST(levenshtein(a.path, b.path) AS DOUBLE)
             / CAST(GREATEST(length(a.path), length(b.path)) AS DOUBLE) AS similarity
FROM paths a JOIN paths b ON a.user_id < b.user_id
ORDER BY user_a, user_b
""",
)
def q_path_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-path similarity by EDIT DISTANCE — do two users walk
    the product the same way, including order (the question co-visit
    counts and Markov matrices can't answer): each of the
    {PATHDIST_USERS} most-active users becomes a type-initial string
    (first {PATHDIST_CAP} events, deterministic (ts, event_id) order),
    then native levenshtein over all pairs — an exact integer in both
    engines, normalized to a similarity by the longer path. The
    pairwise stage is top-K-bounded by design (K²/2 pairs of
    length-capped strings — the O(len²) DP cost is the reason
    production pipelines never edit-distance a full corpus; the dedup
    family's shingle/MinHash operators are the scale path)."""
    ev = load_table(spark, sf_dir, "events")
    ranked = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.col("n_events").desc(), "user_id")
        .limit(PATHDIST_USERS)
        .select("user_id")
    )
    paths = (
        ev.join(F.broadcast(ranked), "user_id")
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    "ts",
                                    "event_id",
                                    F.substring("event_type", 1, 1).alias("c"),
                                )
                            )
                        ),
                        lambda x: x["c"],
                    ),
                    1,
                    PATHDIST_CAP,
                ),
                "",
            ).alias("path")
        )
    )
    a = paths.select(F.col("user_id").alias("user_a"), F.col("path").alias("pa"))
    b = paths.select(F.col("user_id").alias("user_b"), F.col("path").alias("pb"))
    dist = F.levenshtein("pa", "pb").cast("bigint")
    sim = F.lit(1.0) - dist.cast("double") / F.greatest(
        F.length("pa"), F.length("pb")
    ).cast("double")
    return (
        a.join(b, F.col("user_a") < F.col("user_b"))
        .select(
            "user_a",
            "user_b",
            F.length("pa").cast("bigint").alias("len_a"),
            F.length("pb").cast("bigint").alias("len_b"),
            dist.alias("edit_distance"),
            sim.alias("similarity"),
        )
        .orderBy("user_a", "user_b")
    )
