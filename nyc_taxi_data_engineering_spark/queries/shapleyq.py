"""Shapley-value attribution — the third leg of the attribution
family beside the heuristic credits (attribution_multitouch_events)
and the Markov removal effect (markov_attribution_events): credit
each channel by its average marginal contribution over ALL 2^4
coalition orderings of the 4 non-absorbing channels.

Model: a user's journey exposes a channel SET (events strictly before
the first purchase; the whole journey for non-converters), and the
coalition value v(S) is the number of converted journeys whose
exposure set is contained in S, normalized by total journeys. Then

    phi_c = sum over S not containing c of w(|S|) * (v(S+c) - v(S)),
    w = |S|! * (4-|S|-1)! / 4!  in {6,2,2,6}/24.

Exactness contract: scaling by 24 makes every phi numerator a pure
BIGINT expression over the 16 coalition counts — integer arithmetic
end-to-end with exactly ONE double division per output value, so both
engines agree bit-for-bit. The 16 subset-containment counts come from
ONE hash agg row (``mask & ~S == 0`` conditional sums, complement
masks precomputed in Python), and the efficiency axiom
(sum phi = v(full) - v(empty)) is checked in tests.

100 TB: one window pass (first-purchase truncation), one per-user
``bit_or`` agg, one 17-column global agg to a single row; the 2^4
coalition math is single-row codegen. Channel-count growth is the
only exponential axis — n=4 is the marketing-standard regime; past
~10 channels you switch to the Markov model (linear in channels),
which is why BOTH live in this repo.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table
from nyc_taxi_data_engineering_spark.queries.registry import query

CHANNELS = ["click", "error", "signup", "view"]  # bit i = CHANNELS[i]
N = len(CHANNELS)
FULL = (1 << N) - 1
# 24*w(|S|) for |S| = 0..3 (n=4): |S|!*(n-|S|-1)!
W24 = [6, 2, 2, 6]


def _bit_sql() -> str:
    """Channel -> bit value; purchase and unknown types carry no bit."""
    whens = " ".join(
        f"WHEN event_type = '{c}' THEN {1 << i}" for i, c in enumerate(CHANNELS)
    )
    return f"CASE {whens} ELSE 0 END"


def _coalition_aggs() -> list[str]:
    """17 agg expressions: converted-journey count contained in each
    coalition S (cs_0..cs_15) plus the journey total."""
    aggs = []
    for s in range(FULL + 1):
        comp = (~s) & FULL
        aggs.append(
            f"CAST(SUM(CASE WHEN (mask & {comp}) = 0 AND conv = 1 THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS cs_{s}"
        )
    aggs.append("CAST(COUNT(*) AS BIGINT) AS n_journeys")
    return aggs


def _numer_sql(ci: int) -> str:
    """24-scaled Shapley numerator for channel bit ``ci`` — pure
    BIGINT arithmetic over the coalition counts."""
    bit = 1 << ci
    terms = []
    for s in range(FULL + 1):
        if s & bit:
            continue
        w = W24[bin(s).count("1")]
        terms.append(f"{w} * (cs_{s | bit} - cs_{s})")
    return "(" + " + ".join(terms) + ")"


def _row_exprs() -> list[tuple[str, str, str]]:
    """(channel, shapley_value expr, attribution_share expr)."""
    numers = {c: _numer_sql(i) for i, c in enumerate(CHANNELS)}
    total_numer = " + ".join(numers[c] for c in CHANNELS)
    out = []
    for c in CHANNELS:
        val = (
            f"CASE WHEN n_journeys = 0 THEN CAST(0.0 AS DOUBLE) "
            f"ELSE CAST({numers[c]} AS DOUBLE) / CAST(24 * n_journeys AS DOUBLE) END"
        )
        share = (
            f"CASE WHEN ({total_numer}) = 0 THEN CAST(0.0 AS DOUBLE) "
            f"ELSE CAST({numers[c]} AS DOUBLE) / CAST({total_numer} AS DOUBLE) END"
        )
        out.append((c, val, share))
    return out


_JOURNEYS_SQL = f"""
r0 AS (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
),
r AS (
    SELECT *,
           MIN(CASE WHEN event_type = 'purchase' THEN rn END)
               OVER (PARTITION BY user_id) AS prn
    FROM r0
),
j AS (
    SELECT user_id,
           COALESCE(bit_or(CASE WHEN prn IS NULL OR rn < prn THEN {_bit_sql()} END), 0) AS mask,
           MAX(CASE WHEN prn IS NOT NULL THEN 1 ELSE 0 END) AS conv
    FROM r
    GROUP BY user_id
)
"""


def _oracle_sql() -> str:
    aggs = ",\n           ".join(_coalition_aggs())
    rows = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS channel, {val} AS shapley_value, {share} AS attribution_share FROM m"
        for c, val, share in _row_exprs()
    )
    return (
        f"WITH {_JOURNEYS_SQL.strip()},\n"
        f"m AS (SELECT {aggs} FROM j)\n"
        f"{rows}\nORDER BY channel"
    )


@query("shapley_attribution_events", oracle=_oracle_sql())
def q_shapley_attribution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley credit per channel over the events journeys:
    4 rows of (channel, shapley_value, attribution_share). See module
    docstring for the integer-exact contract."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = Window.partitionBy("user_id")
    r = (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "prn",
            F.min(F.when(F.col("event_type") == "purchase", F.col("rn"))).over(wp),
        )
    )
    j = r.groupBy("user_id").agg(
        F.coalesce(
            F.expr(
                f"bit_or(CASE WHEN prn IS NULL OR rn < prn THEN {_bit_sql()} END)"
            ),
            F.lit(0),
        ).alias("mask"),
        F.max(F.when(F.col("prn").isNotNull(), 1).otherwise(0)).alias("conv"),
    )
    m = j.agg(*[F.expr(a) for a in _coalition_aggs()])
    entries = [
        F.struct(
            F.lit(c).alias("channel"),
            F.expr(val).alias("shapley_value"),
            F.expr(share).alias("attribution_share"),
        )
        for c, val, share in _row_exprs()
    ]
    return (
        m.select(F.explode(F.array(*entries)).alias("e")).select("e.*").orderBy("channel")
    )
