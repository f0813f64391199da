"""AdaBoost over decision stumps, trained under the exact oracle gate
— the ensemble-model companion to the single linear probe
(linear_probe_weights) and the one-shot split search
(gini_split_search_orders).

Task: the label is PLANTED (the corpus's own columns are mutually
independent by construction — no real 2-of-3 structure exists to
learn, the geo/PII planting precedent): y = +1 iff at least 2 of
{price >= 150k, priority in (URGENT, HIGH), year >= 1999} hold, with
a deterministic 5% label flip (``o_orderkey % 20 = 7``). A 2-of-3
majority is exactly ``sign(h1+h2+h3)`` — the canonical function a
boosted stump ensemble can represent but NO single stump can — so the
trace shows real reweighting: each round must pick a DIFFERENT
planted feature, and ensemble accuracy lands near the 95% noise
ceiling while the best single stump cannot get there. Candidates:
price thresholds, order-year thresholds, priority membership — each
in both polarities, 20 candidates. Three boosting rounds.

Exactness contract (how a multiplicative-weights algorithm survives
the bit-exact cross-engine gate):
- Weight updates use the ODDS-FACTOR form ``f_t = sqrt((1-e)/e)``
  (misclassified rows x f_t, correct rows / f_t) — algebraically the
  standard AdaBoost exp(±alpha) update, but IEEE-754 requires sqrt to
  be CORRECTLY ROUNDED, so both engines produce the identical double
  where exp(log(...)) would drift by ulps.
- Every weighted sum quantizes each row's weight to DECIMAL(28,12)
  first: order-free, associative, identical in both engines.
- Stump selection per round is an argmin in EXPRESSION space over the
  20 decimal error sums (``least`` + first-match CASE, lowest index
  wins ties) — selection compares raw weighted-error sums, never the
  divided epsilon, so it is integer/decimal-exact.
- The ensemble vote is log-free: predict +1 iff the product of the
  factors of +1-voting stumps exceeds the product of the -1 voters
  (ties pinned to -1).

100 TB: boosting is inherently multi-pass, so the per-row candidate
matrix (y, wrong_0..wrong_19 — 21 small ints) is computed once and
cached; each round is then ONE conditional-aggregate pass over the
cached matrix producing a 41-column single row that re-enters the
next pass as a 1-row broadcast. Rounds are driver-free (no collect):
the whole train is one lazy plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table
from nyc_taxi_data_engineering_spark.queries.registry import query

ROUNDS = 3

# (condition SQL over orders, description). Each condition yields two
# candidates: predict +1 when true (polarity +) and the negation.
_CONDS: list[tuple[str, str]] = [
    ("o_totalprice < 50000.0", "price<50k"),
    ("o_totalprice < 100000.0", "price<100k"),
    ("o_totalprice < 150000.0", "price<150k"),
    ("o_totalprice < 200000.0", "price<200k"),
    ("year(o_orderdate) < 1996", "year<1996"),
    ("year(o_orderdate) < 1997", "year<1997"),
    ("year(o_orderdate) < 1998", "year<1998"),
    ("year(o_orderdate) < 1999", "year<1999"),
    ("year(o_orderdate) < 2000", "year<2000"),
    ("o_orderpriority IN ('1-URGENT', '2-HIGH')", "priority-high"),
]

# candidate j: condition _CONDS[j // 2], polarity +1 if j even else -1
N_CAND = 2 * len(_CONDS)


def cand_desc(j: int) -> str:
    return f"{_CONDS[j // 2][1]}:{'+' if j % 2 == 0 else '-'}"


_VOTE_SQL = (
    "(CASE WHEN o_totalprice >= 150000.0 THEN 1 ELSE 0 END)"
    " + (CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)"
    " + (CASE WHEN year(o_orderdate) >= 1999 THEN 1 ELSE 0 END)"
)
_Y_SQL = (
    f"(CASE WHEN o_orderkey % 20 = 7 THEN -1 ELSE 1 END)"
    f" * (CASE WHEN ({_VOTE_SQL}) >= 2 THEN 1 ELSE -1 END)"
)


def _wrong_sql(j: int) -> str:
    cond, _ = _CONDS[j // 2]
    pred = f"CASE WHEN {cond} THEN 1 ELSE -1 END"
    if j % 2 == 1:
        pred = f"-({pred})"
    return f"CASE WHEN ({pred}) <> y THEN 1 ELSE 0 END"


def _base_cols() -> list[str]:
    return [f"{_Y_SQL} AS y"] + [f"{_wrong_sql(j)} AS wrong_{j}" for j in range(N_CAND)]


def _pr12(expr: str) -> str:
    """Portable 12-dp quantizer (floor(x*1e12+0.5)/1e12): row weights
    are ARBITRARY doubles (products of sqrt factors), and the two
    engines round a double onto the decimal grid differently near grid
    halves — at sf0.1 ~1e-4 of rows flipped one quantum and epsilon
    moved 1 ULP (r10 exact-sweep find). The explicit IEEE chain makes
    both engines quantize identically; the decimal cast of the on-grid
    result is then deterministic."""
    return f"(floor(({expr}) * 1e12 + 0.5) / 1e12)"


def _round_aggs(w_expr: str, t: int) -> list[str]:
    """Weighted error per candidate + total weight, decimal-exact."""
    aggs = [
        f"SUM(CAST({_pr12(f'({w_expr}) * wrong_{j}')} AS DECIMAL(28,12))) AS werr_{t}_{j}"
        for j in range(N_CAND)
    ]
    aggs.append(f"SUM(CAST({_pr12(w_expr)} AS DECIMAL(28,12))) AS wtot_{t}")
    return aggs


def _best_sql(t: int) -> str:
    """Argmin candidate id over the round-t error sums; lowest index
    wins ties (first-match CASE)."""
    m = ", ".join(f"werr_{t}_{j}" for j in range(N_CAND))
    whens = " ".join(
        f"WHEN werr_{t}_{j} = least({m}) THEN {j}" for j in range(N_CAND)
    )
    return f"(CASE {whens} END)"


def _eps_sql(t: int) -> str:
    # STRING hop: werr/wtot are DECIMAL(38,12) sums whose unscaled
    # value exceeds 2^53 at sf0.1 — DuckDB's direct decimal->double
    # double-rounds there, the string hop is correctly rounded in both
    # engines (functions.dec_to_double_sql rationale).
    w = " ".join(
        f"WHEN {_best_sql(t)} = {j} THEN CAST(CAST(werr_{t}_{j} AS STRING) AS DOUBLE)"
        for j in range(N_CAND)
    )
    return f"((CASE {w} END) / CAST(CAST(wtot_{t} AS STRING) AS DOUBLE))"


def _factor_sql(t: int) -> str:
    e = f"eps_{t}"
    return f"sqrt((1.0 - {e}) / {e})"


def _wrong_best_sql(t: int) -> str:
    """Per-row: did round t's chosen stump misclassify this row?"""
    whens = " ".join(f"WHEN best_{t} = {j} THEN wrong_{j}" for j in range(N_CAND))
    return f"(CASE {whens} END)"


def _weight_sql(upto: int) -> str:
    """Row weight entering round ``upto`` (product of prior factors)."""
    w = "1.0"
    for t in range(1, upto):
        w = (
            f"({w}) * (CASE WHEN {_wrong_best_sql(t)} = 1"
            f" THEN f_{t} ELSE 1.0 / f_{t} END)"
        )
    return w


def _state_cols(t: int) -> str:
    """Scalar round state derived from the round-t agg row."""
    return (
        f"{_best_sql(t)} AS best_{t}, {_eps_sql(t)} AS eps_{t}"
    )


def _train_ctes() -> str:
    """Shared CTE chain text: base matrix -> per-round agg + state."""
    parts = [f"base AS (SELECT {', '.join(_base_cols())} FROM orders)"]
    src = "base"
    for t in range(1, ROUNDS + 1):
        w = _weight_sql(t)
        parts.append(
            f"agg_{t} AS (SELECT {', '.join(_round_aggs(w, t))} FROM {src})"
        )
        parts.append(f"st_{t} AS (SELECT *, {_state_cols(t)} FROM agg_{t})")
        parts.append(f"stf_{t} AS (SELECT *, {_factor_sql(t)} AS f_{t} FROM st_{t})")
        if t < ROUNDS:
            # next round's pass re-reads base with EVERY prior round's
            # 1-row state joined on (each stf_i is a single row; names
            # are round-suffixed so nothing clashes)
            states = " CROSS JOIN ".join(f"stf_{i}" for i in range(1, t + 1))
            parts.append(f"pass_{t + 1} AS (SELECT * FROM base CROSS JOIN {states})")
            src = f"pass_{t + 1}"
        else:
            src = None
    return ",\n".join(parts)


def _desc_case(t: int) -> str:
    whens = " ".join(
        f"WHEN best_{t} = {j} THEN '{cand_desc(j)}'" for j in range(N_CAND)
    )
    return f"(CASE {whens} END)"


_TRAIN_ORACLE = f"""
WITH {_train_ctes()}
SELECT 1 AS round, best_1 AS stump_id, {_desc_case(1)} AS stump, eps_1 AS epsilon, f_1 AS odds_factor FROM stf_1
UNION ALL
SELECT 2, best_2, {_desc_case(2)}, eps_2, f_2 FROM stf_2
UNION ALL
SELECT 3, best_3, {_desc_case(3)}, eps_3, f_3 FROM stf_3
ORDER BY round
"""


def _train_df(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(base matrix, 1-row state with best_t / eps_t / f_t for all t)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority"
    )
    base = orders.select(*[F.expr(c) for c in _base_cols()])
    base = base.persist()  # boosting re-reads the matrix once per round
    state: DataFrame | None = None
    src = base
    for t in range(1, ROUNDS + 1):
        agg = src.agg(*[F.expr(a) for a in _round_aggs(_weight_sql(t), t)])
        if state is not None:
            # carry prior rounds' scalars through (both are 1 row)
            agg = state.crossJoin(agg)
        st = agg.select("*", F.expr(_best_sql(t)).alias(f"best_{t}"), F.expr(_eps_sql(t)).alias(f"eps_{t}"))
        state = st.select("*", F.expr(_factor_sql(t)).alias(f"f_{t}"))
        if t < ROUNDS:
            src = base.crossJoin(F.broadcast(state))
    return base, state


@query("adaboost_stumps_orders", oracle=_TRAIN_ORACLE)
def q_adaboost_stumps_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-round boosting trace: per round the chosen stump, its
    weighted error rate, and its odds factor sqrt((1-e)/e). 3 rows."""
    _, state = _train_df(spark, sf_dir)
    rows = [
        F.struct(
            F.lit(t).alias("round"),
            F.col(f"best_{t}").alias("stump_id"),
            F.expr(_desc_case(t)).alias("stump"),
            F.col(f"eps_{t}").alias("epsilon"),
            F.col(f"f_{t}").alias("odds_factor"),
        )
        for t in range(1, ROUNDS + 1)
    ]
    return (
        state.select(F.explode(F.array(*rows)).alias("e")).select("e.*").orderBy("round")
    )


def _vote_sql() -> tuple[str, str]:
    """(prod_plus, prod_minus): products of the chosen stumps' factors
    split by each stump's per-row vote. wrong_best = 1 means the stump
    voted AGAINST the row's true label y, i.e. its vote was -y."""
    plus, minus = [], []
    for t in range(1, ROUNDS + 1):
        vote = f"(CASE WHEN {_wrong_best_sql(t)} = 1 THEN -y ELSE y END)"
        plus.append(f"(CASE WHEN {vote} = 1 THEN f_{t} ELSE 1.0 END)")
        minus.append(f"(CASE WHEN {vote} = -1 THEN f_{t} ELSE 1.0 END)")
    return " * ".join(plus), " * ".join(minus)


_PP, _PM = _vote_sql()
_PRED_SQL = f"(CASE WHEN ({_PP}) > ({_PM}) THEN 1 ELSE -1 END)"

_EVAL_ORACLE = f"""
WITH {_train_ctes()},
scored AS (SELECT *, {_PRED_SQL} AS pred
           FROM base CROSS JOIN {' CROSS JOIN '.join(f'stf_{i}' for i in range(1, ROUNDS + 1))})
SELECT
  CAST(SUM(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
  CAST(SUM(CASE WHEN pred = 1 AND y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
  CAST(SUM(CASE WHEN pred = -1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
  CAST(SUM(CASE WHEN pred = -1 AND y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
  CAST(SUM(CASE WHEN pred = y THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS accuracy
FROM scored
"""


@query("adaboost_eval_orders", oracle=_EVAL_ORACLE)
def q_adaboost_eval_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set confusion matrix + accuracy of the 3-stump
    ensemble under the log-free product vote. 1 row."""
    base, state = _train_df(spark, sf_dir)
    scored = base.crossJoin(F.broadcast(state)).select(
        "*", F.expr(_PRED_SQL).alias("pred")
    )
    return scored.agg(
        F.expr("CAST(SUM(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)").alias("tp"),
        F.expr("CAST(SUM(CASE WHEN pred = 1 AND y = -1 THEN 1 ELSE 0 END) AS BIGINT)").alias("fp"),
        F.expr("CAST(SUM(CASE WHEN pred = -1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)").alias("fn"),
        F.expr("CAST(SUM(CASE WHEN pred = -1 AND y = -1 THEN 1 ELSE 0 END) AS BIGINT)").alias("tn"),
        F.expr("CAST(SUM(CASE WHEN pred = y THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)").alias("accuracy"),
    )
