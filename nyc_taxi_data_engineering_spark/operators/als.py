"""Alternating Least Squares matrix factorization — the canonical
distributed recommender (Koren/Bell/Volinsky 2009; spark.ml ALS is the
same algorithm), here at rank 2 with CLOSED-FORM per-entity solves so
the whole factorization sits under the exact DuckDB oracle gate.

Each half-iteration fixes one side's factors and solves, per entity of
the other side, the 2x2 regularized normal equations

    (A + lambda*I) w = b,   A = sum_j f_j f_j^T,  b = sum_j r_ij f_j

over that entity's ratings — accumulated as ONE keyed equi-join
(ratings x fixed-side factors on the fixed key) plus ONE hash agg with
map-side combine producing the five sufficient statistics
(a11, a12, a22, b1, b2). Rank 2 means the solve is Cramer's rule in
scalar expressions (det = (a11+L)(a22+L) - a12^2 > 0 whenever L > 0,
so no pivoting, no linalg library): exactly the shape spark.ml lowers
to, minus the blocked d x d case we don't need for a gate-checkable
twin.

Determinism contract (the pagerank/linear-probe playbook): every
accumulated product quantizes to the 12-dp grid via portable_round
(floor(x*1e12 + 0.5)/1e12 — the same IEEE chain in both engines; the
sf1 exact sweep caught native round()'s half-tie divergence here) and
sums as DECIMAL(38,12) — order-independent and engine-exact, with the
terminal decimal->double STRING-hopped on the oracle side so it stays
correctly rounded at any magnitude; Cramer's rule then runs in doubles
on bit-identical inputs with the operation order written identically
in both engines, and each new factor portable_rounds back to the
12-dp grid. Init factors and lambda are exact binary fractions
(k/8, k/16), so round 0 is bit-exact too.

Scale shape per half-iteration: one shuffle of ratings on the fixed
key for the join (at cluster scale pre-partition ratings once per
side and every sweep reuses both layouts), one hash agg keyed on the
solved side. Factor tables are O(entities) rows of 2 doubles — never
collected, never densified. Sweeps run through ``operators.iterate``,
so the lineage stays one sweep deep.

Reference scope note: the reference pipeline has no recommender; this
is a beyond-reference extension following its MDM/scoring idiom
(deterministic, auditable scores) per SURVEY.md §6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.functions import (
    dec_to_double_sql,
    grid_dec_sum,
    portable_round,
    portable_round_sql,
)
from nyc_taxi_data_engineering_spark.operators import iterate, pin

ALS_ITERS = 2  # full alternations (user sweep + item sweep each)
ALS_LAMBDA = 0.125  # exact binary fraction -> bit-identical regularizer
# Item-side broadcast gate (ADVICE r12): the item count scales with the
# data (TPC-H suppliers = 10k x SF), and a broadcast() hint BYPASSES the
# planner's size check — past the 8 GB / 512M-row broadcast cap a forced
# hint fails the job outright. 20M factor rows (~3 narrow columns,
# roughly 1-2 GB as a hash relation) stays comfortably under the cap;
# above the gate the persisted ratings layout's stats + AQE let the
# planner pick the strategy itself. Join strategy only — values are
# bit-identical either way.
ALS_BROADCAST_MAX_ITEMS = 20_000_000
_S = 12


def _init_item_factors(ratings: DataFrame) -> DataFrame:
    """Deterministic rank-2 item seeds from the item id itself, using
    only exact binary fractions (k * 2^-3, k * 2^-4): every engine
    computes the identical doubles, no RNG, no collect."""
    return (
        ratings.select("i")
        .distinct()
        .select(
            "i",
            (F.lit(1.0) + (F.col("i") % 7).cast("double") * F.lit(0.125)).alias("f1"),
            (F.lit(0.25) + (F.col("i") % 11).cast("double") * F.lit(0.0625)).alias("f2"),
        )
    )


def prepare_ratings(ratings: DataFrame) -> DataFrame:
    """Materialized training layout (optimization r12, guide §2.4/§3.1):
    (u, i, r) hash-partitioned by u and persisted. ONE exchange pays for
    every consumer: the u-sweep's broadcast-item join streams it and the
    following ``groupBy("u")`` reuses the layout with zero further
    exchanges; the i-sweep's join ON u reuses it as the streamed side;
    and the serving queries' already-purchased anti-join probes the same
    in-memory table instead of re-running the ratings build.

    A persist rather than ``pin`` on purpose: an
    InMemoryRelation keeps size stats AND outputPartitioning, so the
    planner can broadcast the small side and elide the agg exchange; a
    pinned LogicalRDD has neither (UnknownPartitioning, no stats), which
    forced a SortMergeJoin + a fresh full shuffle of the ratings every
    half-sweep (measured −30% on als_supplier_recommendations at sf0.1,
    values bit-identical — the 12-dp decimal sums are order-independent).
    The lineage is one agg deep, so the cache-manager plan walk the pin
    docstring warns about for per-round state does not apply here."""
    return ratings.select("u", "i", "r").repartition("u").persist()


def _solve_side(
    ratings: DataFrame,
    fixed: DataFrame,
    solve_key: str,
    fixed_key: str,
    broadcast_fixed: bool = False,
) -> DataFrame:
    """One ALS half-iteration: per ``solve_key`` entity, accumulate the
    2x2 normal equations against the ``fixed`` factors (keyed on
    ``fixed_key``) and solve by Cramer's rule. Returns (key, f1, f2)
    named for the SOLVED side. ``broadcast_fixed`` hints the factor
    side into a broadcast join — used for the ITEM side, which is
    bounded by the catalog (suppliers), so the hint holds at any data
    scale; the user side stays planner-chosen."""
    f = fixed.withColumnRenamed("i", fixed_key)
    if broadcast_fixed:
        f = F.broadcast(f)
    stats = (
        ratings.join(f, fixed_key)
        .groupBy(solve_key)
        .agg(
            grid_dec_sum(F.col("f1") * F.col("f1")).alias("a11"),
            grid_dec_sum(F.col("f1") * F.col("f2")).alias("a12"),
            grid_dec_sum(F.col("f2") * F.col("f2")).alias("a22"),
            grid_dec_sum(F.col("r") * F.col("f1")).alias("b1"),
            grid_dec_sum(F.col("r") * F.col("f2")).alias("b2"),
        )
    )
    L = F.lit(ALS_LAMBDA)
    det = (F.col("a11") + L) * (F.col("a22") + L) - F.col("a12") * F.col("a12")
    w1 = ((F.col("a22") + L) * F.col("b1") - F.col("a12") * F.col("b2")) / det
    w2 = ((F.col("a11") + L) * F.col("b2") - F.col("a12") * F.col("b1")) / det
    return stats.select(
        F.col(solve_key).alias("i"),
        portable_round(w1, _S).alias("f1"),
        portable_round(w2, _S).alias("f2"),
    )


def als_factors(ratings: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(user_factors, item_factors) after ``ALS_ITERS`` alternations over
    ``ratings`` (u, i, r) with INTEGER ratings; each factor table is
    (i, f1, f2) keyed by the entity id. Raises on non-integer ratings
    (the 12-dp transport needs exact b-vector terms). ``ratings`` is
    the :func:`prepare_ratings` layout, which the caller also reuses
    for its own consumers (e.g. the serving anti-join)."""
    from pyspark.sql.types import IntegralType

    if not isinstance(ratings.schema["r"].dataType, IntegralType):
        raise TypeError(
            "als_factors needs an integer rating column r (exact normal-"
            f"equation sums); got {ratings.schema['r'].dataType.simpleString()}"
        )
    item_f = pin(_init_item_factors(ratings))
    # One cheap count over the pinned init factors gates the broadcast
    # hint (every sweep's item side has the same cardinality — one row
    # per distinct item in ratings). See ALS_BROADCAST_MAX_ITEMS.
    broadcast_items = item_f.count() <= ALS_BROADCAST_MAX_ITEMS
    user_f = None

    def sweep(item_f: DataFrame, i: int) -> DataFrame:
        # item side broadcast (when it fits): streaming the
        # u-partitioned ratings through a broadcast join leaves
        # groupBy("u") exchange-free (see prepare_ratings). Only the
        # last sweep's user side is pinned: the item solve and then the
        # caller both read it. Before that the item solve is its only
        # reader, and the next sweep's pin of the item side cuts it.
        nonlocal user_f
        user_f = _solve_side(
            ratings.withColumnRenamed("i", "fk"), item_f, "u", "fk",
            broadcast_fixed=broadcast_items,
        )
        if i == ALS_ITERS - 1:
            user_f = pin(user_f)
        return _solve_side(ratings.withColumnRenamed("u", "fk"), user_f, "i", "fk")

    item_f = iterate(item_f, sweep, ALS_ITERS)
    return user_f, item_f


def als_sql(ratings_cte: str) -> tuple[str, str]:
    """DuckDB twin: returns (with_clauses, final_names) where
    ``with_clauses`` is a CTE chain defining ``uf{ALS_ITERS}`` (user
    factors, columns i/f1/f2 keyed by user) and ``if{ALS_ITERS}`` (item
    factors) from a CTE named ``ratings`` with (u, i, r) that
    ``ratings_cte`` must define. Every sweep is written term-for-term
    against the Spark side."""
    L = repr(ALS_LAMBDA)
    parts = [
        ratings_cte,
        "if0 AS (SELECT i, 1.0 + (i % 7) * 0.125 AS f1, "
        "0.25 + (i % 11) * 0.0625 AS f2 FROM (SELECT DISTINCT i FROM ratings))",
    ]

    def _stat(term: str) -> str:
        # Twin of the Spark grid_dec_sum: portable_round the term onto
        # the 12-dp grid, exact decimal sum, STRING-hopped terminal
        # decimal->double (correctly rounded at any magnitude).
        return dec_to_double_sql(
            f"SUM(CAST({portable_round_sql(term, _S)} AS DECIMAL(38,{_S})))"
        )

    def solve(src: str, key: str, out: str) -> str:
        f1 = portable_round_sql(
            f"((a22 + {L}) * b1 - a12 * b2)"
            f" / ((a11 + {L}) * (a22 + {L}) - a12 * a12)",
            _S,
        )
        f2 = portable_round_sql(
            f"((a11 + {L}) * b2 - a12 * b1)"
            f" / ((a11 + {L}) * (a22 + {L}) - a12 * a12)",
            _S,
        )
        return f"""{out} AS (
  SELECT i,
         {f1} AS f1,
         {f2} AS f2
  FROM (
    SELECT r.{key} AS i,
           {_stat('f.f1 * f.f1')} AS a11,
           {_stat('f.f1 * f.f2')} AS a12,
           {_stat('f.f2 * f.f2')} AS a22,
           {_stat('r.r * f.f1')} AS b1,
           {_stat('r.r * f.f2')} AS b2
    FROM ratings r JOIN {src} f ON f.i = r.{'i' if key == 'u' else 'u'}
    GROUP BY r.{key}
  )
)"""

    prev_items = "if0"
    uf = ""
    for t in range(1, ALS_ITERS + 1):
        uf = f"uf{t}"
        parts.append(solve(prev_items, "u", uf))
        prev_items = f"if{t}"
        parts.append(solve(uf, "i", prev_items))
    return ",\n".join(parts), (uf, prev_items)
