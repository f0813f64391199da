"""Dominant principal components by power iteration — the embedding
whitening / decorrelation primitive a SemDeDup-style curation pipeline
runs before clustering (remove the dominant direction, cosine geometry
sharpens), and the minimal PCA any feature-drift monitor needs.

Formulated without ever materializing the covariance matrix: each
round multiplies X^T (X v) in two keyed aggregations over the
LONG-FORM corpus (vec_id, pos, val) —

    w(vec_id) = sum_pos   c(vec_id, pos) * v(pos)      -- join on pos
    u(pos)    = sum_vecid c(vec_id, pos) * w(vec_id)   -- join on vec_id
    v'(pos)   = u(pos) / ||u||

so the work per round is two hash aggs with map-side combine plus one
64-row broadcast join — never an n×n or d×d intermediate, and nothing
per-vector crosses the driver (the running vector v stays a 64-row
DataFrame, chained lazily like pagerank's ranks). The SECOND component
comes by deflation: project the centered corpus onto the orthogonal
complement of pc1 (one keyed agg for the per-vector dot, one broadcast
subtract) and iterate again — the textbook Hotelling deflation, still
covariance-free.

Determinism contract (same playbook as operators/graph.pagerank): the
only order-sensitive ops are the sums, and every summed term is
quantized to the 12-dp grid by ``portable_round`` (r10 — native
round(double, 12) is NOT cross-engine-deterministic: Spark rounds the
exact binary value HALF_UP while DuckDB double-rounds through x*1e12,
and a grid value divided by 8 lands exactly on grid halves where they
disagree; floor(x*1e12+0.5)/1e12 is a fixed IEEE chain both engines
evaluate identically) then accumulated as DECIMAL(38,12) — exact and
order-independent — before one double divide/sqrt (IEEE sqrt is
correctly rounded, so engine-identical). Each new v quantizes to the
grid, and the deflated corpus values quantize back too. Components'
signs are normalized so dim 1 is >= 0 (power iteration converges up to
sign; both engines see bit-identical values and take the same branch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.functions import (
    grid_dec_sum,
    portable_round,
    portable_round_sql,
)
from nyc_taxi_data_engineering_spark.operators import iterate, pin

PCA_ITERS = 3
_S = 12  # dp per summed term / per component


def _centered(x: DataFrame) -> tuple[DataFrame, DataFrame]:
    """((vec_id, pos, cv) mean-centered long-form corpus, pinned
    (pos, mu) mean). The d-row mean is pinned (optimization r13): it is
    bounded by the dimension, and lazily every re-derivation of the
    centered corpus re-ran the full mean aggregate — a corpus pass —
    where the broadcast join it feeds is otherwise scan-bound. The mean
    doubles as the dims table for :func:`_power_rounds` (its groupBy
    keys ARE the distinct positions), saving the separate
    distinct-over-corpus pass."""
    mean = pin(
        x.groupBy("pos").agg(
            portable_round(
                F.sum(portable_round(F.col("val"), 9).cast("decimal(18,9)")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                _S,
            ).alias("mu")
        )
    )
    cent = x.join(F.broadcast(mean), "pos").select(
        "vec_id", "pos", (F.col("val") - F.col("mu")).alias("cv")
    )
    return cent, mean


def _power_rounds(cent: DataFrame, dims: DataFrame) -> DataFrame:
    """(pos, vv) after ``PCA_ITERS`` rounds from the uniform unit start
    over a centered corpus (vec_id, pos, cv). ``dims`` is the d-row
    (pos) table (the pinned mean's keys — same set as
    ``cent.select("pos").distinct()``). The start 1/sqrt(d) must
    be exact in doubles — d a power of 4 (64-dim gives 1/8)."""
    d_row = dims.agg(F.count(F.lit(1)).cast("double").alias("d"))
    v = dims.crossJoin(F.broadcast(d_row)).select(
        "pos", (F.lit(1.0) / F.sqrt(F.col("d"))).alias("vv")
    )

    def power_round(u: DataFrame, i: int) -> DataFrame:
        # the carried state is the previous round's unnormalized u, read
        # twice by _unit (round 0 starts from v itself)
        v = _unit(u) if i else u
        w = (
            cent.join(F.broadcast(v), "pos")
            .groupBy("vec_id")
            .agg(grid_dec_sum(F.col("cv") * F.col("vv")).alias("w"))
        )
        return (
            cent.join(w, "vec_id")
            .groupBy("pos")
            .agg(grid_dec_sum(F.col("cv") * F.col("w")).alias("u"))
        )

    return _unit(iterate(v, power_round, PCA_ITERS))


def _unit(u: DataFrame) -> DataFrame:
    """(pos, vv): ``u`` (pos, u) divided by its L2 norm, on the grid."""
    n_row = u.agg(F.sqrt(grid_dec_sum(F.col("u") * F.col("u"))).alias("nrm"))
    # Zero norm (constant corpus) → NULL components, not a crash
    # (ANSI divide-by-zero) and not a wrong vector; same CASE guard
    # in the SQL twin.
    return u.crossJoin(F.broadcast(n_row)).select(
        "pos",
        portable_round(
            F.when(F.col("nrm") != 0, F.col("u") / F.col("nrm")), _S
        ).alias("vv"),
    )


def _signed(v: DataFrame) -> DataFrame:
    """(dim, component) with the dim-1 >= 0 sign convention applied."""
    sign_row = v.filter(F.col("pos") == 0).select(
        F.when(F.col("vv") < 0, F.lit(-1.0)).otherwise(F.lit(1.0)).alias("sgn")
    )
    return v.crossJoin(F.broadcast(sign_row)).select(
        (F.col("pos") + 1).cast("int").alias("dim"),
        portable_round(F.col("vv") * F.col("sgn"), _S).alias("component"),
    )


def _deflated(cent: DataFrame, v: DataFrame) -> DataFrame:
    """Hotelling deflation: remove the ``v`` direction from every
    vector — c' = c - (c·v) v, one keyed agg + one broadcast join,
    values rounded back to the grid."""
    proj = (
        cent.join(F.broadcast(v), "pos")
        .groupBy("vec_id")
        .agg(grid_dec_sum(F.col("cv") * F.col("vv")).alias("dv"))
    )
    return (
        cent.join(proj, "vec_id")
        .join(F.broadcast(v), "pos")
        .select(
            "vec_id",
            "pos",
            portable_round(F.col("cv") - F.col("dv") * F.col("vv"), _S).alias("cv"),
        )
    )


def power_iteration_component(x: DataFrame) -> DataFrame:
    """(dim, component) — the dominant eigenvector of the mean-centered
    covariance of a long-form corpus ``x`` (vec_id, pos, val: double),
    after ``PCA_ITERS`` power-iteration rounds. ``dim`` is 1-based.

    The centered corpus is deliberately NOT materialized (recompute-
    over-cache, same call as prepare_probe_corpus): each of the two
    passes per round re-derives it as scan + d-row broadcast join —
    scan-bound, no shuffle — while the per-round d-row pins
    (operators.iterate) keep every pass executed exactly once."""
    cent, mean = _centered(x)
    return _signed(_power_rounds(cent, mean.select("pos")))


def top2_components(x: DataFrame) -> DataFrame:
    """(dim, pc1, pc2) — the two dominant principal directions: pc1 by
    power iteration, pc2 by re-iterating on the deflated corpus. The
    deflated corpus is exactly orthogonal to pc1 up to the 12-dp grid,
    so pc1·pc2 ≈ 0 (asserted in tests)."""
    # pin(): cent feeds every round of both chains, v1
    # feeds the deflation AND the output, cent2 feeds every round of
    # chain 2. Caching alone is not enough — the LOGICAL plan still
    # embeds the full upstream tree once per reference, and the
    # doubled chain turns Catalyst analysis exponential (measured:
    # >500 s at sf0.01 vs 1 s for the DuckDB twin). Checkpointing
    # truncates the lineage so the composed plan stays linear in the
    # round count; nothing crosses the driver (the data stays in
    # executor storage).
    cent, mean = _centered(x)
    dims = mean.select("pos")
    cent = pin(cent)
    v1 = pin(_power_rounds(cent, dims))
    cent2 = pin(_deflated(cent, v1))
    v2 = _power_rounds(cent2, dims)
    p1 = _signed(v1).withColumnRenamed("component", "pc1")
    p2 = _signed(v2).withColumnRenamed("component", "pc2")
    return p1.join(p2, "dim")


# ---------------------------------------------------------------------------
# DuckDB twins
# ---------------------------------------------------------------------------

def _sql_centered(parts: list[str], corpus_cte: str) -> None:
    parts.append(corpus_cte)
    parts.append(
        f"""mean AS (
    SELECT pos,
           {portable_round_sql("CAST(CAST(SUM(CAST(" + portable_round_sql('val', 9) + " AS DECIMAL(18,9))) AS STRING) AS DOUBLE) / COUNT(*)", _S)} AS mu
    FROM x GROUP BY pos
)"""
    )
    # MATERIALIZED: cent is referenced by every round of every chain —
    # inlining would re-run the centering once per reference.
    parts.append(
        "cent AS MATERIALIZED (SELECT vec_id, x.pos, (val - mu) AS cv "
        "FROM x JOIN mean ON mean.pos = x.pos)"
    )


def _sql_rounds(parts: list[str], cent: str, p: str) -> str:
    """Append ``PCA_ITERS`` power rounds over centered table ``cent``,
    CTE names prefixed ``p``; returns the final vector CTE name."""
    dec = f"DECIMAL(38,{_S})"
    parts.append(f"{p}dd AS (SELECT CAST(COUNT(DISTINCT pos) AS DOUBLE) AS d FROM {cent})")
    parts.append(
        f"{p}v0 AS (SELECT DISTINCT pos, 1.0 / sqrt((SELECT d FROM {p}dd)) AS vv FROM {cent})"
    )
    for i in range(1, PCA_ITERS + 1):
        parts.append(
            f"""{p}w{i} AS MATERIALIZED (
    SELECT vec_id,
           CAST(SUM(CAST({portable_round_sql('c.cv * v.vv', _S)} AS {dec})) AS DOUBLE) AS w
    FROM {cent} c JOIN {p}v{i - 1} v ON v.pos = c.pos GROUP BY vec_id
)"""
        )
        parts.append(
            f"""{p}u{i} AS MATERIALIZED (
    SELECT pos,
           CAST(SUM(CAST({portable_round_sql('c.cv * w.w', _S)} AS {dec})) AS DOUBLE) AS u
    FROM {cent} c JOIN {p}w{i} w ON w.vec_id = c.vec_id GROUP BY pos
)"""
        )
        parts.append(
            f"""{p}n{i} AS (
    SELECT sqrt(CAST(SUM(CAST({portable_round_sql('u * u', _S)} AS {dec})) AS DOUBLE)) AS nrm
    FROM {p}u{i}
)"""
        )
        parts.append(
            f"{p}v{i} AS (SELECT pos, "
            + portable_round_sql(
                f"CASE WHEN (SELECT nrm FROM {p}n{i}) <> 0 "
                f"THEN u / (SELECT nrm FROM {p}n{i}) END",
                _S,
            )
            + f" AS vv FROM {p}u{i})"
        )
    return f"{p}v{PCA_ITERS}"


def _sql_signed(parts: list[str], vname: str, p: str) -> str:
    parts.append(
        f"{p}sgn AS (SELECT CASE WHEN (SELECT vv FROM {vname} WHERE pos = 0) < 0 "
        "THEN -1.0 ELSE 1.0 END AS s)"
    )
    parts.append(
        f"{p}out AS (SELECT CAST(pos + 1 AS INT) AS dim, "
        + portable_round_sql(f"vv * (SELECT s FROM {p}sgn)", _S)
        + f" AS component FROM {vname})"
    )
    return f"{p}out"


def power_iteration_sql(corpus_cte: str) -> str:
    """DuckDB twin of :func:`power_iteration_component`. ``corpus_cte``
    must define a CTE named ``x`` with (vec_id, pos, val) — pos
    0-based, val DOUBLE widened from the stored FLOAT."""
    parts: list[str] = []
    _sql_centered(parts, corpus_cte)
    v = _sql_rounds(parts, "cent", "a")
    out = _sql_signed(parts, v, "a")
    return "WITH " + ",\n".join(parts) + f"\nSELECT dim, component FROM {out}"


def top2_components_sql(corpus_cte: str) -> str:
    """DuckDB twin of :func:`top2_components`."""
    dec = f"DECIMAL(38,{_S})"
    parts: list[str] = []
    _sql_centered(parts, corpus_cte)
    v1 = _sql_rounds(parts, "cent", "a")
    parts.append(
        f"""proj AS MATERIALIZED (
    SELECT vec_id,
           CAST(SUM(CAST({portable_round_sql('c.cv * v.vv', _S)} AS {dec})) AS DOUBLE) AS dv
    FROM cent c JOIN {v1} v ON v.pos = c.pos GROUP BY vec_id
)"""
    )
    parts.append(
        f"""cent2 AS MATERIALIZED (
    SELECT c.vec_id, c.pos, {portable_round_sql('c.cv - p.dv * v.vv', _S)} AS cv
    FROM cent c JOIN proj p ON p.vec_id = c.vec_id
    JOIN {v1} v ON v.pos = c.pos
)"""
    )
    v2 = _sql_rounds(parts, "cent2", "b")
    o1 = _sql_signed(parts, v1, "a")
    o2 = _sql_signed(parts, v2, "b")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT p1.dim, p1.component AS pc1, p2.component AS pc2
FROM {o1} p1 JOIN {o2} p2 ON p2.dim = p1.dim"""
    )
