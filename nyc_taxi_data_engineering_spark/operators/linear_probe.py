"""Distributed linear-probe training — full-batch gradient descent on
a least-squares objective over the long-form embedding corpus. This is
the quality-classifier primitive of modern data-curation pipelines
(DataComp/DCLM-style: train a cheap linear head on embeddings, score
the corpus, keep the top fraction); squared loss instead of logistic
keeps the whole computation algebraic — no exp/log, so nothing
depends on cross-engine libm behavior.

Each round is the normal-equation-free gradient step

    pred(i) = sum_pos x(i,pos) * w(pos) + b        -- join on pos
    r(i)    = pred(i) - y(i)                        -- join on vec_id
    g(pos)  = sum_i x(i,pos) * r(i) / n             -- join on vec_id
    w'      = w - lr * g,   b' = b - lr * mean(r)

i.e. the same two keyed hash-agg multiplications as power iteration
(operators/pca.py), with the model (64 weights + bias) flowing between
rounds as a broadcast DataFrame — never a collect, never a d x d or
n x n intermediate. At 100 TB the corpus term is two shuffles per
round on (vec_id) / (pos) keys with map-side combine; the model side
is O(d) rows.

Determinism contract (the pagerank/pca playbook): every sum
accumulates portable_round(term, 12) as DECIMAL(38,12) —
order-independent and engine-exact; native round() is banned here
because Spark and DuckDB disagree on grid-half ties (r10: a tiny-tier
weight flipped 1e-12 through exactly that) — divides happen in doubles
on bit-identical inputs, and each new weight/bias/residual quantizes
back to the 12-dp grid with the same portable chain, so the DuckDB
twin replays training bit-for-bit.
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

PROBE_ITERS = 3
PROBE_LR = 0.1
_S = 12


def prepare_probe_corpus(x: DataFrame) -> DataFrame:
    """Canonical training projection of the long-form corpus
    (vec_id, pos, val) — what every GD pass and every scoring consumer
    should read, projected BEFORE any join (guide §2.3).

    Deliberately recompute-over-cache (optimization r13, measured):
    three persist variants of this corpus were A/B'd at sf0.1 —
    ``corpus.repartition("vec_id").persist()`` (the r12
    ALS-ratings lever), a plain ``persist()``, and per-round lazy
    residual caches — and every
    one measured 1.1-1.4x SLOWER than re-deriving the projection from
    the columnar scan, because the exploded corpus is a cheap
    scan+posexplode while a cached copy pays materialization plus
    32-fixed-partition task overhead on every one of ~8 consumers. At
    100 TB the trade shifts only if corpus re-derivation stops being
    scan-bound: the exploded corpus is O(n·d) rows — the one thing a
    curation pipeline should NOT hold in executor storage (the same
    recompute-over-cache call as crossdoc's gram table). The layout
    lever that DID land instead: the per-round model pins of
    train_linear_probe (operators.iterate) keep every corpus pass
    executed exactly once."""
    return x.select("vec_id", "pos", "val")


def train_linear_probe(x: DataFrame, y: DataFrame) -> DataFrame:
    """(dim, weight) after ``PROBE_ITERS`` full-batch GD rounds at rate
    ``PROBE_LR`` from the all-zero start: dim 0 is the bias, dim k
    (1-based) the weight of feature pos k-1. ``x`` is the long-form
    corpus (vec_id, pos, val: double) as :func:`prepare_probe_corpus`
    projects it (scoring consumers pass the SAME frame so they reuse the
    layout); ``y`` is (vec_id, y: double) targets."""
    lr = PROBE_LR
    # |targets| is a loop-invariant bounded scalar: count it once and
    # fold the literal into every iteration's gradient/bias expressions
    # instead of crossJoin-broadcasting a 1-row aggregate twice per
    # iteration — optimization r12, guide §2.4. Same double, identical
    # weights.
    n = float(y.count())
    w = (
        x.select("pos").distinct().select("pos", F.lit(0.0).alias("w"))
    )
    b = y.sparkSession.range(1).select(F.lit(0.0).alias("b"))

    def gd_round(model: tuple[DataFrame, DataFrame], _: int):
        w, b = model
        pred = (
            x.join(F.broadcast(w), "pos")
            .groupBy("vec_id")
            .agg(grid_dec_sum(F.col("val") * F.col("w")).alias("xw"))
            .crossJoin(F.broadcast(b))
            .select("vec_id", (F.col("xw") + F.col("b")).alias("pred"))
        )
        # residuals feed BOTH the gradient join and the bias sum; pin
        # so the second consumer is a flat scan instead of a second
        # full x-pass. (r13 measured the lazy persist alternative:
        # without the eager truncation the composed calibration plans
        # re-inline the round tree per consumer — probe_calibration_ece
        # ballooned to 2.9k broadcast-exchange nodes and 2x the wall —
        # so the pin stays.)
        r = pin(
            pred.join(y, "vec_id").select(
                "vec_id", portable_round(F.col("pred") - F.col("y"), _S).alias("r")
            )
        )
        g = (
            x.join(r, "vec_id")
            .groupBy("pos")
            .agg(grid_dec_sum(F.col("val") * F.col("r")).alias("gs"))
            .select("pos", portable_round(F.col("gs") / F.lit(n), _S).alias("g"))
        )
        w = w.join(g, "pos").select(
            "pos", portable_round(F.col("w") - F.lit(lr) * F.col("g"), _S).alias("w")
        )
        b = (
            r.agg(grid_dec_sum(F.col("r")).alias("rs"))
            .crossJoin(F.broadcast(b))
            .select(
                portable_round(
                    F.col("b")
                    - F.lit(lr) * portable_round(F.col("rs") / F.lit(n), _S),
                    _S,
                ).alias("b")
            )
        )
        return w, b

    w, b = iterate((w, b), gd_round, PROBE_ITERS)
    bias_row = b.select(F.lit(0).cast("int").alias("dim"), F.col("b").alias("weight"))
    return bias_row.unionByName(
        w.select((F.col("pos") + 1).cast("int").alias("dim"), F.col("w").alias("weight"))
    )


def train_linear_probe_sql(corpus_cte: str, target_cte: str) -> str:
    """DuckDB twin: the same GD rounds as nested CTEs. ``corpus_cte``
    must define ``x`` (vec_id, pos, val), ``target_cte`` must define
    ``y`` (vec_id, y)."""
    iters, lr = PROBE_ITERS, PROBE_LR
    dec = f"DECIMAL(38,{_S})"
    parts = [
        corpus_cte,
        target_cte,
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM y)",
        "w0 AS (SELECT DISTINCT pos, 0.0 AS w FROM x)",
        "b0 AS (SELECT 0.0 AS b)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""p{i} AS (
    SELECT x.vec_id,
           CAST(SUM(CAST({portable_round_sql('x.val * w.w', _S)} AS {dec})) AS DOUBLE)
             + (SELECT b FROM b{i - 1}) AS pred
    FROM x JOIN w{i - 1} w ON w.pos = x.pos GROUP BY x.vec_id
)"""
        )
        parts.append(
            f"""r{i} AS (
    SELECT p.vec_id, {portable_round_sql('p.pred - y.y', _S)} AS r
    FROM p{i} p JOIN y ON y.vec_id = p.vec_id
)"""
        )
        parts.append(
            f"""g{i} AS (
    SELECT x.pos,
           {portable_round_sql(
               "CAST(SUM(CAST(" + portable_round_sql('x.val * r.r', _S)
               + " AS " + dec + ")) AS DOUBLE) / (SELECT n FROM nn)", _S)} AS g
    FROM x JOIN r{i} r ON r.vec_id = x.vec_id GROUP BY x.pos
)"""
        )
        parts.append(
            f"w{i} AS (SELECT w.pos, "
            + portable_round_sql(f"w.w - {lr} * g.g", _S)
            + f" AS w FROM w{i - 1} w JOIN g{i} g ON g.pos = w.pos)"
        )
        parts.append(
            f"""b{i} AS (
    SELECT {portable_round_sql(
        f"(SELECT b FROM b{i - 1}) - {lr} * "
        + portable_round_sql(
            "CAST(SUM(CAST(" + portable_round_sql('r', _S)
            + " AS " + dec + ")) AS DOUBLE) / (SELECT n FROM nn)", _S),
        _S)} AS b
    FROM r{i}
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(0 AS INT) AS dim, b AS weight FROM b{iters}
UNION ALL
SELECT CAST(pos + 1 AS INT) AS dim, w AS weight FROM w{iters}"""
    )
