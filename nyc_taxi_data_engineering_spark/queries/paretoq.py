"""Pareto-frontier (skyline) query: the parts no other part beats on
BOTH price (lower-is-better) and size (higher-is-better).

Reference parity: the reference's analytics layer answers "best
trade-off" questions with full self-join scans; the skyline operator
is the general form (multi-objective dominance) expressed Spark-first.

100 TB design — the naive skyline is a quadratic self-join
(NOT EXISTS over the full table: that IS the DuckDB oracle below, fine
at sf0.01, fatal at 100 TB). The distributed shape used here relies on
the skyline identity skyline(A ∪ B) = skyline(skyline(A) ∪ skyline(B)):

1. hash-bucket the table into B shards (embarrassingly parallel);
2. per-bucket EXACT skyline with zero joins: group to one row per
   (bucket, price) keeping the max size, then one bounded window
   (partitionBy bucket, orderBy price, rowsBetween unbounded→-1) gives
   the best size among STRICTLY lower prices — a row survives iff it
   matches its price-group max and strictly beats every cheaper row's
   best size. Ties on (price, size) both survive (neither dominates).
3. the union of bucket skylines is tiny (≤ distinct sizes per bucket),
   so the identical two-step pass with a single bucket finishes the
   exact global frontier on a few hundred rows.

No self-join ever touches the full table; the only full-table ops are
one hash-partitioned groupBy and one per-bucket window. At 1000
executors each bucket's window runs locally; the final pass is a
driver-sized reduction expressed as the same declarative plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table
from nyc_taxi_data_engineering_spark.queries.registry import query

_SKYLINE_BUCKETS = 32


def _skyline_pass(df: DataFrame, bucket_col) -> DataFrame:
    """One exact skyline pass within each value of ``bucket_col``.

    Returns the rows of ``df`` not dominated by any row in the same
    bucket (dominance: other.price <= price AND other.size >= size with
    at least one strict). Plan shape: ZERO joins — prices quantize to
    integer cents (2-dp data), so one sorted window stage answers both
    dominance tests: ``_prev_best`` = best size among STRICTLY cheaper
    rows (RANGE … -1 on the cent key) and ``_best_eq`` = best size at
    this exact price. A row survives iff it matches its price-peers'
    max and strictly beats every cheaper row's best; (price, size) ties
    all survive (neither dominates). Both specs share one partitioning
    and sort, so the whole pass is a single window exec over a single
    scan of ``df``.
    """
    tagged = df.withColumn("_b", bucket_col).withColumn(
        "_pc", F.round(F.col("p_retailprice") * 100).cast("long")
    )
    w_strict = (
        Window.partitionBy("_b").orderBy("_pc").rangeBetween(Window.unboundedPreceding, -1)
    )
    w_eq = Window.partitionBy("_b", "_pc")
    return (
        tagged.withColumn("_prev_best", F.max("p_size").over(w_strict))
        .withColumn("_best_eq", F.max("p_size").over(w_eq))
        .filter(
            (F.col("p_size") == F.col("_best_eq"))
            & (F.col("_prev_best").isNull() | (F.col("_prev_best") < F.col("p_size")))
        )
        .drop("_b", "_pc", "_prev_best", "_best_eq")
    )


@query(
    "pareto_skyline_parts",
    oracle="""
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p
WHERE NOT EXISTS (
    SELECT 1 FROM part q
    WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
      AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
ORDER BY p.p_retailprice, p.p_partkey
""",
)
def q_pareto_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/size Pareto frontier of the part table via the two-level
    distributed skyline (see module docstring). The oracle is the
    textbook quadratic NOT EXISTS — same answer, opposite scaling."""
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    local = _skyline_pass(part, F.pmod(F.xxhash64("p_partkey"), F.lit(_SKYLINE_BUCKETS)))
    global_sky = _skyline_pass(local, F.lit(0))
    return global_sky.orderBy("p_retailprice", "p_partkey")
