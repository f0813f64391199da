"""Deterministic Lloyd k-means over an embedding column — the
coarse-quantizer / clustering trainer behind IVF lists, SemDeDup
codebooks, and domain discovery, kept fully inside the DataFrame
engine (no driver-side centroid collect: even Spark MLlib's KMeans
rounds through the driver each iteration; here the new centroids stay
a k-row DataFrame that broadcasts into the next assignment).

Determinism contract (what makes an exact DuckDB oracle possible):

- **Seeding**: centroids start as the k corpus vectors with the
  smallest ids — no RNG (k-means++ would need one; at 100 TB the
  standard practice is seeding from a fixed sample anyway).
- **Assignment**: squared-L2 folded left-to-right (same accumulation
  order as the oracle's ``list_sum``), rounded to 6 dp, argmin via
  ``min(struct(dist, c_id))`` — a HASH AGGREGATE with map-side
  partial combine, not a window: n rows shuffle per iteration, never
  n·k, and ties break to the lowest centroid id in both engines.
- **Update**: per-dimension means accumulate in DECIMAL(18,9) (exact,
  order-independent) and divide as double — bit-identical across
  engines.

Scale shape per iteration: one broadcast crossJoin (k rows) + one
hash agg (assignment) + one posexplode hash agg (update). Rounds run
through ``operators.iterate``; ``KMEANS_ITERS`` is small and fixed, the Lloyd
norm for production quantizer training. An empty cluster simply drops
out of the next round's codebook (documented Lloyd behavior, identical
in the oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.functions import portable_round

KMEANS_K = 8
KMEANS_ITERS = 2


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2, folded left-to-right like similarity.dot()."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x
    )


def seed_centroids(corpus: DataFrame) -> DataFrame:
    """The ``KMEANS_K`` smallest-id vectors as (c_id, cv) — c_id re-numbered
    0..k-1 by id order so cluster ids are dense and stable.

    The id→c_id map is a control-plane collect of the k seed ids
    (k-bounded, not data-bounded) baked in as a broadcast map literal:
    no window, and — since the old k-row ``row_number`` window lineage
    was re-evaluated on every kmeans iteration — no repeated
    recompute either. Values identical to the windowed form (dense
    rank by vec_id order)."""
    ids = [r[0] for r in corpus.select("vec_id").orderBy("vec_id").limit(KMEANS_K).collect()]
    if not ids:
        return corpus.select(
            F.lit(0).cast("int").alias("c_id"), F.col("v").alias("cv")
        ).limit(0)
    mapping = F.create_map(
        *[x for i, vid in enumerate(ids) for x in (F.lit(vid), F.lit(i))]
    )
    return corpus.filter(F.col("vec_id").isin(ids)).select(
        mapping[F.col("vec_id")].cast("int").alias("c_id"),
        F.col("v").alias("cv"),
    )


def assign_clusters(corpus: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, c_id): nearest centroid by 6-dp-rounded squared L2,
    ties to the lowest c_id — one broadcast crossJoin + one hash agg
    (map-side combine collapses each vector's k scored rows before the
    exchange; nothing sorts)."""
    d = F.round(_l2sq(F.col("v"), F.col("cv")), 6)
    return (
        corpus.crossJoin(F.broadcast(cent))
        .select("vec_id", F.col("c_id"), d.alias("d"))
        .groupBy("vec_id")
        .agg(F.min(F.struct(F.col("d"), F.col("c_id"))).alias("best"))
        .select("vec_id", F.col("best.c_id").alias("c_id"))
    )


def update_centroids(corpus: DataFrame, assign: DataFrame) -> DataFrame:
    """(c_id, cv): per-dimension DECIMAL-exact means of each cluster's
    members, rebuilt into arrays with array_sort(collect_list(struct))
    — k·dim grouped rows, never a driver collect."""
    memb = corpus.join(assign, "vec_id")
    expl = memb.select("c_id", F.posexplode("v").alias("pos", "x"))
    # portable_round BEFORE the decimal cast (r10): x is an arbitrary
    # double, and the two engines round a double onto a decimal grid
    # differently near grid halves (Spark exact-binary HALF_UP, DuckDB
    # scale-and-llround) — one element flipping 1e-9 moved a centroid
    # 4e-12 at sf0.1. Pre-quantizing puts x on the grid with an IEEE op
    # chain both engines share; the decimal cast of an on-grid double
    # is then deterministic.
    means = expl.groupBy("c_id", "pos").agg(
        (
            F.sum(portable_round(F.col("x"), 9).cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("val")
    )
    return (
        means.groupBy("c_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "val"))).alias("sv"))
        .select("c_id", F.transform("sv", lambda s: s.val).alias("cv"))
    )


def lloyd_kmeans(corpus: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``KMEANS_ITERS`` Lloyd rounds from the deterministic seeds; returns
    (assignments, centroids-long) where assignments is (vec_id, c_id)
    under the FINAL centroids and centroids-long is (c_id, pos, val).
    ``corpus`` must be (vec_id, v: array<double>); caching it is the
    caller's choice (it feeds 2·KMEANS_ITERS consumers)."""
    from nyc_taxi_data_engineering_spark.operators import iterate, pin

    cent = iterate(
        seed_centroids(corpus),
        lambda cent, _: update_centroids(corpus, assign_clusters(corpus, cent)),
        KMEANS_ITERS,
    )
    # One closing assignment so the returned labels really are under the
    # FINAL centroids; it and the long form both read cent, so pin it once.
    cent = pin(cent)
    assign = assign_clusters(corpus, cent)
    long = cent.select("c_id", F.posexplode("cv").alias("pos", "val"))
    return assign, long
