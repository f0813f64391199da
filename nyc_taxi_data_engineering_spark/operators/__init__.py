"""Dataflow operators — pure DataFrame -> DataFrame functions.

Each module hosts one operator family from SURVEY.md §2; composition
happens in plans/ (pipelines) and queries/ (the correctness surface).
"""

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def pin(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and TRUNCATE its lineage
    (``localCheckpoint(eager=True)``) — the engine's one eager lineage
    cut. A frame read several times re-executes its whole lineage once
    per read; pinned, it is computed once and every reader gets a flat
    scan. Used on inputs that an operator reads repeatedly and, through
    :func:`iterate`, on the state a fixed-point loop carries.

    Cluster note: ``localCheckpoint`` stores partitions on executors —
    the right single-job trade. On a long-lived 1000-executor pipeline
    where executor loss mid-query must be survivable, swap for
    ``sparkContext.setCheckpointDir(...)`` + ``df.checkpoint()`` (same
    semantics, HDFS-backed). Values are unchanged either way, so the
    decimal-grid determinism contracts are untouched."""
    return df.localCheckpoint(eager=True)


def iterate(state, step, rounds: int, *, until: Column | None = None):
    """Run ``state = step(state, i)`` for ``i`` in ``0..rounds-1``: the
    engine's one fixed-point driver and the one place that decides which
    rounds are pinned. ``state`` is a DataFrame or a tuple of
    DataFrames; ``step`` may itself pin an intermediate it reads twice.

    Why pin: a round reads the previous state 2-3 times, so lazily the
    plan grows by a round per iteration and round r re-executes the
    chain back to round 0 once per consumer. Per-round ``.cache()`` does
    not stop it: the cache manager's plan matching walks the growing
    tree. Measured at sf0.1 on the co-purchase graph: an unpinned k-core
    peel took 207 s (its kNN edge build re-derived 3^rounds times)
    against ~8 s pinned, and HITS 43 s against ~9 s.

    Fixed rounds (``until`` None): rounds 1..n-1 are pinned and round n
    comes back lazy, so the result keeps one round's plan shape visible
    to ``.explain`` and the plan-property tests. A caller that reads the
    result twice pins it once.

    Convergence (``until`` a boolean Column, true on a row this round
    changed; ``state`` one DataFrame): every round is pinned, the
    changed-row count is read from an ``Observation`` on that pin (no
    probe job), and the first round that changes nothing is returned.
    Raises if ``rounds`` pass without one."""
    for i in range(rounds):
        state = step(state, i)
        if until is not None:
            changed = Observation()
            state = pin(state.observe(changed, F.count(F.when(until, 1)).alias("n")))
            if changed.get["n"] == 0:
                return state
        elif i < rounds - 1:
            state = tuple(map(pin, state)) if isinstance(state, tuple) else pin(state)
    if until is not None:
        raise RuntimeError(f"fixed point did not converge in {rounds} rounds")
    return state


# ---------------------------------------------------------------------------
# Persist lifecycle. An operator or query that reads an intermediate
# several times (shingle sets, edge lists, ALS ratings, contingency
# tables, the kNN co-purchase graph, ...) calls ``.persist()`` on it (an
# InMemoryRelation keeps the size statistics and output partitioning the
# planner uses; a pin keeps neither); :func:`pin` is the one eager
# lineage cut. Neither is tracked: the release below frees every cached
# plan and every pin the SparkContext holds, whoever made it.
#
# Contract: a released persisted frame recomputes from its lineage; a
# released pin is unreadable (its checkpoint blocks are gone), so a frame
# built on a pin must be collected before the release. ``queries.run``
# releases after each query's terminal action. Call the release only at
# a boundary where no other query runs in the session. Until it runs,
# Spark's CacheManager serves any identical plan from the cached data, so
# queries that rebuild the same intermediate (the kNN co-purchase edges)
# share one build.
# ---------------------------------------------------------------------------


def release_session_caches() -> int:
    """Unpersist every persistent RDD of the active SparkContext, pins
    included, waiting for each eviction to finish (``blocking=True``) so
    no release runs into a following timed operation; then empty the
    CacheManager. Returns how many RDDs were unpersisted. Idempotent;
    a no-op without an active session."""
    spark = SparkSession.getActiveSession()
    if spark is None:
        return 0
    sc = spark.sparkContext._jsc.sc()
    rdds = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    for rdd in rdds:
        if rdd.rdd().isLocallyCheckpointed():
            # a pin. RDD.unpersist would WARN that it "cannot be
            # recomputed after unpersisting", once per released pin;
            # freeing its blocks directly leaves its storage level set,
            # which is harmless: a freed pin cannot be read either way
            sc.unpersistRDD(rdd.id(), True)
        else:
            rdd.unpersist(True)
    spark.catalog.clearCache()
    return len(rdds)
