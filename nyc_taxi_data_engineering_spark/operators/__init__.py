"""Dataflow operators — pure DataFrame -> DataFrame functions.

Each module hosts one operator family from SURVEY.md §2; composition
happens in plans/ (pipelines) and queries/ (the correctness surface).
"""

import threading

from pyspark.sql import Column, DataFrame, Observation
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
# Session cache registry — the engine's ONE persist lifecycle. Every
# operator or query that keeps a reusable intermediate (shingle sets, edge
# lists, ALS ratings, contingency tables, the kNN co-purchase graph, ...)
# calls ``session_cache(df)``; nothing in the package calls ``.cache()`` or
# ``.persist()`` directly, and :func:`pin` is the only eager lineage cut.
# A bare persist() lives for the whole session — a long-lived job would
# hold storage memory forever (guide §5 "unpersist when done").
#
# Contract: the application calls ``release_session_caches()`` after the
# terminal action of each query (bench.py and perfbench do so between
# operations, outside their timers). Releasing is always SAFE — a released
# DataFrame recomputes from lineage — so the registry can be drained at
# any query boundary. Until the next release, Spark's CacheManager serves
# any identical plan from the cached data, so queries that rebuild the
# same intermediate (the kNN co-purchase edges) share one build.
#
# Thread safety: ``_SESSION_LOCK`` guards every append and every drain, so
# queries built on several driver threads may share the registry; a
# drain releases whatever is registered at that moment, including the
# caches of a query still running on another thread.
# ---------------------------------------------------------------------------

_SESSION_CACHES: list[DataFrame] = []
_SESSION_LOCK = threading.Lock()


def session_cache(df: DataFrame) -> DataFrame:
    """``df.persist()`` + registration for :func:`release_session_caches`.
    Returns the persisted DataFrame (MEMORY_AND_DISK_DESER, the same level
    as ``.cache()`` — the InMemoryRelation keeps size stats and
    outputPartitioning, the planner levers the r12 optimizations rely
    on). Thread-safe."""
    df = df.persist()
    with _SESSION_LOCK:
        _SESSION_CACHES.append(df)
    return df


def release_session_caches() -> int:
    """Unpersist every registered cache (LIFO) and wait for each eviction
    to finish (``blocking=True``), so no release runs into a following
    timed operation; returns how many were released. Idempotent — an
    already-unpersisted DataFrame is a no-op. Thread-safe: the registry
    is drained under ``_SESSION_LOCK``."""
    with _SESSION_LOCK:
        drained = _SESSION_CACHES[::-1]
        _SESSION_CACHES.clear()
    n = 0
    for df in drained:
        try:
            df.unpersist(blocking=True)
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n
