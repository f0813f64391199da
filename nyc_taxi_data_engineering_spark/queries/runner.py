"""The one way to run a registered query: build it, apply a terminal
action, release what it held, and record what it cost.

``bench.py``, the oracle, plan, scale and probe tools and the parity
tests all go through :func:`run`, so every query gives its storage back
at the same boundary and its SQL executions are attributed the same way
everywhere. The release is context-wide (``release_session_caches``):
run queries one at a time per session.
"""

from __future__ import annotations

import time

from nyc_taxi_data_engineering_spark.operators import release_session_caches
from nyc_taxi_data_engineering_spark.queries.registry import registry


def noop_write(df) -> None:
    """Execute the whole plan and keep nothing: the ``noop`` sink."""
    df.write.format("noop").mode("overwrite").save()


def _last_execution_id(store) -> int:
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).head().executionId() if n else -1


def started_executions(spark, call):
    """``(call(), IDs of the SQL executions that started meanwhile)``,
    each eager ``pin()`` and ``count()`` included. IDs are diffed, never
    list sizes: the status store keeps only the last
    ``spark.sql.ui.retainedExecutions``."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()
    bus.waitUntilEmpty()
    first = _last_execution_id(store) + 1
    result = call()
    bus.waitUntilEmpty()
    return result, range(first, _last_execution_id(store) + 1)


def next_job_id(spark) -> int:
    """The ID the context's next Spark job will get. Job IDs are handed
    out in order when a job is submitted, whichever thread submits it."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def run(spark, name: str, sf_dir: str, action):
    """Build registered query ``name`` over ``sf_dir``, apply ``action``
    to the frame and return ``(its result, record)``. The record holds
    ``build_s`` (the query function, eager pins included), ``exec_s``
    (the action), ``build_jobs`` and ``exec_jobs`` (how many Spark jobs
    each submitted) and ``executions`` (the SQL execution IDs both
    started).
    Every cache and pin in the context is released afterwards, also when
    the build or the action raises, so ``action`` must leave nothing that
    reads the frame later: collect it, count it or write it. Pass a
    function of the frame (``lambda df: df.toPandas()``), not an unbound
    ``pyspark.sql.DataFrame`` method: those are stubs that return None."""
    fn = registry()[name].fn

    def build_and_act():
        j0 = next_job_id(spark)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        j1 = next_job_id(spark)
        t2 = time.perf_counter()
        result = action(df)
        t3 = time.perf_counter()
        record = {
            "build_s": t1 - t0,
            "exec_s": t3 - t2,
            "build_jobs": j1 - j0,
            "exec_jobs": next_job_id(spark) - j1,
        }
        return result, record

    try:
        (result, record), executions = started_executions(spark, build_and_act)
    finally:
        release_session_caches()
    return result, {**record, "executions": executions}
