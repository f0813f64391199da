"""Persist lifecycle: operators.release_session_caches frees every
cached plan and every pin() checkpoint in the SparkContext. queries.run
calls it after each registered query (test_oracle_parity checks that
nothing is left), so operators persist with a plain ``.persist()`` and
no registry tracks them."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.operators import pin, release_session_caches


def _held(spark) -> tuple[bool, int]:
    """(CacheManager empty, persistent RDDs in the SparkContext)."""
    empty = spark._jsparkSession.sharedState().cacheManager().isEmpty()
    return empty, spark.sparkContext._jsc.getPersistentRDDs().size()


def test_released_persist_recomputes(spark):
    df = spark.range(100).select(F.col("id")).persist()
    assert df.count() == 100
    assert df.storageLevel.useMemory  # persisted
    assert release_session_caches() >= 1
    assert _held(spark) == (True, 0)
    assert not df.storageLevel.useMemory  # released
    # released frames recompute from lineage — values unaffected
    assert df.count() == 100


def test_released_pin_is_gone(spark):
    pinned = pin(spark.range(10))
    assert pinned.count() == 10
    release_session_caches()
    assert _held(spark) == (True, 0)
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        pinned.collect()


def test_release_is_idempotent(spark):
    a = spark.range(10).persist()
    b = pin(spark.range(20))
    assert a.count() == 10 and b.count() == 20
    assert release_session_caches() >= 2
    assert release_session_caches() == 0
    assert _held(spark) == (True, 0)


def test_operator_persists_are_freed(spark):
    """Operator persists and pins (here ALS ratings, the CC edge list and
    its pinned rounds, and the simhash proxy) are freed by the release
    instead of leaking for the session's life."""
    from nyc_taxi_data_engineering_spark.operators.als import prepare_ratings
    from nyc_taxi_data_engineering_spark.operators.dedup import (
        connected_components,
        simhash_neardup_pairs,
    )

    release_session_caches()
    ratings = spark.createDataFrame(
        [(1, 1, 3), (1, 2, 1), (2, 1, 2)], "u int, i int, r int"
    )
    prepared = prepare_ratings(ratings)
    assert prepared.count() == 3
    edges = spark.createDataFrame([(1, 2), (2, 3)], "a_id int, b_id int")
    comp = connected_components(edges)
    assert comp.count() == 3
    sim = spark.createDataFrame(
        [(1, 7), (2, 7)], "doc_id int, simhash long"
    )
    pairs = simhash_neardup_pairs(sim)
    assert pairs.count() == 1
    empty, held = _held(spark)
    assert not empty and held >= 3
    assert release_session_caches() == held
    assert _held(spark) == (True, 0)


def test_no_persist_outside_the_registry():
    """pin() is the engine's one eager lineage cut: no other engine module
    calls .localCheckpoint( itself. (Persists need no such rule: the
    context-wide release frees them wherever they are made.)"""
    import pathlib

    import nyc_taxi_data_engineering_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    owner = root / "operators" / "__init__.py"
    hits = [
        f"{p.relative_to(root)}:{i}"
        for p in sorted(root.rglob("*.py"))
        if p != owner
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if ".localCheckpoint(" in line
    ]
    assert not hits, hits
