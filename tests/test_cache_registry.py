"""Session-cache lifecycle: operators.session_cache is the engine's only
persist mechanism — every operator and query that keeps a reusable
intermediate registers it there, so callers release all executor storage
at query boundaries with release_session_caches() (bench.py and perfbench
drain it between operations; test_oracle_parity checks that the drain
leaves the CacheManager empty after every registered query)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.operators import (
    _SESSION_CACHES,
    release_session_caches,
    session_cache,
)


def test_session_cache_registers_and_releases(spark):
    release_session_caches()  # drain whatever earlier tests left
    df = session_cache(spark.range(100).select(F.col("id")))
    assert df.count() == 100
    assert df.storageLevel.useMemory  # persisted
    assert len(_SESSION_CACHES) == 1
    n = release_session_caches()
    assert n == 1
    assert not _SESSION_CACHES
    assert not df.storageLevel.useMemory  # released
    # released frames recompute from lineage — values unaffected
    assert df.count() == 100


def test_release_is_idempotent_and_lifo(spark):
    release_session_caches()
    a = session_cache(spark.range(10))
    b = session_cache(spark.range(20))
    assert a.count() == 10 and b.count() == 20
    assert release_session_caches() == 2
    assert release_session_caches() == 0


def test_operators_register_their_persists(spark):
    """Operator persists (here ALS ratings, the CC edge list and the
    simhash proxy) flow through the registry so a session can release
    them instead of leaking them for the session's life."""
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
    assert len(_SESSION_CACHES) >= 3
    assert release_session_caches() >= 3
    assert not _SESSION_CACHES


def test_no_persist_outside_the_registry():
    """session_cache is the only persist and pin() the only eager lineage
    cut: no engine module may call .cache(), .persist( or
    .localCheckpoint( itself, or its storage would escape
    release_session_caches()."""
    import pathlib
    import re

    import nyc_taxi_data_engineering_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    owner = root / "operators" / "__init__.py"
    call = re.compile(r"\.(cache\(\)|persist\(|localCheckpoint\()")
    hits = [
        f"{p.relative_to(root)}:{i}"
        for p in sorted(root.rglob("*.py"))
        if p != owner
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if call.search(line)
    ]
    assert not hits, hits
