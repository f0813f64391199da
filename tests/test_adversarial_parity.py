"""Degenerate-input oracle parity — the adversarial tiers as pytest.

Round 9 ran these sweeps by hand (tools/adversarial_tier.py) and they
caught 12 real engine divergences; this suite keeps them from rotting
(VERDICT r9 task 6). Three tiers, all derived from sf0.001:

- tiny:  single-digit key cardinalities, FK orphans on purpose,
  corpora smaller than most K/topk constants, 1-observation series.
- empty: every fact table 0 rows, dims intact.
- skew:  one HOT key owns ~half of every fact table (r11; VERDICT r10
  task 8) — correctness of the salted-agg/degree-cap/df_cap levers.
- weird: hostile VALUES at normal volume/shape (r11) — zero-norm and
  constant embeddings, empty/whitespace/unicode/5000-char-token docs,
  zero prices, 100% discounts, empty props, identical-timestamp event
  ties. First full sweep flushed 28 latents in 6 classes (zero-norm
  cosine under ANSI, codepoint-vs-byte oracle indexing, DuckDB
  erroring where Spark NULLs on malformed JSON, array_to_string([])
  NULL vs concat_ws '' , empty-payload frame math, MAPE on zero
  actuals) — all fixed same-session.

A query passes when Spark and DuckDB AGREE on the degenerate input
under the driver's EXACT comparator (empty == empty is a pass).

Excluded from the default pytest run (see pytest.ini addopts) — run
with `python -m pytest tests/ -q -m adversarial`. Four tiers x 325
registered queries = 1300 cases.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from nyc_taxi_data_engineering_spark.catalog import TABLES, table_path
from nyc_taxi_data_engineering_spark.queries import registry, run
from tools.adversarial_tier import (
    CUTS,
    EMPTY_CUTS,
    OUT,
    OUT_EMPTY,
    OUT_SKEW,
    OUT_WEIRD,
    SKEW_CUTS,
    WEIRD_CUTS,
    build,
)
from tools.oracle_check import compare

pytestmark = pytest.mark.adversarial

_REG = registry()


def _tier_fixture(out: str, cuts):
    build(out, cuts)  # cheap (10 small parquet COPYs); always fresh
    return out


@pytest.fixture(scope="session")
def tiny_dir() -> str:
    return _tier_fixture(OUT, CUTS)


@pytest.fixture(scope="session")
def empty_dir() -> str:
    return _tier_fixture(OUT_EMPTY, EMPTY_CUTS)


@pytest.fixture(scope="session")
def skew_dir() -> str:
    return _tier_fixture(OUT_SKEW, SKEW_CUTS)


@pytest.fixture(scope="session")
def weird_dir() -> str:
    return _tier_fixture(OUT_WEIRD, WEIRD_CUTS)


def _duck_for(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = table_path(sf_dir, t)
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


@pytest.fixture(scope="session")
def tiny_duck(tiny_dir):
    con = _duck_for(tiny_dir)
    yield con
    con.close()


@pytest.fixture(scope="session")
def empty_duck(empty_dir):
    con = _duck_for(empty_dir)
    yield con
    con.close()


@pytest.fixture(scope="session")
def skew_duck(skew_dir):
    con = _duck_for(skew_dir)
    yield con
    con.close()


@pytest.fixture(scope="session")
def weird_duck(weird_dir):
    con = _duck_for(weird_dir)
    yield con
    con.close()


def _check(name: str, spark, sf_dir: str, duck) -> None:
    spec = _REG[name]
    spark_pdf, _ = run(spark, name, sf_dir, lambda df: df.toPandas())
    if spec.oracle is None:
        assert len(spark_pdf) >= 0  # rows-only: it ran without erroring
        return
    oracle_pdf = duck.execute(spec.oracle).fetchdf()
    errs = compare(spark_pdf, oracle_pdf, name)
    assert not errs, f"{name}: " + "; ".join(errs)


@pytest.mark.parametrize("name", sorted(_REG))
def test_tiny_tier(name, spark, tiny_dir, tiny_duck):
    _check(name, spark, tiny_dir, tiny_duck)


@pytest.mark.parametrize("name", sorted(_REG))
def test_empty_tier(name, spark, empty_dir, empty_duck):
    _check(name, spark, empty_dir, empty_duck)


# Third tier (round 11): hot keys — one customer/supplier/user owning
# ~50% of its fact table, one token in 90% of docs, half the embedding
# corpus a single identical vector. Exercises the skew levers' ANSWERS
# (salting, degree caps, df caps, LSH bucket explosion), not just their
# plan shapes.
@pytest.mark.parametrize("name", sorted(_REG))
def test_skew_tier(name, spark, skew_dir, skew_duck):
    _check(name, spark, skew_dir, skew_duck)


# Fourth tier (round 11): hostile values — the axis the other three
# never touch. Volume (tiny/empty) and distribution (skew) leave the
# VALUE DOMAIN well-formed; this tier plants the values a real corpus
# contains and the generator never emits (see module docstring).
@pytest.mark.parametrize("name", sorted(_REG))
def test_weird_tier(name, spark, weird_dir, weird_duck):
    _check(name, spark, weird_dir, weird_duck)
