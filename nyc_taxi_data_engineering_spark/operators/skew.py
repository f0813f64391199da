"""Skew-mitigation utilities: salted joins and salted aggregation.

AQE's skew-join splitting (on in session.py) handles most runtime skew
by splitting oversized shuffle partitions; these utilities are the
explicit levers for the cases AQE can't fix — a single join key so hot
that *one key's rows* exceed an executor (AQE splits partitions, not
keys), or a hot group-by key.

``salted_join``: the fact side gets a uniform random-ish salt derived
deterministically from a row fingerprint (no ``rand()`` — keeps plans
deterministic and re-runnable); the dim side is exploded ``salt_n``
ways so every (key, salt) bucket finds its dim row. Cost: dim side
replicated salt_n×, so use for hot-key joins where the dim is small —
for large-dim skew prefer isolating hot keys (broadcast the hot slice,
shuffle the rest).

``salted_agg``: two-phase aggregation — partial agg on (key, salt),
final agg on key — the classic hot-key combiner when map-side partial
aggregation alone can't keep one reducer from owning the hot key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "_salt"


def with_salt(df: DataFrame, fingerprint_cols: Sequence[str], salt_n: int) -> DataFrame:
    """Deterministic salt in [0, salt_n): xxhash64 of fingerprint
    columns mod salt_n. Using row content (e.g. the row's unique id)
    instead of rand() keeps retries and oracle runs reproducible."""
    h = F.xxhash64(*[F.col(c) for c in fingerprint_cols])
    return df.withColumn(SALT_COL, F.pmod(h, F.lit(salt_n)).cast("int"))


def explode_salt(dim: DataFrame, salt_n: int) -> DataFrame:
    """Replicate each dim row once per salt value."""
    return dim.withColumn(
        SALT_COL, F.explode(F.array(*[F.lit(i) for i in range(salt_n)]))
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    salt_n: int,
    fingerprint_cols: Sequence[str],
) -> DataFrame:
    """Inner equi-join where the shuffle key is (join keys + salt),
    spreading a hot join key over ``salt_n`` reducers. Result equals
    the unsalted join (each fact row matches exactly its salt's dim
    replica). Only an inner or fact-preserving join is exact: under
    right/full, each unmatched dim row would survive once per salt
    replica."""
    keys = [on] if isinstance(on, str) else list(on)
    f = with_salt(fact, fingerprint_cols, salt_n)
    d = explode_salt(dim, salt_n)
    return f.join(d, keys + [SALT_COL], "inner").drop(SALT_COL)


_MERGES = {"sum": F.sum, "min": F.min, "max": F.max}


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, Column]],
    salt_n: int,
    fingerprint_cols: Sequence[str],
) -> DataFrame:
    """Two-phase hot-key aggregation for algebraic aggregates:
    partial on (keys + salt), final on keys.

    ``aggs`` maps output column name -> (merge, partial) where
    ``partial`` is the aggregate Column applied per (key, salt) bucket
    and ``merge`` names how the per-salt partials re-combine on the
    final group-by: ``'sum'`` (for count and sum partials), ``'min'``,
    or ``'max'``. The merge is explicit because it is NOT derivable
    from the Column without private-API introspection — and the caller
    knows it anyway: count partials merge by sum, everything else by
    itself. avg must be decomposed by the caller into sum + count."""
    bad = {name: m for name, (m, _) in aggs.items() if m not in _MERGES}
    if bad:
        raise ValueError(
            f"unknown merge kinds {bad}; expected one of {sorted(_MERGES)} "
            "(count partials merge by 'sum'; avg is not mergeable — decompose it)"
        )
    salted = with_salt(df, fingerprint_cols, salt_n)
    partial = salted.groupBy(*keys, SALT_COL).agg(
        *[c.alias(f"_p_{name}") for name, (_, c) in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[_MERGES[m](F.col(f"_p_{name}")).alias(name) for name, (m, _) in aggs.items()]
    )
