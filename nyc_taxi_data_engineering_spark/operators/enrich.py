"""Dimension enrichment with role-played dims (reference C2/J1/J2/P10:
glue_jobs/nyc_validated_to_curated_etl.py:86-182,
day7_enrichment_final.py:36-105).

The reference left-joins one small zone dim twice (pickup/dropoff
roles) and hard-fails when a FK has no match. Role-playing = projecting
the dim with a prefix per role; every dim join is broadcast (master
dims are small by definition), so enriching a 100 TB fact never
shuffles the fact side.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class DimSpec:
    dim: DataFrame
    fact_key: str  # FK column on the fact
    dim_key: str  # key column on the dim
    prefix: str  # role prefix for carried dim columns
    carry: tuple[str, ...]  # dim columns to carry (renamed prefix_col)


def role_play(dim: DataFrame, dim_key: str, prefix: str, carry: tuple[str, ...]) -> DataFrame:
    """Project a conformed dim into one role (reference P10)."""
    return dim.select(
        F.col(dim_key),
        *[F.col(c).alias(f"{prefix}_{c}") for c in carry],
    )


def enrich_with_dims(fact: DataFrame, specs: list[DimSpec]) -> DataFrame:
    """Left-join each role-played dim (broadcast)."""
    out = fact
    for s in specs:
        rp = role_play(s.dim, s.dim_key, s.prefix, s.carry)
        out = out.join(F.broadcast(rp), on=out[s.fact_key] == rp[s.dim_key], how="left").drop(
            rp[s.dim_key]
        )
    return out
