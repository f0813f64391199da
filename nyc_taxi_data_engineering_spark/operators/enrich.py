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


def enrichment_null_audit(enriched: DataFrame, probe_cols: list[str]) -> DataFrame:
    """Unmatched-FK audit (reference C2's hard assertion,
    nyc_validated_to_curated_etl.py:141-145): per probe column, how many
    rows failed to enrich — single aggregate pass."""
    aggs = [
        F.coalesce(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)), F.lit(0)).alias(f"null_{c}")
        for c in probe_cols
    ]
    return enriched.agg(F.count(F.lit(1)).alias("total_rows"), *aggs)


class EnrichmentIntegrityError(RuntimeError):
    pass


def assert_fully_enriched(enriched: DataFrame, probe_cols: list[str]) -> None:
    """Raise if any enrichment join missed (the reference's fail-fast)."""
    row = enrichment_null_audit(enriched, probe_cols).collect()[0]
    bad = {c: row[f"null_{c}"] for c in probe_cols if row[f"null_{c}"] > 0}
    if bad:
        raise EnrichmentIntegrityError(f"unmatched FK rows: {bad}")
