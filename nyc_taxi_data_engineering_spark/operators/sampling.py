"""Deterministic sampling / dataset-split operators for training-data
assembly: hash-bucket train/val/test splits, stratified (per-stratum
rate) sampling, and weighted corpus mixtures.

Beyond-reference extension (the reference has no sampling anywhere;
its only row-selection ops are predicates — SURVEY §2.2). These are
the operators a 100 TB pretraining pipeline runs on every corpus
refresh, and the design constraints come from that scale:

- **Content/key-hashed, not random.** ``randomSplit``/``sample`` are
  nondeterministic across reruns, partition layouts, and cluster
  sizes. Hashing a stable key means a document lands in the SAME split
  on every rerun and on any cluster — splits stay leakage-safe when
  the corpus is re-ingested incrementally.
- **Narrow.** Bucket assignment is a per-row projection: no shuffle,
  no sort, no driver round-trip. Splitting 100 TB costs one scan.
- **Oracle-exact.** The bucket function is md5-prefix arithmetic that
  DuckDB can evaluate verbatim (``('0x' || substr(md5(k),1,8))::BIGINT``),
  so every split/sample decision is hash-checkable row by row.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Bucket space 10_000 → split fractions resolve to 0.01 % granularity.
N_BUCKETS = 10_000


def hash_bucket(key: Column, seed: str = "", n_buckets: int = N_BUCKETS) -> Column:
    """Uniform bucket in [0, n_buckets) from the first 8 hex digits of
    md5(seed|key). Changing ``seed`` re-draws every assignment (fresh
    resample) without touching the data."""
    h = F.md5(F.concat_ws("|", F.lit(seed), key.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_buckets).cast("int")


def hash_bucket_sql(key_expr: str, seed: str = "", n_buckets: int = N_BUCKETS) -> str:
    """DuckDB-evaluable twin of :func:`hash_bucket` (same md5 prefix,
    same modulus) for oracle SQL generation."""
    concat = f"'{seed}' || '|' || CAST({key_expr} AS VARCHAR)"
    return f"CAST(('0x' || substr(md5({concat}), 1, 8))::BIGINT % {n_buckets} AS INT)"


def _split_edges(splits: Mapping[str, float]) -> list[tuple[str, int, int]]:
    """[(name, lo, hi)) bucket ranges from fractional splits summing to 1."""
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    edges, lo = [], 0
    names = list(splits)
    for i, name in enumerate(names):
        hi = N_BUCKETS if i == len(names) - 1 else lo + round(splits[name] * N_BUCKETS)
        if hi <= lo:
            raise ValueError(f"split {name!r} resolves to an empty bucket range")
        edges.append((name, lo, hi))
        lo = hi
    return edges


def assign_split(
    df: DataFrame,
    key: str,
    splits: Mapping[str, float],
    seed: str = "",
) -> DataFrame:
    """Label every row with a deterministic split name (e.g.
    train/val/test) by hash bucket of ``key``. Pure projection —
    no shuffle; write with ``partitionBy("split")`` to materialize
    split-per-directory."""
    bucket = hash_bucket(F.col(key), seed)
    edges = _split_edges(splits)
    expr = F.when(bucket < F.lit(edges[0][2]), F.lit(edges[0][0]))
    for name, _lo, hi in edges[1:-1]:
        expr = expr.when(bucket < F.lit(hi), F.lit(name))
    expr = expr.otherwise(F.lit(edges[-1][0]))
    return df.withColumn("split", expr)


def assign_split_sql(key_expr: str, splits: Mapping[str, float], seed: str = "") -> str:
    """DuckDB CASE expression matching :func:`assign_split`."""
    bucket = hash_bucket_sql(key_expr, seed)
    edges = _split_edges(splits)
    whens = "".join(f" WHEN {bucket} < {hi} THEN '{name}'" for name, _lo, hi in edges[:-1])
    return f"CASE{whens} ELSE '{edges[-1][0]}' END"


def stratified_sample(
    df: DataFrame,
    key: str,
    stratum: str,
    fractions: Mapping[str, float],
    seed: str = "",
) -> DataFrame:
    """Keep a deterministic per-stratum fraction of rows (hash-bucket
    thresholding) — corpus rebalancing (downsample the dominant
    language, keep the long tail) and weighted source mixtures are the
    same operator with different stratum columns.

    Still narrow: the per-stratum rate is a CASE over the stratum
    column, compared against the row's hash bucket; no join against a
    rate table, no shuffle, no sampling state."""
    for name, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for stratum {name!r} must be in [0,1], got {frac}")
    bucket = hash_bucket(F.col(key), seed)
    rate: Column = F.lit(0.0)
    for name, frac in fractions.items():
        rate = F.when(F.col(stratum) == name, F.lit(frac)).otherwise(rate)
    return df.filter(bucket < (rate * N_BUCKETS))


def stratified_sample_sql(
    key_expr: str,
    stratum_expr: str,
    fractions: Mapping[str, float],
    seed: str = "",
) -> str:
    """DuckDB WHERE predicate matching :func:`stratified_sample`."""
    bucket = hash_bucket_sql(key_expr, seed)
    rate = "0.0"
    for name, frac in fractions.items():
        rate = f"CASE WHEN {stratum_expr} = '{name}' THEN {frac} ELSE {rate} END"
    return f"{bucket} < ({rate}) * {N_BUCKETS}"


# Continuous-uniform denominator: md5 32-bit prefix + 1 over 2^32 + 1,
# so u lies in (0, 1] and ln(u) is always finite.
_U_DENOM = 4_294_967_297.0


def uniform_from_hash(key: Column, seed: str = "") -> Column:
    """Deterministic u ~ U(0, 1] from md5(seed|key) — the rerun-stable
    stand-in for rand() that both engines evaluate identically."""
    h = F.md5(F.concat_ws("|", F.lit(seed), key.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("double") + 1) / F.lit(_U_DENOM)


def uniform_from_hash_sql(key_expr: str, seed: str = "") -> str:
    concat = f"'{seed}' || '|' || CAST({key_expr} AS VARCHAR)"
    return f"((('0x' || substr(md5({concat}), 1, 8))::BIGINT + 1) / {_U_DENOM})"


def weighted_sample(df: DataFrame, key: str, weight_col: str, k: int, seed: str = "") -> DataFrame:
    """Weighted sampling WITHOUT replacement, k rows, selection
    probability proportional to ``weight_col`` — the
    Efraimidis–Spirakis A-Res scheme: rank by -ln(u)/w ascending and
    keep the k smallest. With hash-derived u the draw is deterministic
    across reruns and cluster layouts (same guarantee as the split
    operators above), which is what makes weighted corpus subsampling
    auditable. Plans as TakeOrderedAndProject: per-task partial top-k,
    no global sort. Adds ``rank_key`` (rounded) to the output.

    NON-POSITIVE and NULL weights are EXCLUDED by contract (the filter
    is ``weight_col > 0``): zero weight means selection probability 0
    (A-Res would give it rank +inf, but Spark's ANSI division errors
    before it can), negative and NULL weights are ill-defined for
    A-Res and are dropped the same way rather than erroring — so a
    caller passing bad weights gets fewer than ``k`` rows back, not an
    exception. Mirrored in :func:`weighted_sample_sql`."""
    u = uniform_from_hash(F.col(key), seed)
    rk = -F.log(u) / F.col(weight_col)
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("rank_key", rk)
        .orderBy(F.col("rank_key").asc(), F.col(key).asc())
        .limit(k)
        .withColumn("rank_key", F.round(F.col("rank_key"), 9))
    )


def weighted_sample_sql(
    table: str, cols: str, key_expr: str, weight_expr: str, k: int, seed: str = ""
) -> str:
    """DuckDB twin of :func:`weighted_sample`."""
    u = uniform_from_hash_sql(key_expr, seed)
    return f"""
SELECT {cols}, ROUND(-ln({u}) / {weight_expr}, 9) AS rank_key
FROM {table}
WHERE {weight_expr} > 0
ORDER BY -ln({u}) / {weight_expr}, {key_expr}
LIMIT {k}"""


def shuffle_shards(df: DataFrame, key: str, n_shards: int) -> DataFrame:
    """Deterministic global shuffle into ``n_shards`` output shards —
    the shuffle-and-shard step every pretraining run does before
    writing token streams. Shard = hash bucket of the key; position
    within the shard = rank by a SECOND, independent hash (md5 hex
    sorts as a uniform pseudo-random order), tie-broken by key so the
    permutation is total. Rerun-stable and layout-independent, unlike
    ``orderBy(rand())``.

    Scale shape: one hash exchange on (shard) + a per-shard sort —
    exactly the shuffle a shard write needs anyway; no global sort,
    no driver state. At 100 TB, size n_shards so a shard fits an
    output file (thousands of shards → thousands of independent
    sorts)."""
    from pyspark.sql import Window

    clash = [c for c in ("shard", "pos") if c in df.columns]
    if clash:
        # the output contract owns these names; silently shadowing an
        # input column (or dying later with an ambiguous-column
        # AnalysisException mid-plan) would both be worse
        raise ValueError(
            f"shuffle_shards adds output columns {clash} but the input "
            "already has them — rename or drop those columns first"
        )
    shard = hash_bucket(F.col(key), "r5#shard", n_shards).alias("shard")
    order_h = F.md5(F.concat_ws("|", F.lit("r5#order"), F.col(key).cast("string")))
    w = Window.partitionBy("shard").orderBy(order_h, F.col(key))
    return df.select("*", shard).withColumn("pos", F.row_number().over(w))


def shuffle_shards_sql(
    table: str,
    key_expr: str,
    n_shards: int,
    cols: str,
) -> str:
    """DuckDB twin of :func:`shuffle_shards`."""
    shard = hash_bucket_sql(key_expr, "r5#shard", n_shards)
    order_h = f"md5('r5#order' || '|' || CAST({key_expr} AS VARCHAR))"
    return f"""
SELECT {cols}, {shard} AS shard,
       CAST(row_number() OVER (PARTITION BY {shard} ORDER BY {order_h}, {key_expr}) AS INT) AS pos
FROM {table}"""


def temperature_rates(df: DataFrame, stratum: str, alpha: float) -> DataFrame:
    """Per-stratum keep-rates for temperature-scaled mixture sampling
    (the multilingual-rebalance scheme of mBERT/XLM-R/mT5: sample
    stratum s with probability ∝ p_s^alpha, alpha < 1 flattening the
    head and boosting the tail). Keep-rate ∝ p_s^(alpha-1), normalized
    so the largest rate is 1 (the rarest stratum is kept whole — no
    upsampling, which a deterministic filter cannot do).

    Returns ``(stratum, n_total, keep_rate)`` with keep_rate rounded
    to 6 dp. The frame is one hash-agg of the input (map-side combined
    to ≤|strata| rows per partition) plus an all-strata window over
    that tiny aggregate — broadcast it back for the filter."""
    cnt = df.groupBy(stratum).agg(F.count(F.lit(1)).alias("n_total"))
    w = Window.partitionBy()  # strata grain, bounded by |strata|
    share = F.col("n_total") / F.sum("n_total").over(w)
    raw = F.pow(share, F.lit(alpha - 1.0))
    return cnt.select(
        stratum,
        "n_total",
        F.round(raw / F.max(raw).over(w), 6).alias("keep_rate"),
    )


def temperature_rates_sql(stratum: str, alpha: float) -> str:
    """DuckDB CTE body matching :func:`temperature_rates` (two nesting
    levels: DuckDB rejects a window call inside another window's
    argument)."""
    return (
        f"SELECT {stratum}, n_total, round(raw / MAX(raw) OVER (), 6) AS keep_rate\n"
        f"FROM (SELECT {stratum}, n_total,"
        f" pow(n_total * 1.0 / SUM(n_total) OVER (), {alpha} - 1.0) AS raw\n"
        f"      FROM (SELECT {stratum}, COUNT(*) AS n_total FROM documents GROUP BY {stratum}))"
    )
