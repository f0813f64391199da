"""Deterministic Bloom-filter semi-join prefilter — the runtime-filter
pattern made explicit (Spark's own
``spark.sql.optimizer.runtime.bloomFilter`` does this opaquely inside
AQE; this operator is the portable, testable version for pipelines
that must prune a 100 TB probe side BEFORE its shuffle).

Scale story: the build side's keys are folded into an ``m``-bit filter
(m = BLOOM_BITS, k = BLOOM_HASHES) represented as a DataFrame of DISTINCT set bit positions (≤ m rows —
thousands, never data-scale), which broadcasts everywhere. The probe
side then survives ``k`` consecutive **broadcast left-semi joins**
(one per hash function) — zero shuffles on the probe, no distinct, no
exchange; rows whose k positions are all set pass. Bloom semantics
guarantee NO false negatives; false positives are bounded by
``(1 - e^{-kn/m})^k`` and are removed by the real join that follows.

Hashing is the repo's deterministic md5 bucket (same as
operators/sampling.py) so a DuckDB oracle can recompute every bit
position — the filter's exact false-positive set is itself under the
correctness gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.operators.sampling import hash_bucket, hash_bucket_sql

BLOOM_BITS = 1 << 17  # m: 131072 bits ≈ 16 KiB — broadcast-trivial
BLOOM_HASHES = 3  # k


def _positions(key: Column) -> list[Column]:
    return [hash_bucket(key, f"bloom#{i}", BLOOM_BITS) for i in range(BLOOM_HASHES)]


def bloom_build(keys: DataFrame, key_col: str) -> DataFrame:
    """Set-bit positions of the filter over the build side's keys: one
    ``bit`` int column, DISTINCT, ≤ BLOOM_BITS rows. One small shuffle
    on the bit value (cardinality m, never data-scale)."""
    pos = _positions(F.col(key_col))
    return keys.select(F.explode(F.array(*pos)).alias("bit")).distinct()


def bloom_prefilter(probe: DataFrame, key_col: str, bits: DataFrame) -> DataFrame:
    """Probe rows that pass the filter: ``BLOOM_HASHES`` broadcast
    left-semi joins, one per hash position — the probe side never
    shuffles and never explodes."""
    out = probe
    for i, p in enumerate(_positions(F.col(key_col))):
        out = out.withColumn(f"__b{i}", p).join(
            F.broadcast(bits), F.col(f"__b{i}") == F.col("bit"), "left_semi"
        )
    return out.drop(*[f"__b{i}" for i in range(BLOOM_HASHES)])


def bloom_positions_sql(key_expr: str) -> list[str]:
    """DuckDB twins of the k bit-position expressions."""
    return [hash_bucket_sql(key_expr, f"bloom#{i}", BLOOM_BITS) for i in range(BLOOM_HASHES)]

# ---------------------------------------------------------------------------
# PACKED-WORD Bloom filter (membership gate with an auditable FP rate)
# ---------------------------------------------------------------------------
# The second Bloom representation in this module: bloom_build/bloom_prefilter
# above keep the filter as a table of DISTINCT set-bit POSITIONS and prune the
# probe side with k broadcast semi-joins (the runtime-filter shape — rows pass
# or die, no flag). This variant packs the bits into 32-bits-per-BIGINT WORDS
# (m/32 rows for ANY m) and returns an explicit membership flag per probe row,
# which is what a decontamination AUDIT needs: flagged vs exact-truth vs FP
# rate, all comparable under the oracle gate. An m-bit array, k md5-derived
# positions per key, bits OR-packed into 32-bits-per-BIGINT words. The
# decontamination shape at 100 TB: the word table is (m/32) rows — a few
# MB for tens of millions of reference keys — so membership against the
# corpus is a per-row projection plus a BROADCAST equi-join on word
# index; the reference set itself never shuffles against the corpus.
# False positives only (never false negatives); m is sized from the
# OBSERVED reference count (BLOOM_BITS_PER_KEY bits/key), so the FP
# rate holds at any scale. Both engines derive identical positions from
# the md5 transport, so the filter is bit-for-bit reproducible.

BLOOM_K = 4  # hash functions
BLOOM_BITS_PER_KEY = 16  # with k=4: fp ~ (1 - e^(-k/16))^k ~ 0.24%
_BLOOM_WORD_BITS = 32  # bits packed per BIGINT word (sign-safe)


def packed_bloom_positions(key: Column, m: Column) -> list[Column]:
    """The k bit positions of ``key`` in an ``m``-bit filter: first 8
    md5 hex digits of (seed_i | key), mod m — the same 32-bit transport
    as hash_bucket, with a per-hash seed and a DYNAMIC modulus."""
    return [
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.lit(f"bloom{i}"), key.cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % m
        )
        for i in range(BLOOM_K)
    ]


def packed_bloom_positions_sql(key_expr: str, m_expr: str) -> list[str]:
    """DuckDB twins of :func:`packed_bloom_positions`."""
    return [
        f"('0x' || substr(md5('bloom{i}' || '|' || CAST({key_expr} AS VARCHAR)), 1, 8))::BIGINT"
        f" % ({m_expr})"
        for i in range(BLOOM_K)
    ]


def packed_bloom_build(ref: DataFrame, key: str) -> DataFrame:
    """(word_idx, w) Bloom word table from ``ref[key]`` (distinct keys),
    m = BLOOM_BITS_PER_KEY * |ref| bits. One explode (k rows/key) + one
    hash agg with map-side bit_or partials; output is (m/32) rows —
    broadcastable. Carries ``m`` on every row so probes derive the
    SAME positions without re-counting the reference."""
    keys = ref.select(F.col(key).alias("k")).distinct()
    # GREATEST(m, 1): an empty reference split (plausible on tiny/empty
    # adversarial tiers) would make m=0 and every position expression
    # `% 0` — Spark ANSI throws while DuckDB yields NULL, an engine
    # divergence. m=1 keeps the modulus legal; the word table is still
    # empty, so every probe misses (bloom_hit=0), the correct answer.
    mrow = keys.agg(
        F.greatest(
            (F.lit(BLOOM_BITS_PER_KEY) * F.count(F.lit(1))).cast("long"), F.lit(1).cast("long")
        ).alias("m")
    )
    pos = (
        keys.crossJoin(F.broadcast(mrow))
        .select(F.explode(F.array(*packed_bloom_positions(F.col("k"), F.col("m")))).alias("pos"), "m")
    )
    # shiftleft with a COLUMN shift amount only exists on the SQL
    # surface (the Python helper wants a literal), hence F.expr
    return (
        pos.groupBy((F.col("pos") / _BLOOM_WORD_BITS).cast("long").alias("word_idx"))
        .agg(
            F.expr(
                f"bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_WORD_BITS} AS INT)))"
            ).alias("w"),
            F.max("m").alias("m"),
        )
    )


def packed_bloom_probe(df: DataFrame, key: str, words: DataFrame) -> DataFrame:
    """``df`` plus a ``bloom_hit`` flag: 1 iff ALL k bits of ``key``
    are set in the (broadcast) word table. The k positions explode to k
    rows, equi-join the words on word_idx (missing word = bit absent),
    and a per-key MIN over the k bit tests folds back to one row — at
    scale this is k broadcast-join probes per input row, zero shuffle
    of the corpus itself."""
    # COALESCE(MAX(m), 1): an empty word table (empty reference) has no
    # m to carry; 1 keeps the position modulus legal and every probe
    # misses via the left join below.
    mrow = words.agg(F.coalesce(F.max("m"), F.lit(1).cast("long")).alias("m"))
    pos = df.crossJoin(F.broadcast(mrow)).select(
        F.col(key).alias("_bk"),
        F.explode(F.array(*packed_bloom_positions(F.col(key), F.col("m")))).alias("pos"),
    )
    tested = (
        pos.join(
            F.broadcast(words.select("word_idx", "w")),
            (F.col("pos") / _BLOOM_WORD_BITS).cast("long") == F.col("word_idx"),
            "left",
        )
        .select(
            "_bk",
            F.expr(
                "CASE WHEN (shiftright(coalesce(w, CAST(0 AS BIGINT)), "
                f"CAST(pos % {_BLOOM_WORD_BITS} AS INT)) & 1) = 1 THEN 1 ELSE 0 END"
            ).alias("bit_set"),
        )
        .groupBy("_bk")
        .agg(F.min("bit_set").alias("bloom_hit"))
    )
    return df.join(tested, df[key] == tested["_bk"]).drop("_bk")
