"""Scalar column-function library (reference §2.8 F1–F16).

All JVM-side built-ins — no Python UDFs here. The only true UDF in the
engine (token-sort-ratio fuzzy scorer) lives in operators/mdm.py as a
pandas_udf.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

# Sentinel for open-ended SCD2 validity (reference:
# glue_jobs/scd2_delta_vendors.py:31 `timestamp('9999-12-31')`).
OPEN_END_TS = "9999-12-31 00:00:00"


def stable_sum(col: Column | str, scale: int = 4, precision: int = 18) -> Column:
    """Order-independent, engine-portable SUM over a double expression.

    Summing doubles is order-dependent (1-ulp drift across engines flips
    ROUND at .5 boundaries), so oracle-parity aggregates sum in exact
    decimal and cast the exact total back to double. A double is never
    exactly on a decimal half-boundary (10^-k has a 5^k factor, not
    representable in binary), so the double→decimal rounding is identical
    in Spark and DuckDB. At scale this is also the right plan: decimal
    sums keep map-side partial aggregation and whole-stage codegen.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({precision},{scale})")).cast("double")


def dec_to_double_sql(expr: str) -> str:
    """Engine-portable decimal→double for DuckDB oracle text: hop
    through VARCHAR. DuckDB's direct CAST(DECIMAL AS DOUBLE) converts
    the int128 unscaled value to double and then divides by 10^scale —
    TWO roundings — so once the unscaled value exceeds 2^53 it can
    differ from the correctly-rounded value by one ULP. Java (Spark's
    side) converts correctly rounded (BigDecimal.doubleValue falls back
    to Double.parseDouble(toString())), and so does DuckDB's
    VARCHAR→DOUBLE strtod — so the string hop makes both engines
    produce the identical double at ANY magnitude. (Found live by the
    r10 exact sweep: lineitem_correlations' scale-12 moments at ~1e8
    have unscaled ~1e20.) Cost: one string per aggregate output row.

    Typed STRING (not VARCHAR): several queries parse this same text
    with Spark's F.expr, which rejects unsized VARCHAR; both parsers
    accept STRING."""
    return f"CAST(CAST(({expr}) AS STRING) AS DOUBLE)"


def stable_sum_sql(expr: str, scale: int = 4, precision: int = 18) -> str:
    """DuckDB-side twin of :func:`stable_sum`."""
    return dec_to_double_sql(f"SUM(CAST({expr} AS DECIMAL({precision},{scale})))")


def stable_sum_unscaled_long(col: Column | str) -> Column:
    """:func:`stable_sum` with an unscaled-LONG accumulator — the sum
    buffer is a primitive long instead of a >18-precision decimal
    (BigDecimal-backed), which is the dominant per-row aggregate cost in
    scan-bound queries (optimization r13, guide §2.3 "narrower types";
    measured −10% on the TPC-H Q1 shape at sf0.1).

    Bit-identical to stable_sum, PROVABLY, in two steps: (1) the per-row
    ``decimal(18,4) * 10^4 -> long`` is the exact unscaled value, and the
    long sum is exact as long as it cannot overflow — the caller must
    guarantee ``max|col| * 10^4 * rows_per_group < 2^63`` (e.g.
    l_quantity <= 50 -> 5e5 unscaled; even at SF 130,000 ≈ 100 TB a Q1
    group holds ~2e11 rows -> 1e17 << 9.2e18); (2) the terminal
    ``long -> decimal / 10^4 -> double`` is one exact decimal division
    (the value has only 4 fractional digits) followed by the same
    correctly-rounded decimal->double conversion stable_sum ends with —
    ONE rounding total, so the double is identical at any magnitude.
    Use ONLY for magnitude-bounded columns (quantities, counts, flags);
    price-bearing columns overflow the bound and must stay on
    stable_sum's decimal transport.

    Requires ANSI mode (``spark.sql.ansi.enabled=true``, the Spark 4
    default) on the active session, where a long overflow raises instead
    of wrapping; otherwise raises ``ValueError`` when the column is
    built, so a broken bound fails loudly rather than returning a
    silently wrapped sum."""
    if SparkSession.active().conf.get("spark.sql.ansi.enabled").lower() != "true":
        raise ValueError(
            "stable_sum_unscaled_long needs spark.sql.ansi.enabled=true: "
            "without ANSI mode a long-sum overflow wraps silently"
        )
    c = F.col(col) if isinstance(col, str) else col
    unscaled = F.sum((c.cast("decimal(18,4)") * (10**4)).cast("long"))
    return (unscaled.cast("decimal(38,0)") / F.lit(10**4)).cast("double")


def stable_avg(col: Column | str, scale: int = 4) -> Column:
    """Order-independent AVG: exact decimal sum ÷ count, both as double."""
    c = F.col(col) if isinstance(col, str) else col
    return stable_sum(c, scale) / F.count(c)


def stable_avg_sql(expr: str, scale: int = 4) -> str:
    return f"{stable_sum_sql(expr, scale)} / COUNT({expr})"


# ---------------------------------------------------------------------------
# Decimal-domain arithmetic (VERDICT r9 "What's wrong" #1-#4).
#
# stable_sum's double→DECIMAL cast is engine-portable ONLY when the double
# holds a value already on (or within one ULP of) the target decimal grid.
# A double that is the product of 3+ doubles can land close enough to a
# .5 grid boundary that Spark (BigDecimal HALF_UP on the exact binary
# value) and DuckDB (scale-and-llround through x*10^k, a double-rounding)
# disagree by one unit in the last place — invisible at rtol 1e-9, fatal
# to the driver's exact hash. The cure: cast each EXACT-decimal source
# column to DECIMAL once (deterministic both engines), do all arithmetic
# in decimal (exact — no rounding anywhere), and cast the exact total to
# double only at the very end.
# ---------------------------------------------------------------------------


def dec_sum(col: Column | str) -> Column:
    """Exact SUM of an already-decimal expression, cast to double with NO
    intermediate rescale — safe at any magnitude (the sub-ULP quantization
    trap of ``round(double, k)`` cannot occur: nothing is ever rounded
    until the terminal decimal→double conversion, which is exact-input
    nearest-double in both engines)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c).cast("double")


def dec_sum_sql(expr: str) -> str:
    """DuckDB twin of :func:`dec_sum` (DuckDB sums DECIMAL as
    DECIMAL(38,s) — exact; the VARCHAR hop keeps the terminal
    decimal→double conversion correctly rounded, see
    :func:`dec_to_double_sql`)."""
    return dec_to_double_sql(f"SUM({expr})")


def grid_dec_sum(term: Column) -> Column:
    """Exact SUM of a double term on the 12-dp grid, as double: the term
    is ``portable_round``-ed to 12 dp, cast to DECIMAL(38,12) and summed
    exactly. The iterative operators (ALS, PCA, linear probe) accumulate
    every product through it.

    portable_round BEFORE the decimal cast and a correctly-rounded
    terminal decimal->double: the sf1 exact sweep (round 10) caught a
    single 12-dp grid flip in one ALS factor — native round(double,12)
    half-tie semantics and DuckDB's two-step decimal->double are the two
    known engine-divergence classes, and an iterative chain cascades
    either one into its output. |term| must stay inside portable_round's
    2^53/10^12 bound (ALS terms are O(r·f) ≈ 1e3)."""
    return F.sum(portable_round(term, 12).cast("decimal(38,12)")).cast("double")


def portable_round(col: Column | str, scale: int) -> Column:
    """Engine-portable quantizer: ``floor(x*10^s + 0.5) / 10^s``.

    Native ``round(double, s)`` is NOT cross-engine-deterministic even
    when the quantum is far above ULP: Spark rounds the exact binary
    value (BigDecimal HALF_UP) while DuckDB double-rounds through
    ``x*10^s`` — on values that land exactly on a grid half-boundary
    (e.g. re-rounding a grid value scaled by a non-power-of-10) the two
    can legally disagree by one quantum (found live: embedding_top2_pca
    round(cv*0.125, 12)). This formula is a fixed chain of IEEE ops —
    multiply, add, floor, divide, each correctly rounded — so both
    engines produce the IDENTICAL double, halves resolving by the
    double-rounded scaled value in BOTH engines (half-up-toward-+inf on
    exact halves). Requires |x| < 2^53 / 10^s (Spark's floor returns
    BIGINT); assert the bound at the call site for large magnitudes.
    """
    c = F.col(col) if isinstance(col, str) else col
    f = F.lit(float(10**scale))
    return F.floor(c * f + F.lit(0.5)) / f


def portable_round_sql(expr: str, scale: int) -> str:
    """DuckDB twin of :func:`portable_round` — the same IEEE op chain.
    The factor is written in e-notation so BOTH parsers type it DOUBLE
    (DuckDB types ``1000000000000.0`` as DECIMAL, which would drag the
    multiply into decimal arithmetic)."""
    return f"(floor(({expr}) * 1e{scale} + 0.5) / 1e{scale})"


# NULL marker for change hashes. The reference coalesces NULL to ''
# (scd2_delta_vendors.py:42), which makes NULL<->'' edits hash-invisible
# and skips the new SCD2 version; encode NULL as a value no real string
# contains (NUL byte prefix) so such changes alter the hash.
NULL_HASH_MARKER = "\x00NULL"


def record_hash(cols: Sequence[str]) -> Column:
    """sha2-256 change hash over a column subset (reference F1:
    glue_jobs/scd2_delta_vendors.py:36-56). Cast-to-string first so any
    type participates; NULL encodes as NULL_HASH_MARKER, distinct from
    the empty string (deliberate fix of the reference's coalesce-to-''
    blindness)."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit(NULL_HASH_MARKER)) for c in cols]
    return F.sha2(F.concat_ws("||", *parts), 256)


def record_hash_md5(cols: Sequence[str]) -> Column:
    """md5 variant (reference F2: sql/scd/02_scd_procedures.sql:36-41)."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit(NULL_HASH_MARKER)) for c in cols]
    return F.md5(F.concat_ws("|", *parts))


def normalize_text(col: Column | str) -> Column:
    """MDM canonicalization (reference F8: normalize.py:7-13): lowercase,
    strip non-[a-z0-9 ], collapse whitespace, trim — all native exprs."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c.cast("string"))
    c = F.regexp_replace(c, "[^a-z0-9 ]", "")
    c = F.regexp_replace(c, "\\s+", " ")
    return F.trim(c)


def confidence_bucket(score: Column) -> Column:
    """Score → HIGH/MEDIUM/LOW bucket (reference F11: fuzzy_match.py:72-89)."""
    return (
        F.when(score >= 95.0, F.lit("HIGH"))
        .when(score >= 80.0, F.lit("MEDIUM"))
        .otherwise(F.lit("LOW"))
    )


def governance_action(bucket: Column) -> Column:
    """Bucket → action routing (reference fuzzy_match.py:79-89)."""
    return (
        F.when(bucket == "HIGH", F.lit("AUTO_MERGE"))
        .when(bucket == "MEDIUM", F.lit("STEWARD_REVIEW"))
        .otherwise(F.lit("NO_ACTION"))
    )


def longest_string(a: Column, b: Column) -> Column:
    """Longest-string survivorship (reference F12: fuzzy_match.py:121-131):
    golden field = the longer of the two, ties keep the first."""
    return F.when(F.length(F.coalesce(a, F.lit(""))) >= F.length(F.coalesce(b, F.lit(""))), a).otherwise(b)


def pct(numerator: Column, denominator: Column) -> Column:
    """Ratio metric as a rounded percentage (reference A8:
    glue_jobs/glue_mdm.py:63-65); NULL-safe on zero denominators."""
    return F.when(denominator == 0, F.lit(None).cast("double")).otherwise(
        F.round(numerator * 100.0 / denominator, 2)
    )
