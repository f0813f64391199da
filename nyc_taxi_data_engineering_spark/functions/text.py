"""Text-analysis column functions for the large-scale training-data
pipeline extensions (SURVEY.md §7.2 M7 / BASELINE north star): token
counting, quality scoring, language ID, document fingerprinting.

Everything here is a **native Column expression** (JVM-side, inside
whole-stage codegen) — no Python UDFs in the hot path. Each function
has an exact DuckDB-SQL twin (``*_SQL`` builders below) so the oracle
harness can verify byte-identical semantics; the shared constants
(stopword lists, regexes, weights) live in this module only.

Scale notes: all expressions are per-row and shuffle-free; the only
aggregation-based op (SimHash, see operators/dedup.simhash) is built
on explode + hash-agg with map-side partial combine rather than 64
nested array scans per row, so it parallelizes by (doc, token) and
survives wide documents.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Shared constants (single source of truth for Spark exprs AND oracle SQL)
# ---------------------------------------------------------------------------

WS_RE = r"\s+"
# BPE-ish pre-tokenizer: letter runs | single digits | single punctuation.
BPE_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"
PUNCT_RE = r"[^A-Za-z0-9\s]"

# Marker-word lists for the n-gram/stopword language-ID heuristic.
# Order matters: ties resolve to the earliest list.
LANG_MARKERS: list[tuple[str, list[str]]] = [
    ("en", ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"]),
    ("es", ["el", "la", "de", "que", "y", "en", "un", "los", "se", "por"]),
    ("fr", ["le", "les", "des", "et", "une", "du", "est", "dans", "pour", "ce"]),
    ("de", ["der", "die", "und", "das", "von", "mit", "den", "ist", "im", "ein"]),
    ("zh", ["de", "shi", "zai", "le", "wo", "you", "he", "jiu", "bu", "ren"]),
]

STOPWORDS_EN = LANG_MARKERS[0][1]

# Quality-score weights (sum to 1.0): favor long, lexically diverse,
# low-punctuation documents with a plausible stopword rate.
QUALITY_W_LEN, QUALITY_W_TTR, QUALITY_W_PUNCT, QUALITY_W_STOP = 0.3, 0.3, 0.2, 0.2

FINGERPRINT_CHAR_K = 8  # char-shingle width for the rolling-hash fingerprint
SHINGLE_WORDS = 3  # word-shingle width for jaccard / minhash dedup
# 64-bit SimHash: bit b of a token's contribution is bit (3 - b%4) of
# hex nibble b//4 of the token's md5 — i.e. the first 64 bits of the
# digest read MSB-first per nibble. 64 bits (vs the round-3 32) keeps
# the block-combination candidate join's bucket keys ~33 bits wide, so
# candidate volume tracks true-pair density instead of the n²/128
# blowup 8-bit byte buckets hit on organic corpora (Manku et al.,
# WWW'07 — "Detecting near-duplicates for web crawling").
SIMHASH_BITS = 64


# ---------------------------------------------------------------------------
# Spark column expressions
# ---------------------------------------------------------------------------

def tokens(c: Column) -> Column:
    """Whitespace tokenization of trimmed text."""
    return F.split(F.trim(c), WS_RE)


def token_count_ws(c: Column) -> Column:
    return F.size(tokens(c))


def token_count_bpe(c: Column) -> Column:
    """BPE-ish token count: counts matches of the pre-tokenizer regex
    (letter runs, single digits, punctuation marks)."""
    return F.regexp_count(c, F.lit(BPE_RE))


def punct_count(c: Column) -> Column:
    return F.regexp_count(c, F.lit(PUNCT_RE))


def distinct_token_count(c: Column) -> Column:
    return F.size(F.array_distinct(tokens(c)))


def stopword_count(c: Column) -> Column:
    """Number of tokens (with multiplicity) in the stopword list."""
    arr = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    return F.size(F.filter(tokens(c), lambda t: F.array_contains(arr, t)))


def marker_hits(c: Column, words: list[str]) -> Column:
    """Distinct marker words present — the language-ID signal."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.array_intersect(F.array_distinct(tokens(c)), arr))


def lang_id(c: Column) -> Column:
    """Predicted language = argmax of marker hits, first-list tie-break.

    Expressed as a CASE chain over per-language hit counts so Spark and
    the SQL oracle share the exact tie semantics (>= against all later
    languages picks the earliest on ties).
    """
    hits = [marker_hits(c, ws) for _, ws in LANG_MARKERS]
    expr = F.lit(LANG_MARKERS[-1][0])
    for i in range(len(LANG_MARKERS) - 2, -1, -1):
        cond = None
        for j in range(i + 1, len(LANG_MARKERS)):
            c_ij = hits[i] >= hits[j]
            cond = c_ij if cond is None else (cond & c_ij)
        expr = F.when(cond, F.lit(LANG_MARKERS[i][0])).otherwise(expr)
    return expr


def quality_features(c: Column) -> dict[str, Column]:
    """Raw quality signals; each in [0, 1] after the caps below.

    Zero-length text (possible in real corpora; planted by the weird
    adversarial tier) makes ``punct_ratio`` 0/0 — which errors outright
    under ANSI mode rather than yielding NULL — so it is NULL BY
    CONTRACT on empty text, mirrored in :func:`sql_quality_score` and
    every oracle that divides by length(text). Token-denominator ratios
    need no guard: ``split(trim(''), '\\s+')`` is ``['']`` (size 1) on
    BOTH engines, so n_tokens is never 0."""
    n_tok = token_count_ws(c)
    return {
        "n_chars": F.length(c),
        "n_tokens": n_tok,
        "type_token_ratio": F.round(distinct_token_count(c) / n_tok, 6),
        "punct_ratio": F.when(
            F.length(c) > 0, F.round(punct_count(c) / F.length(c), 6)
        ),
        "stopword_ratio": F.round(stopword_count(c) / n_tok, 6),
    }


def quality_score(c: Column) -> Column:
    """Weighted quality score in [0, 1]:
    len_norm = min(n_tokens/100, 1), ttr, (1 - punct_ratio),
    stopword closeness to a 10% target. NULL on zero-length text (the
    punct term is 0/0 there — see quality_features); the LOW bucket
    then applies on both engines via identical CASE/NULL semantics."""
    n_tok = token_count_ws(c)
    len_norm = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    ttr = distinct_token_count(c) / n_tok
    punct = punct_count(c) / F.length(c)
    stop = stopword_count(c) / n_tok
    stop_close = F.lit(1.0) - F.least(F.abs(stop - F.lit(0.1)) * 2, F.lit(1.0))
    return F.when(
        F.length(c) > 0,
        F.round(
            F.lit(QUALITY_W_LEN) * len_norm
            + F.lit(QUALITY_W_TTR) * ttr
            + F.lit(QUALITY_W_PUNCT) * (F.lit(1.0) - punct)
            + F.lit(QUALITY_W_STOP) * stop_close,
            6,
        ),
    )


def quality_bucket(score: Column) -> Column:
    return (
        F.when(score >= 0.7, F.lit("HIGH"))
        .when(score >= 0.5, F.lit("MEDIUM"))
        .otherwise(F.lit("LOW"))
    )


def char_shingles(col_name: str) -> Column:
    """All FINGERPRINT_CHAR_K-char shingles (1-based substr, shorter text → whole text)."""
    return F.expr(
        f"transform(sequence(1, greatest(char_length({col_name}) - {FINGERPRINT_CHAR_K - 1}, 1)),"
        f" i -> substr({col_name}, i, {FINGERPRINT_CHAR_K}))"
    )


def fingerprint(col_name: str) -> Column:
    """Rolling-hash document fingerprint = min(md5(char k-shingle)).

    Equals a 1-permutation MinHash over char shingles: stable under
    small edits anywhere but the minimizing window."""
    return F.array_min(F.transform(char_shingles(col_name), F.md5))


def word_shingles_of(toks: Column, w: int = SHINGLE_WORDS) -> Column:
    """Distinct word w-grams from a PRE-TOKENIZED array column.

    ``toks`` must be a real attribute (its own projection), not an
    inline ``split`` expression — Catalyst's CollapseProject keeps a
    multi-referenced alias from being inlined into the lambda, so the
    split runs once per row instead of once per shingle."""
    seq = F.sequence(F.lit(1), F.greatest(F.size(toks) - (w - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(seq, lambda i: F.array_join(F.slice(toks, i, w), " "))
    )


def seeded_min_hash(shingles: Column, seed: int) -> Column:
    """min(md5("<seed>:" || shingle)) — one MinHash permutation.

    NB: the seed must be captured by a real closure, NOT a
    ``lambda s, i=i`` default — PySpark treats a two-parameter lambda
    as (element, index) and would bind the array index over the
    default, silently corrupting the seed."""
    prefix = f"{seed}:"
    return F.array_min(F.transform(shingles, lambda s: F.md5(F.concat(F.lit(prefix), s))))


def word_ngrams(toks: Column, n: int) -> Column:
    """All word n-grams (space-joined, with multiplicity, in order) of a
    token array; empty array when the doc has fewer than ``n`` tokens.
    Pure Column expression — evaluated inside whole-stage codegen, no
    UDF. The ``size >= n`` guard matters: ``sequence(1, 0)`` in Spark
    counts DOWN ([1, 0]), it is not empty like DuckDB's
    ``generate_series(1, 0)``."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# DuckDB-SQL twins (string builders used by the oracle registry)
# ---------------------------------------------------------------------------

def sql_tokens(col: str) -> str:
    return f"string_split_regex(trim({col}), '\\s+')"


def sql_word_ngrams(toks_expr: str, n: int) -> str:
    """DuckDB twin of :func:`word_ngrams`: list comprehension over
    1-based inclusive slices; ``generate_series(1, len-n+1)`` is
    empty when the doc is shorter than ``n`` tokens."""
    return (
        f"[array_to_string(({toks_expr})[i:i+{n - 1}], ' ') "
        f"for i in generate_series(1, len({toks_expr})-{n - 1})]"
    )


def sql_token_count_bpe(col: str) -> str:
    return f"len(regexp_extract_all({col}, '{BPE_RE}'))"


def sql_punct_count(col: str) -> str:
    return f"len(regexp_extract_all({col}, '{PUNCT_RE}'))"


def sql_stopword_count(col: str) -> str:
    lst = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    return f"len(list_filter({sql_tokens(col)}, t -> t IN ({lst})))"


def sql_marker_hits(col: str, words: list[str]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_intersect(list_distinct({sql_tokens(col)}), [{lst}]))"


def sql_lang_id(col: str) -> str:
    hits = [sql_marker_hits(col, ws) for _, ws in LANG_MARKERS]
    cases = []
    for i in range(len(LANG_MARKERS) - 1):
        conds = " AND ".join(f"({hits[i]}) >= ({hits[j]})" for j in range(i + 1, len(LANG_MARKERS)))
        cases.append(f"WHEN {conds} THEN '{LANG_MARKERS[i][0]}'")
    return "CASE " + " ".join(cases) + f" ELSE '{LANG_MARKERS[-1][0]}' END"


def sql_char_shingles(col: str) -> str:
    return (
        f"list_transform(range(1, greatest(length({col}) - {FINGERPRINT_CHAR_K - 1}, 1) + 1),"
        f" i -> substring({col}, i, {FINGERPRINT_CHAR_K}))"
    )


def sql_fingerprint(col: str) -> str:
    return f"list_min(list_transform({sql_char_shingles(col)}, s -> md5(s)))"


def sql_word_shingles(col: str) -> str:
    toks = sql_tokens(col)
    w = SHINGLE_WORDS
    return (
        f"list_distinct(list_transform(range(1, greatest(len({toks}) - {w - 1}, 1) + 1),"
        f" i -> array_to_string(list_slice({toks}, i, i + {w - 1}), ' ')))"
    )


def sql_minhash_signature(shingles_expr: str, num_hashes: int) -> list[str]:
    return [
        f"list_min(list_transform({shingles_expr}, s -> md5('{i}:' || s)))"
        for i in range(num_hashes)
    ]


def sql_simhash(col: str) -> str:
    """DuckDB twin of operators/dedup.simhash: per-bit ±1 token sums
    assembled into a signed BIGINT. Bit b of a token's contribution is
    bit (3 - b%4) of hex nibble b//4 of its md5 — the same mapping the
    Spark side decodes via conv() on 8-hex-char slices. Bit 63 carries
    the BIGINT sign weight -2^63 (spelled additively to dodge the
    unary-minus-overflows-first parse). O(bits) md5 calls per token is
    fine at oracle scale; the Spark side hashes each token once."""
    toks = sql_tokens(col)
    terms = []
    for b in range(SIMHASH_BITS):
        nib = f"(strpos('0123456789abcdef', substring(md5(t), {b // 4 + 1}, 1)) - 1)"
        bit_sum = (
            f"list_sum(list_transform({toks}, t -> CASE WHEN (({nib} >> {3 - b % 4}) & 1) = 1"
            f" THEN 1 ELSE -1 END))"
        )
        weight = "(-9223372036854775807 - 1)" if b == 63 else f"{1 << b}::BIGINT"
        terms.append(f"(CASE WHEN {bit_sum} >= 0 THEN {weight} ELSE 0::BIGINT END)")
    return "(" + " + ".join(terms) + ")"


def sql_quality_score(col: str) -> str:
    toks = sql_tokens(col)
    n_tok = f"len({toks})"
    ttr = f"(len(list_distinct({toks})) * 1.0 / {n_tok})"
    punct = f"({sql_punct_count(col)} * 1.0 / length({col}))"
    stop = f"({sql_stopword_count(col)} * 1.0 / {n_tok})"
    len_norm = f"least({n_tok} / 100.0, 1.0)"
    stop_close = f"(1.0 - least(abs({stop} - 0.1) * 2, 1.0))"
    # NULL on zero-length text — the punct term is 0/0 there (twin of
    # quality_score's F.when guard)
    return (
        f"CASE WHEN length({col}) > 0 THEN "
        f"round({QUALITY_W_LEN} * {len_norm} + {QUALITY_W_TTR} * {ttr}"
        f" + {QUALITY_W_PUNCT} * (1.0 - {punct}) + {QUALITY_W_STOP} * {stop_close}, 6)"
        f" END"
    )
