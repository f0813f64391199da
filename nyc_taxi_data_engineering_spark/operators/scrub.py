"""Content scrubbing for training-data curation: PII detection /
redaction and bad-word (blocklist) filtering, as pure native regex
Column expressions.

Beyond-reference extension (the reference has no content filtering;
its closest analogue is the validity CASE in `validations.py` — see
SURVEY §2.2). These are the gates every pretraining corpus passes
through before tokenization: C4 drops documents containing blocklist
words, and production pipelines redact emails / phone numbers / IP
addresses / SSNs before the text ever reaches a trainer.

Scale design:
- Every detector is a single `regexp_count` / `regexp_replace` over
  the text column — a narrow per-row projection inside whole-stage
  codegen. Scrubbing 100 TB costs one scan, no shuffle, no UDF.
- Patterns are restricted to the regex intersection of Java
  (Spark) and RE2 (DuckDB): character classes, bounded repetition,
  alternation, word boundaries — no lookaround, no backrefs. That
  keeps the oracle SQL (`len(regexp_extract_all(...))` /
  `regexp_replace(..., 'g')`) bit-identical to the Spark plan.
- The blocklist compiles to ONE alternation regex, not one pass per
  word: `\\b(w1|w2|...)\\b` scans the text once however long the
  list grows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Detector patterns — Java/RE2 common subset ONLY (no lookaround).
# These are curation-gate heuristics, not validators: they bound
# precision/recall at "good enough to gate a corpus" (e.g. the phone
# detector covers NANP dash/dot/space/paren layouts but not +1
# country codes; octet-checked ipv4 still accepts non-routable
# addresses). A deployment that needs stricter patterns edits
# PII_PATTERNS (the Spark side and the DuckDB twin both read it).
# Octets accept leading zeros ('007.0.0.1') — for a redaction gate,
# recall beats strictness: a leading-zero IP is still an IP to a log
# parser, and dropping it would silently leak it past the scrub.
_IPV4_OCTET = r"(25[0-5]|2[0-4]\d|[01]?\d?\d)"
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"(\(\d{3}\) ?|\b\d{3}[-. ])\d{3}[-. ]\d{4}\b",
    "ipv4": rf"\b{_IPV4_OCTET}(\.{_IPV4_OCTET}){{3}}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}

# Holds no replacement metacharacter ('$' or '\' in Java, '\' in
# RE2), so both engines' regexp_replace insert it verbatim.
REDACTION_TOKEN = "[PII]"

# Metacharacters shared by Java and RE2 — escaping exactly these keeps
# the pattern string portable to both engines (re.escape would emit
# escapes like '\~' that Java/RE2 treat differently from Python).
_REGEX_META = set("\\.^$*+?()[]{}|")


def _escape_word(word: str) -> str:
    return "".join("\\" + ch if ch in _REGEX_META else ch for ch in word)


def pattern_counts(col: Column) -> dict[str, Column]:
    """Per-pattern match counts (``{name: Column}``), one
    ``regexp_count`` each — all JVM-side."""
    return {name: F.regexp_count(col, F.lit(pat)) for name, pat in PII_PATTERNS.items()}


def scrub(col: Column) -> Column:
    """Redact every match of every pattern with ``REDACTION_TOKEN``.
    Patterns are applied in dict order (stable), each as one global
    ``regexp_replace`` pass."""
    out = col
    for pat in PII_PATTERNS.values():
        out = F.regexp_replace(out, pat, REDACTION_TOKEN)
    return out


def _word_char(ch: str) -> bool:
    return ch.isascii() and (ch.isalnum() or ch == "_")


def _anchored_word(word: str) -> str:
    """Escape one blockword and anchor it with ``\\b`` only on edges
    that are word characters. ``\\b`` asserts a word↔non-word
    transition, so anchoring an edge that is itself a non-word char
    (the '+' in 'c++') makes the word unmatchable — 'c++' becomes
    ``\\bc\\+\\+`` (boundary on the left only), 'a.b' keeps both."""
    pre = r"\b" if _word_char(word[0]) else ""
    post = r"\b" if _word_char(word[-1]) else ""
    return pre + _escape_word(word) + post


def blocklist_pattern(words: Sequence[str]) -> str:
    """One case-insensitive alternation over the blocklist (C4's
    bad-words gate is case-insensitive). Words are regex-escaped, so
    'c++' or 'a.b' match literally; word boundaries are per-word and
    side-conditional (see ``_anchored_word`` — RE2 has no lookbehind,
    so this is the portable way to keep metachar-edged words
    matchable).

    Case folding caveat: ``(?i)`` is ASCII-only in Java regex but full
    Unicode in RE2/DuckDB, so non-ASCII blockwords ('naïve' vs
    'NAÏVE') would diverge between the Spark plan and the oracle.
    Rejected here to preserve the module's bit-identical claim —
    lowercase both text and words upstream if a deployment needs
    Unicode blockwords."""
    if not words:
        raise ValueError("blocklist_pattern: words must be non-empty")
    for w in words:
        if not w:
            raise ValueError("blocklist_pattern: empty blockword")
        if not w.isascii():
            raise ValueError(
                f"blocklist_pattern: non-ASCII blockword {w!r} — (?i) case "
                "folding differs between Java (ASCII-only) and RE2 (Unicode); "
                "lowercase text and words upstream instead"
            )
    return "(?i)(" + "|".join(_anchored_word(w) for w in words) + ")"


def blocklist_hits(col: Column, words: Sequence[str]) -> Column:
    """Total blocklist occurrences in ``col`` (single regex pass)."""
    return F.regexp_count(col, F.lit(blocklist_pattern(words)))


def scrub_audit(df: DataFrame, text_col: str, blockwords: Sequence[str]) -> DataFrame:
    """Curation-gate audit: per-row PII counts, blocklist hits, the
    C4-style keep/drop action (drop on any blocklist hit), and the
    post-redaction length. Adds columns
    ``<name>_count`` per pattern, ``blocklist_hits``, ``action``,
    ``scrubbed_chars``."""
    c = F.col(text_col)
    out = df
    for name, cnt in pattern_counts(c).items():
        out = out.withColumn(f"{name}_count", cnt)
    hits = blocklist_hits(c, blockwords)
    return (
        out.withColumn("blocklist_hits", hits)
        .withColumn(
            "action",
            F.when(hits > 0, F.lit("drop")).otherwise(F.lit("keep")),
        )
        .withColumn("scrubbed_chars", F.length(scrub(c)))
    )


# --- DuckDB oracle twins -------------------------------------------------


def _sql_quote(pat: str) -> str:
    # DuckDB string literals are escape-free (standard SQL): a backslash
    # is a literal backslash, so regex patterns pass through verbatim —
    # only embedded quotes need doubling.
    return "'" + pat.replace("'", "''") + "'"


def pattern_count_sql(text_expr: str, pattern: str) -> str:
    return f"len(regexp_extract_all({text_expr}, {_sql_quote(pattern)}))"


def scrub_sql(text_expr: str) -> str:
    out = text_expr
    for pat in PII_PATTERNS.values():
        out = f"regexp_replace({out}, {_sql_quote(pat)}, {_sql_quote(REDACTION_TOKEN)}, 'g')"
    return out


def blocklist_hits_sql(text_expr: str, words: Sequence[str]) -> str:
    return pattern_count_sql(text_expr, blocklist_pattern(words))
