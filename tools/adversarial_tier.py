"""Build the ADVERSARIAL degenerate-input tier and sweep every oracle
against it.

The driver's correctness gate runs at sf0.01, where every key is dense,
every FK resolves, and every per-key series has plenty of observations —
so a whole class of latent divergence hides: ANSI divide-by-zero on
1-observation keys (Spark errors, DuckDB yields NULL/inf), pinned-ledger
oracles that silently assume referential integrity, version arithmetic
that assumes every DML statement matched rows. This tier makes all of
that happen ON PURPOSE:

- single-digit key cardinalities (4 suppliers, 10 customers/users),
- lineitem keeps its full supplier spread -> FK ORPHANS by design,
- 30-doc / 30-vector corpora (smaller than most K/topk constants),
- the final-two-months revenue window can hold a single day.

A query passes only if Spark and DuckDB AGREE on the degenerate input —
non-empty results are not required (empty = empty is a pass). The round-9
sweep caught three real issues, all fixed the same day:
  1. holt_recursive_sql_60d: es/(n-1) ANSI divide-by-zero on a 1-day
     window (same class the advisor flagged on the per-supplier Holt) —
     now CASE-guarded identically in both engines, plus every other
     mae division site.
  2. delta_cdf_feed_orders: hardcoded feed range [2,3] vs the engine's
     documented 0-row-DML-is-no-commit semantics — now clamps to the
     versions the statements actually committed.
  3. sql_workflow_checks: the oracle PINNED 'OK'/0 for the FK-orphan
     check, encoding a data assumption; the engine honestly reported
     202 violations. The oracle now computes each check from the data.

The EMPTY tier (--empty) escalates further: every fact table 0 rows,
dims intact. Its round-9 sweep caught nine more latent divergences in
one pass — NULL-typed counts breaking the dtype contract (funnel,
bootstrap CI), F.slice/element_at on the empty collected series (both
global Holts), ln(0) erroring in DuckDB but not Spark
(key_skew_diagnostics), ANSI divide-by-zero in the profiler's null_pct,
the ACF oracle losing its 7 anchored lag rows, a negative-sampler
precondition that should degrade to empty, a constraint-gate rejection
assert that is vacuous with nothing to reject — and one documented
engine deviation (Spark emits NO grand-total row for rollup/cube over
empty input where the standard emits one; pinned as the contract since
restoring it costs a second fact scan).

Usage:
  python tools/adversarial_tier.py            # build + full sweep (tiny)
  python tools/adversarial_tier.py --empty    # build + full sweep (empty facts)
  python tools/adversarial_tier.py --skew     # build + full sweep (hot keys)
  python tools/adversarial_tier.py --weird    # build + full sweep (hostile values)
  python tools/adversarial_tier.py --build [--empty|--skew|--weird]  # build only
Then: python tools/oracle_check.py .scale_data/{tiny,empty,skew,weird} [query ...]
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.001"
OUT = os.path.join(REPO, ".scale_data", "tiny")

# (table, SELECT) — dims stay intact (fixed size, as TPC-H scales them);
# fact cuts create the degeneracies described above.
CUTS = [
    ("region", "SELECT * FROM {src}"),
    ("nation", "SELECT * FROM {src}"),
    ("customer", "SELECT * FROM {src} WHERE c_custkey < 10"),
    ("supplier", "SELECT * FROM {src} WHERE s_suppkey < 4"),
    ("part", "SELECT * FROM {src} WHERE p_partkey < 40"),
    ("orders", "SELECT * FROM {src} WHERE o_custkey < 10"),
    # kept orders' lines with the FULL supplier spread: orphans on purpose
    (
        "lineitem",
        "SELECT l.* FROM {src} l WHERE l.l_orderkey IN "
        "(SELECT o_orderkey FROM read_parquet('" + SRC + "/orders.parquet') "
        "WHERE o_custkey < 10)",
    ),
    ("events", "SELECT * FROM {src} WHERE user_id < 10"),
    ("documents", "SELECT * FROM {src} WHERE doc_id < 30"),
    ("embeddings", "SELECT * FROM {src} WHERE vec_id < 30"),
]


OUT_EMPTY = os.path.join(REPO, ".scale_data", "empty")
_DIMS = ("region", "nation", "customer", "supplier", "part")
_FACTS = ("orders", "lineitem", "events", "documents", "embeddings")
EMPTY_CUTS = [(t, "SELECT * FROM {src}") for t in _DIMS] + [
    (t, "SELECT * FROM {src} WHERE 1=0") for t in _FACTS
]


# SKEW tier (VERDICT r10 task 8): a deliberately HOT key in every fact
# table, exercising the engine's skew levers' CORRECTNESS (salted aggs,
# degree caps, df caps, LSH bucket explosion) under the exact
# comparator — the plan-shape probes prove they keep plans bounded, this
# tier proves they still compute the right answer when one key owns half
# the table:
# - customer 0 owns ~50% of orders (every even orderkey),
# - supplier 0 supplies ~50% of lineitems,
# - user 0 emits ~50% of events,
# - the token 'zzhotzz' appears in ~90% of documents (df ~ 0.9·N blows
#   through every hot-shingle/anchor-choice heuristic),
# - ~50% of embeddings are the IDENTICAL vector (one LSH/IVF bucket
#   holds half the corpus; cosine ties everywhere).
# Rewrites keep FKs valid (key 0 exists in every dim) — unlike tiny,
# which tests orphans, this tier isolates skew alone.
OUT_SKEW = os.path.join(REPO, ".scale_data", "skew")
SKEW_CUTS = [
    ("region", "SELECT * FROM {src}"),
    ("nation", "SELECT * FROM {src}"),
    ("customer", "SELECT * FROM {src}"),
    ("supplier", "SELECT * FROM {src}"),
    ("part", "SELECT * FROM {src}"),
    (
        "orders",
        "SELECT * REPLACE (CASE WHEN o_orderkey % 2 = 0 THEN 0 "
        "ELSE o_custkey END AS o_custkey) FROM {src}",
    ),
    (
        "lineitem",
        "SELECT * REPLACE (CASE WHEN (l_orderkey + l_linenumber) % 2 = 0 "
        "THEN 0 ELSE l_suppkey END AS l_suppkey) FROM {src}",
    ),
    (
        "events",
        "SELECT * REPLACE (CASE WHEN event_id % 2 = 0 THEN 0 "
        "ELSE user_id END AS user_id) FROM {src}",
    ),
    (
        "documents",
        "SELECT * REPLACE (CASE WHEN doc_id % 10 < 9 "
        "THEN text || ' zzhotzz' ELSE text END AS text, "
        "CASE WHEN doc_id % 10 < 9 THEN n_chars + 8 "
        "ELSE n_chars END AS n_chars) FROM {src}",
    ),
    (
        "embeddings",
        "SELECT * REPLACE (CASE WHEN vec_id % 2 = 0 THEN "
        "(SELECT embedding FROM {src} WHERE vec_id = 1) "
        "ELSE embedding END AS embedding) FROM {src}",
    ),
]


# WEIRD tier (round 11): hostile VALUES, normal volume and key shape.
# tiny/empty attack cardinality, skew attacks distribution — this tier
# attacks the value domain itself, the third axis the driver's generated
# data never exercises: the generator emits well-formed ASCII text,
# unit-ish embeddings, positive money, and distinct timestamps, so none
# of the value-level guards (zero-norm cosine, empty-token text,
# 100%-discount revenue terms, window-order ties) have ever been forced
# under the exact comparator. Every mutation keeps keys unique, FKs
# valid, and generator INVARIANTS consistent (n_chars = length(text)):
# - documents: empty text / whitespace-only / single char / a 5000-char
#   single token (longer than any shingle-k or BPE merge window) /
#   non-Latin+emoji+RTL unicode / punctuation-only,
# - embeddings: an all-zero vector (norm 0 -> every cosine guard),
#   an all-equal 0.5 vector, an all-equal 2.0 vector (above-unit
#   magnitude). Larger constants were tried and REJECTED as domain
#   violations, not divergences — the boundary they mapped is itself
#   a documented result: at 1e6 the 64-dim PCA/GD iterates overflow
#   the DECIMAL(38,12) transport on both engines; at 1e3 the GD
#   probes' iterates pass ~4.5e3, where the 12-dp portable_round grid
#   drops below 1 ulp and stops pinning the cross-engine float chains
#   (outside the |x| < 2^52 * 1e-12 domain where a 1e-12 quantum
#   stays above 1 ulp). Unit-ish embeddings are the probes' documented domain;
#   2.0 stresses above-unit magnitude while staying inside it,
# - customer: empty name, unicode name, whitespace+apostrophe name
#   (MDM normalize/tokenize/similarity edge cases),
# - lineitem: 100% discount (revenue term exactly 0) and zero
#   extendedprice rows; orders: zero totalprice rows,
# - events: zero value, empty props (corrupt-JSON path), empty
#   event_type, and a CLUSTER of rows pinned to one identical timestamp
#   (every window/sessionization tie-break must be deterministic on
#   both engines, not arrival-order luck).
OUT_WEIRD = os.path.join(REPO, ".scale_data", "weird")
_WEIRD_DOC_TEXT = (
    "CASE WHEN doc_id % 13 = 1 THEN '' "
    "WHEN doc_id % 13 = 2 THEN '   ' "
    "WHEN doc_id % 13 = 3 THEN 'a' "
    "WHEN doc_id % 13 = 4 THEN repeat('x', 5000) "
    "WHEN doc_id % 13 = 5 THEN 'héllo 世界 🌍 مرحبا Straße ﬁ' "
    "WHEN doc_id % 13 = 6 THEN '!!! ... ??? ;;; --- ///' "
    # LONG unicode (~480 chars / ~880 UTF-8 bytes): clears every
    # byte-length gate (192-byte image raster, 128-sample audio frame,
    # 64-block fingerprint) so the image/audio/video modality paths run
    # the multi-byte case where ord(char) != byte — the divergence the
    # short unicode doc above cannot reach
    "WHEN doc_id % 13 = 7 THEN repeat('héllo 世界 🌍 ', 40) "
    "ELSE text END"
)
WEIRD_CUTS = [
    ("region", "SELECT * FROM {src}"),
    ("nation", "SELECT * FROM {src}"),
    (
        "customer",
        "SELECT * REPLACE (CASE WHEN c_custkey % 17 = 3 THEN '' "
        "WHEN c_custkey % 17 = 5 THEN 'Müller Ángel 世界' "
        "WHEN c_custkey % 17 = 7 THEN '  O''Brien-D''Arcy  ' "
        "ELSE c_name END AS c_name) FROM {src}",
    ),
    (
        # Multibyte + empty + whitespace SUPPLIER names: the MDM family
        # keys on s_name (customer mutations never reach it), and the
        # string-keyed distributed row number (distrank.string_lead)
        # feeds the first 8 BYTES of the name into ANSI conv() — a
        # class that r12 found can overflow on multibyte input. Keys
        # spread across %19 residues so mutated names land in different
        # SNM sort neighborhoods.
        "supplier",
        "SELECT * REPLACE (CASE WHEN s_suppkey % 19 = 4 THEN 'Müller Ángel 世界 GmbH' "
        "WHEN s_suppkey % 19 = 6 THEN '中文供应商株式会社' "
        "WHEN s_suppkey % 19 = 8 THEN '' "
        "WHEN s_suppkey % 19 = 10 THEN '  Ærø-Œuvre  ' "
        "ELSE s_name END AS s_name) FROM {src}",
    ),
    ("part", "SELECT * FROM {src}"),
    (
        "orders",
        "SELECT * REPLACE (CASE WHEN o_orderkey % 97 = 0 THEN 0.0 "
        "ELSE o_totalprice END AS o_totalprice) FROM {src}",
    ),
    (
        "lineitem",
        "SELECT * REPLACE ("
        "CASE WHEN l_orderkey % 101 = 0 THEN 1.0 ELSE l_discount END AS l_discount, "
        "CASE WHEN l_orderkey % 103 = 0 THEN 0.0 ELSE l_extendedprice END AS l_extendedprice"
        ") FROM {src}",
    ),
    (
        "events",
        "SELECT * REPLACE ("
        "CASE WHEN event_id % 89 = 0 THEN 0.0 ELSE value END AS value, "
        "CASE WHEN event_id % 97 = 0 THEN '' ELSE props END AS props, "
        "CASE WHEN event_id % 93 = 0 THEN '' ELSE event_type END AS event_type, "
        "CASE WHEN event_id % 91 = 0 THEN TIMESTAMP '2024-03-15 12:00:00' "
        "ELSE ts END AS ts"
        ") FROM {src}",
    ),
    (
        "documents",
        "SELECT doc_id, " + _WEIRD_DOC_TEXT + " AS text, lang, source, "
        "length(" + _WEIRD_DOC_TEXT + ") AS n_chars FROM {src}",
    ),
    (
        "embeddings",
        "SELECT * REPLACE (CASE "
        "WHEN vec_id % 11 = 1 THEN list_transform(embedding, x -> CAST(0.0 AS FLOAT)) "
        "WHEN vec_id % 11 = 2 THEN list_transform(embedding, x -> CAST(0.5 AS FLOAT)) "
        "WHEN vec_id % 11 = 3 THEN list_transform(embedding, x -> CAST(2.0 AS FLOAT)) "
        "ELSE embedding END AS embedding) FROM {src}",
    ),
]


def build(out: str, cuts: list[tuple[str, str]]) -> None:
    import duckdb

    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for table, sql in cuts:
        src = f"read_parquet('{SRC}/{table}.parquet')"
        con.execute(
            f"COPY ({sql.format(src=src)}) TO '{out}/{table}.parquet' (FORMAT PARQUET)"
        )
        n = con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{out}/{table}.parquet')"
        ).fetchone()[0]
        print(f"built {table}: {n} rows", file=sys.stderr)


def main() -> int:
    if "--weird" in sys.argv:
        out, cuts = OUT_WEIRD, WEIRD_CUTS
    elif "--skew" in sys.argv:
        out, cuts = OUT_SKEW, SKEW_CUTS
    elif "--empty" in sys.argv:
        out, cuts = OUT_EMPTY, EMPTY_CUTS
    else:
        out, cuts = OUT, CUTS
    build(out, cuts)
    if "--build" in sys.argv:
        return 0
    return subprocess.call(
        [sys.executable, os.path.join(REPO, "tools", "oracle_check.py"), out]
    )


if __name__ == "__main__":
    sys.exit(main())
