"""PII detection and redaction over the ``documents`` table — the
scrubbing pass every LLM training-data pipeline runs before text
leaves the curation tier.

The synthetic corpus has no real PII, so each query PLANTS a
deterministic contact block derived from ``doc_id`` arithmetic (the
same trick the geo family uses for md5-derived coordinates): roughly
one doc in three gains an email, one in four a US phone, one in five
an SSN, one in six an IPv4, one in seven a spaced credit-card number —
all pure integer/concat expressions both engines evaluate identically,
so detection has real positives AND real negatives to classify.

Exactness contract:
- ONE pattern table (``PATTERNS``) feeds both engines. Patterns are
  RE2-compatible (no lookaround, no backreferences) so Java regex
  (Spark) and RE2 (DuckDB) agree; `\\b` is the ASCII word boundary in
  both.
- Counts are ``size(regexp_extract_all(...))`` / ``len(regexp_extract_all(...))``.
- Redaction chains one ``regexp_replace`` per category in a FIXED
  order (CC before phone/SSN so the 4-digit groups are consumed
  first); DuckDB needs the explicit ``'g'`` flag to match Spark's
  replace-all default.
- The redacted text itself sits under the hash gate via ``md5``.

100 TB: detection and redaction are per-row native regex in
whole-stage codegen — no shuffle at all for the redact pass; the
detect pass ends in one hash agg keyed by (lang, source). Pattern
count is fixed, so cost is O(rows × text length) with zero skew
sensitivity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table_parallel as load_table
from nyc_taxi_data_engineering_spark.queries.registry import query

# (category, RE2-and-Java-compatible pattern, replacement token).
# Order matters for redaction: credit cards first (their 4-digit groups
# would otherwise be half-eaten by the phone pattern), then the fully
# anchored numeric shapes, then email and IP.
PATTERNS: list[tuple[str, str, str]] = [
    ("cc", r"\b\d{4} \d{4} \d{4} \d{4}\b", "<CC>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\(\d{3}\) \d{3}-\d{4}", "<PHONE>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def _planted_sql() -> str:
    """SQL expression for the text with the deterministic PII block
    appended — identical syntax runs in both engines (|| concat,
    CAST, lpad, %)."""
    d = "doc_id"
    email = (
        f"CASE WHEN {d} % 3 = 0 THEN ' contact user' || CAST({d} % 97 AS STRING)"
        f" || '@mail' || CAST({d} % 7 AS STRING) || '.com' ELSE '' END"
    )
    phone = (
        f"CASE WHEN {d} % 4 = 1 THEN ' call (' || CAST(200 + {d} % 700 AS STRING)"
        f" || ') ' || CAST(200 + {d} % 800 AS STRING) || '-'"
        f" || lpad(CAST({d} % 10000 AS STRING), 4, '0') ELSE '' END"
    )
    ssn = (
        f"CASE WHEN {d} % 5 = 2 THEN ' ssn ' || lpad(CAST({d} % 900 AS STRING), 3, '0')"
        f" || '-' || lpad(CAST({d} % 90 AS STRING), 2, '0')"
        f" || '-' || lpad(CAST({d} % 9000 AS STRING), 4, '0') ELSE '' END"
    )
    ipv4 = (
        f"CASE WHEN {d} % 6 = 3 THEN ' from 10.' || CAST({d} % 256 AS STRING)"
        f" || '.' || CAST(({d} * 7) % 256 AS STRING)"
        f" || '.' || CAST(({d} * 13) % 256 AS STRING) ELSE '' END"
    )
    cc = (
        f"CASE WHEN {d} % 7 = 4 THEN ' card ' || lpad(CAST({d} % 9000 AS STRING), 4, '0')"
        f" || ' ' || lpad(CAST(({d} * 3) % 9000 AS STRING), 4, '0')"
        f" || ' ' || lpad(CAST(({d} * 5) % 9000 AS STRING), 4, '0')"
        f" || ' ' || lpad(CAST(({d} * 11) % 9000 AS STRING), 4, '0') ELSE '' END"
    )
    return f"(text || {email} || {phone} || {ssn} || {ipv4} || {cc})"


def _planted_col() -> Column:
    return F.expr(_planted_sql())


def _count_col(text: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0)))


def _count_sql(expr: str, pattern: str) -> str:
    # DuckDB single-quoted literals take backslashes literally.
    return f"len(regexp_extract_all({expr}, '{pattern}'))"


def _redact_col(text: Column) -> Column:
    out = text
    for _, pat, tok in PATTERNS:
        out = F.regexp_replace(out, pat, tok)
    return out


def _redact_sql(expr: str) -> str:
    out = expr
    for _, pat, tok in PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '{tok}', 'g')"
    return out


_P = _planted_sql()
_DETECT_ORACLE = f"""
WITH planted AS (SELECT doc_id, lang, source, {_P} AS ptext FROM documents),
counted AS (
    SELECT lang, source,
           {_count_sql('ptext', PATTERNS[3][1])} AS n_email,
           {_count_sql('ptext', PATTERNS[2][1])} AS n_phone,
           {_count_sql('ptext', PATTERNS[1][1])} AS n_ssn,
           {_count_sql('ptext', PATTERNS[4][1])} AS n_ipv4,
           {_count_sql('ptext', PATTERNS[0][1])} AS n_cc
    FROM planted
)
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_email + n_phone + n_ssn + n_ipv4 + n_cc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
       CAST(SUM(n_email) AS BIGINT) AS emails,
       CAST(SUM(n_phone) AS BIGINT) AS phones,
       CAST(SUM(n_ssn) AS BIGINT) AS ssns,
       CAST(SUM(n_ipv4) AS BIGINT) AS ipv4s,
       CAST(SUM(n_cc) AS BIGINT) AS ccs
FROM counted
GROUP BY lang, source
ORDER BY lang, source
"""


@query("pii_detect_docs", oracle=_DETECT_ORACLE)
def q_pii_detect_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (lang, source): docs scanned, docs containing any PII, and
    per-category match counts over the deterministically planted
    corpus. One codegen'd regex pass + one hash agg."""
    docs = load_table(spark, sf_dir, "documents")
    pt = _planted_col()
    counted = docs.select(
        "lang",
        "source",
        _count_col(pt, PATTERNS[3][1]).alias("n_email"),
        _count_col(pt, PATTERNS[2][1]).alias("n_phone"),
        _count_col(pt, PATTERNS[1][1]).alias("n_ssn"),
        _count_col(pt, PATTERNS[4][1]).alias("n_ipv4"),
        _count_col(pt, PATTERNS[0][1]).alias("n_cc"),
    )
    any_pii = (
        F.col("n_email") + F.col("n_phone") + F.col("n_ssn") + F.col("n_ipv4") + F.col("n_cc")
        > 0
    ).cast("int")
    return (
        counted.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(any_pii).cast("bigint").alias("docs_with_pii"),
            F.sum("n_email").cast("bigint").alias("emails"),
            F.sum("n_phone").cast("bigint").alias("phones"),
            F.sum("n_ssn").cast("bigint").alias("ssns"),
            F.sum("n_ipv4").cast("bigint").alias("ipv4s"),
            F.sum("n_cc").cast("bigint").alias("ccs"),
        )
        .orderBy("lang", "source")
    )


_REDACTED = _redact_sql("ptext")
_REDACT_ORACLE = f"""
WITH planted AS (SELECT doc_id, {_P} AS ptext FROM documents),
red AS (
    SELECT doc_id, ptext, {_REDACTED} AS rtext
    FROM planted
)
SELECT doc_id,
       md5(rtext) AS redacted_md5,
       length(ptext) - length(rtext) AS chars_removed,
       {_count_sql('rtext', PATTERNS[3][1])}
       + {_count_sql('rtext', PATTERNS[2][1])}
       + {_count_sql('rtext', PATTERNS[1][1])}
       + {_count_sql('rtext', PATTERNS[4][1])}
       + {_count_sql('rtext', PATTERNS[0][1])} AS residual_pii
FROM red
ORDER BY doc_id
"""


@query("pii_redact_docs", oracle=_REDACT_ORACLE)
def q_pii_redact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact every PII category (fixed chain order) and audit the
    result: md5 of the redacted text (value-exact under the hash
    gate), characters removed, and a residual re-scan that must come
    back 0. Shuffle-free — pure per-row codegen + the output sort."""
    docs = load_table(spark, sf_dir, "documents")
    pt = _planted_col()
    red = docs.select("doc_id", pt.alias("ptext")).withColumn("rtext", _redact_col(F.col("ptext")))
    residual = None
    for _, pat, _tok in PATTERNS:
        c = _count_col(F.col("rtext"), pat)
        residual = c if residual is None else residual + c
    return red.select(
        "doc_id",
        F.md5(F.col("rtext")).alias("redacted_md5"),
        (F.length("ptext") - F.length("rtext")).cast("bigint").alias("chars_removed"),
        residual.cast("bigint").alias("residual_pii"),
    ).orderBy("doc_id")


KANON_K = 5  # groups smaller than k are re-identifiable
KANON_BAL_BUCKETS = 10


@query(
    "k_anonymity_audit_customers",
    oracle=f"""
WITH qi AS (
    SELECT c_nationkey, c_mktsegment,
           CAST(LEAST({KANON_BAL_BUCKETS - 1}, GREATEST(0,
               CAST(floor((c_acctbal + 1000.0) / 1200.0) AS BIGINT))) AS BIGINT)
             AS bal_bucket,
           CASE WHEN c_acctbal < 0.0 THEN 'overdrawn' ELSE 'funded' END AS sensitive
    FROM customer
),
g AS (
    SELECT c_nationkey, c_mktsegment, bal_bucket,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CAST(COUNT(DISTINCT sensitive) AS BIGINT) AS l_diversity
    FROM qi GROUP BY c_nationkey, c_mktsegment, bal_bucket
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN group_size < {KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS groups_below_k,
       CAST(SUM(CASE WHEN group_size < {KANON_K} THEN group_size ELSE 0 END) AS BIGINT)
         AS customers_at_risk,
       CAST(MIN(group_size) AS BIGINT) AS k_anonymity,
       CAST(SUM(CASE WHEN l_diversity < 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS homogeneous_groups,
       CAST(SUM(CASE WHEN group_size < {KANON_K} THEN group_size ELSE 0 END) AS DOUBLE)
         / CAST(SUM(group_size) AS DOUBLE) AS at_risk_rate
FROM g
""",
)
def q_k_anonymity_audit_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit over the quasi-identifier tuple
    (nation, market segment, balance bucket) — the privacy readout a
    release pipeline checks BEFORE publishing "anonymized" data: the
    dataset's k (its smallest QI group), how many groups and customers
    sit below k={KANON_K} (re-identifiable by QI join), and how many
    groups are l<2 homogeneous in the sensitive attribute (everyone in
    the group shares it, so the QI alone discloses it — the
    homogeneity attack k-anonymity misses). Bucketing the balance is
    itself the generalization step of the k-anonymization loop; all
    counts are exact integers, one terminal rate division.

    Scale: one hash agg over the QI tuple + one 1-row rollup —
    auditing 100 TB costs one shuffle of group-sized state."""
    c = load_table(spark, sf_dir, "customer")
    qi = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.least(
            F.lit(KANON_BAL_BUCKETS - 1),
            F.greatest(
                F.lit(0),
                F.floor((F.col("c_acctbal") + F.lit(1000.0)) / F.lit(1200.0)).cast(
                    "bigint"
                ),
            ),
        )
        .cast("bigint")
        .alias("bal_bucket"),
        F.when(F.col("c_acctbal") < 0.0, "overdrawn")
        .otherwise("funded")
        .alias("sensitive"),
    )
    g = qi.groupBy("c_nationkey", "c_mktsegment", "bal_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("group_size"),
        F.countDistinct("sensitive").cast("bigint").alias("l_diversity"),
    )
    below = F.when(F.col("group_size") < KANON_K, F.col("group_size")).otherwise(0)
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("group_size") < KANON_K, 1).otherwise(0))
        .cast("bigint")
        .alias("groups_below_k"),
        F.sum(below).cast("bigint").alias("customers_at_risk"),
        F.min("group_size").cast("bigint").alias("k_anonymity"),
        F.sum(F.when(F.col("l_diversity") < 2, 1).otherwise(0))
        .cast("bigint")
        .alias("homogeneous_groups"),
        (F.sum(below).cast("double") / F.sum("group_size").cast("double")).alias(
            "at_risk_rate"
        ),
    )
