"""PII scrubbing on a constructed fixture (the synthetic corpus has no
digits/emails, so the driver query only proves the zero case): detector
counts, redaction output, blocklist gating — Spark vs hand-computed
expectations AND the DuckDB oracle twins on the same rows."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.operators import scrub as S

ROWS = [
    (1, "contact me at alice@example.com or bob.smith+x@mail.co today"),
    (2, "call 555-867-5309 or 555.867.5309; ssn 123-45-6789 on file"),
    (3, "server at 10.0.0.1 and 192.168.254.254 are up"),
    (4, "nothing sensitive here, just words"),
    (5, "badword here: dup dup slow, and a duplicate (no boundary hit)"),
    (6, "call (555) 867-5309 or 555 867 5309 instead"),
    (7, "bogus hosts 999.999.999.999 and 256.300.1.1 but real 8.8.8.8"),
    (8, "case test: Dup SLOW dUp, plus meta c++ and a.b tokens"),
]
EXPECTED = {
    # doc_id: (email, phone, ipv4, ssn, blocklist_hits)
    1: (2, 0, 0, 0, 0),
    2: (0, 2, 0, 1, 0),
    3: (0, 0, 2, 0, 0),
    4: (0, 0, 0, 0, 0),
    5: (0, 0, 0, 0, 3),
    6: (0, 2, 0, 0, 0),
    7: (0, 0, 1, 0, 0),
    8: (0, 0, 0, 0, 3),
}
BLOCKWORDS = ("dup", "slow")


@pytest.fixture(scope="module")
def audited(spark):
    df = spark.createDataFrame(ROWS, ["doc_id", "text"])
    return {
        r["doc_id"]: r
        for r in S.scrub_audit(df, "text", BLOCKWORDS).collect()
    }


def test_detector_counts(audited):
    for doc_id, (email, phone, ipv4, ssn, hits) in EXPECTED.items():
        r = audited[doc_id]
        got = (r["email_count"], r["phone_count"], r["ipv4_count"], r["ssn_count"], r["blocklist_hits"])
        assert got == (email, phone, ipv4, ssn, hits), doc_id


def test_keep_drop_action(audited):
    assert {d: r["action"] for d, r in audited.items()} == {
        1: "keep", 2: "keep", 3: "keep", 4: "keep", 5: "drop",
        6: "keep", 7: "keep", 8: "drop",
    }


def test_redaction_output(spark):
    df = spark.createDataFrame(ROWS, ["doc_id", "text"])
    red = {
        r["doc_id"]: r["red"]
        for r in df.select("doc_id", S.scrub(F.col("text")).alias("red")).collect()
    }
    assert red[1] == "contact me at [PII] or [PII] today"
    assert red[2] == "call [PII] or [PII]; ssn [PII] on file"
    assert red[3] == "server at [PII] and [PII] are up"
    assert red[4] == ROWS[3][1]  # untouched


def test_blocklist_rejects_empty_and_escapes_meta():
    with pytest.raises(ValueError):
        S.blocklist_pattern(())
    pat = S.blocklist_pattern(("c++", "a.b"))
    assert r"c\+\+" in pat and r"a\.b" in pat and pat.startswith("(?i)")


def test_metachar_blockwords_match_literally(spark):
    df = spark.createDataFrame(
        [(1, "we ship c++ here"), (2, "acb is not a.b"), (3, "A.B upper")],
        ["doc_id", "text"],
    )
    hits = {
        r["doc_id"]: r["h"]
        for r in df.select(
            "doc_id", S.blocklist_hits(F.col("text"), ("c++", "a.b")).alias("h")
        ).collect()
    }
    # 'acb' must NOT match 'a.b' (dot escaped); 'A.B' matches case-insensitively.
    assert hits == {1: 1, 2: 1, 3: 1}
    # The RE2/DuckDB twin must agree on every row (side-conditional \b
    # anchors are exactly the Java/RE2-portable construction).
    con = duckdb.connect()
    sql = S.blocklist_hits_sql("?", ("c++", "a.b"))
    for doc_id, text in [(1, "we ship c++ here"), (2, "acb is not a.b"), (3, "A.B upper")]:
        assert con.execute(f"SELECT {sql}", [text]).fetchone()[0] == hits[doc_id], doc_id


def test_blocklist_rejects_non_ascii():
    with pytest.raises(ValueError, match="non-ASCII"):
        S.blocklist_pattern(("naïve",))
    with pytest.raises(ValueError, match="empty"):
        S.blocklist_pattern(("ok", ""))


def test_oracle_twins_match_spark(spark):
    """The DuckDB SQL generators must reproduce the Spark results
    row-for-row on the fixture (the corpus-level query only covers the
    zero-match case for PII)."""
    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", ROWS)
    count_cols = ", ".join(
        f"{S.pattern_count_sql('text', pat)} AS {name}_count"
        for name, pat in S.PII_PATTERNS.items()
    )
    duck_rows = {
        r[0]: r[1:]
        for r in con.execute(
            f"SELECT doc_id, {count_cols}, "
            f"{S.blocklist_hits_sql('text', BLOCKWORDS)} AS hits, "
            f"{S.scrub_sql('text')} AS red FROM docs"
        ).fetchall()
    }
    df = spark.createDataFrame(ROWS, ["doc_id", "text"])
    spark_rows = {
        r["doc_id"]: (
            r["email_count"], r["phone_count"], r["ipv4_count"], r["ssn_count"],
            r["blocklist_hits"], r["red"],
        )
        for r in S.scrub_audit(df, "text", BLOCKWORDS)
        .withColumn("red", S.scrub(F.col("text")))
        .collect()
    }
    assert {k: tuple(v) for k, v in duck_rows.items()} == spark_rows
