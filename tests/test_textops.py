"""Unit tests for the text-analysis functions (functions/text.py) on
hand-built rows with known answers, plus lang-ID argmax semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.functions import text as T


def _one(spark, text, col):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(col.alias("v")).collect()[0]["v"]


def test_token_counts(spark):
    assert _one(spark, "  the quick  brown fox ", T.token_count_ws(F.col("text"))) == 4
    # letter runs + digits + punctuation counted separately
    assert _one(spark, "ab, cd! 9", T.token_count_bpe(F.col("text"))) == 5
    assert _one(spark, "a.b.c", T.punct_count(F.col("text"))) == 2


def test_stopword_and_markers(spark):
    assert _one(spark, "the cat the hat", T.stopword_count(F.col("text"))) == 2
    # marker_hits is distinct-based: repeated 'the' counts once
    assert _one(spark, "the cat the hat", T.marker_hits(F.col("text"), ["the", "cat"])) == 2


def test_lang_id_tie_breaks_to_first_list(spark):
    # 'de' appears in both es and zh marker lists; es is earlier.
    assert _one(spark, "de de de", T.lang_id(F.col("text"))) == "es"
    assert _one(spark, "the of and", T.lang_id(F.col("text"))) == "en"
    assert _one(spark, "der und das ist", T.lang_id(F.col("text"))) == "de"


def test_quality_score_bounds(spark):
    v = _one(spark, "the quick brown fox jumps over the lazy dog", T.quality_score(F.col("text")))
    assert 0.0 <= v <= 1.0


def test_fingerprint_stability(spark):
    """Fingerprint is a min-hash over char shingles: unchanged when the
    minimizing shingle survives an edit elsewhere, always 32 hex chars."""
    a = _one(spark, "abcdefghijklmnop", T.fingerprint("text"))
    assert len(a) == 32 and a == a.lower()
    # identical text -> identical fingerprint
    assert a == _one(spark, "abcdefghijklmnop", T.fingerprint("text"))


def test_bm25_ranks_tf_and_brevity(spark):
    """More query-term occurrences rank higher; at equal tf the shorter
    doc wins (length normalization)."""
    from nyc_taxi_data_engineering_spark.operators.search import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "apple apple apple pie"),
            (2, "apple banana cherry durian elderberry fig grape"),
            (3, "apple banana"),
            (4, "banana cherry"),
        ],
        "doc_id long, text string",
    )
    got = bm25_topk(docs, [("q", "apple")], k=4).collect()
    order = [r["doc_id"] for r in got]
    assert order[0] == 1  # highest tf
    assert order.index(3) < order.index(2)  # same tf, shorter doc first
    assert 4 not in order  # no query term -> no score
    assert [r["rank"] for r in got] == [1, 2, 3]


def test_gopher_gates_rule_by_rule(spark, tmp_path):
    """Each Gopher rule drops exactly the doc constructed to violate it:
    too-short, degenerate mean word length, no alphabetic words, no
    stopwords — and a plain English doc of 50+ words passes."""
    import os
    from nyc_taxi_data_engineering_spark.queries.textops import q_gopher_quality_gates

    # 60 words, stopword-rich, mean word length 50/12 ≈ 4.17 ∈ [3, 10]
    good = "the falcon glides over it and the meadow shines in warm light " * 5
    rows = [
        (1, good),
        (2, "the cat sat"),                      # < 50 words
        (3, "aa " * 60),                         # mean word length 2 < 3
        (4, ("1234 " * 12 + "the in is on a ") * 3),  # digits: alpha ratio < 0.8
        (5, "wombat " * 60),                     # zero stopword hits
    ]
    docs_dir = os.path.join(str(tmp_path), "documents.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(docs_dir)
    got = {r["doc_id"]: r for r in q_gopher_quality_gates(spark, str(tmp_path)).collect()}
    assert got[1]["keep"] is True
    assert got[2]["keep"] is False and got[2]["n_words"] < 50
    assert got[3]["keep"] is False and got[3]["mean_word_len"] < 3
    assert got[4]["keep"] is False and got[4]["alpha_word_ratio"] < 0.8
    assert got[5]["keep"] is False and got[5]["stopword_hits"] == 0


def test_pii_redaction_complete_and_counted(spark, sf_dir):
    """Every planted PII category is removed (residual re-scan = 0 on
    every doc) and detection finds real positives AND negatives."""
    from nyc_taxi_data_engineering_spark.queries.pii import (
        q_pii_detect_docs,
        q_pii_redact_docs,
    )

    red = q_pii_redact_docs(spark, sf_dir).collect()
    assert all(r["residual_pii"] == 0 for r in red)
    assert any(r["chars_removed"] > 0 for r in red)  # redaction really fired
    assert any(r["chars_removed"] == 0 for r in red)  # clean docs untouched

    det = q_pii_detect_docs(spark, sf_dir).collect()
    assert sum(r["emails"] for r in det) > 0
    assert sum(r["ccs"] for r in det) > 0
    total = sum(r["n_docs"] for r in det)
    with_pii = sum(r["docs_with_pii"] for r in det)
    assert 0 < with_pii < total  # mixed corpus, not all-or-nothing


def test_pii_patterns_no_cross_category_bleed(spark):
    """The redaction chain order keeps categories from eating each
    other's spans: a doc with all five planted shapes redacts to the
    five tokens exactly."""
    from nyc_taxi_data_engineering_spark.queries.pii import _redact_col

    txt = (
        "x card 1234 5678 9012 3456 ssn 123-45-6789 "
        "call (212) 555-0142 mail bob.smith+a@ex.co from 10.1.2.3 y"
    )
    df = spark.createDataFrame([(txt,)], "text string")
    out = df.select(_redact_col(F.col("text")).alias("r")).collect()[0]["r"]
    assert out == "x card <CC> ssn <SSN> call <PHONE> mail <EMAIL> from <IP> y"
