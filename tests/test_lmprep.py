"""Behavior invariants for the LM-data-prep queries (queries/lmprep.py)
beyond oracle parity: chunk coverage/overlap algebra and unigram-LM
OOV accounting."""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table
from nyc_taxi_data_engineering_spark.functions import text as T
from nyc_taxi_data_engineering_spark.queries import run
from nyc_taxi_data_engineering_spark.queries.lmprep import (
    CHUNK_STRIDE,
    CHUNK_TOKENS,
    UNIGRAM_TOPK,
)
from nyc_taxi_data_engineering_spark.queries.unigramq import MAX_PIECE, PIECE_SCORES


def viterbi_reference(word: str) -> tuple[int, int]:
    """Driver-side reference Viterbi (score_micro, n_pieces) for
    tests: same pinned model, independent implementation."""
    best: list[tuple[int, int] | None] = [None] * (len(word) + 1)
    best[0] = (0, 0)
    for i in range(1, len(word) + 1):
        for j in range(max(0, i - MAX_PIECE), i):
            if best[j] is None:
                continue
            s = PIECE_SCORES.get(word[j:i])
            if s is None:
                continue
            cand = (best[j][0] + s, best[j][1] + 1)
            # maximize score; tie -> fewer pieces
            if best[i] is None or (cand[0], -cand[1]) > (best[i][0], -best[i][1]):
                best[i] = cand
    assert best[len(word)] is not None
    return best[len(word)]


def test_chunks_cover_every_token_exactly(spark, sf_dir):
    """Stitching chunk [start, start+n) spans back together must cover
    [1, n_doc_tokens] with no gap: consecutive chunks overlap by
    W - S tokens and the last chunk ends exactly at the doc length."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(T.tokens(F.col("text"))).alias("n_doc_tokens")
    )

    def violations(chunks) -> tuple[int, int]:
        per_doc = (
            chunks.groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_chunks"),
                F.max(F.col("start_token") + F.col("n_tokens") - 1).alias("last_covered"),
                F.min("start_token").alias("first_start"),
                F.max("n_tokens").alias("max_chunk"),
            )
            .join(docs, "doc_id")
        )
        bad = per_doc.filter(
            (F.col("first_start") != 1)
            | (F.col("last_covered") != F.col("n_doc_tokens"))
            | (F.col("max_chunk") > CHUNK_TOKENS)
        )
        # consecutive starts differ by exactly the stride
        stride_bad = (
            chunks.select(
                "doc_id",
                (F.col("start_token") - F.col("chunk_id") * CHUNK_STRIDE).alias("base"),
            )
            .filter(F.col("base") != 1)
            .count()
        )
        return bad.count(), stride_bad

    (bad, stride_bad), _ = run(spark, "doc_chunks_rag", sf_dir, violations)
    assert bad == 0
    assert stride_bad == 0


def test_chunk_hash_matches_text(spark, sf_dir):
    mismatched, _ = run(
        spark,
        "doc_chunks_rag",
        sf_dir,
        lambda chunks: chunks.filter(F.md5(F.col("chunk_text")) != F.col("chunk_hash")).count(),
    )
    assert mismatched == 0


def test_unigram_token_accounting(spark, sf_dir):
    """Per-doc token counts must add back up to the corpus token count,
    and with K below the true vocab size the OOV path must actually
    fire (the constant is sized for that on the synthetic corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus_tokens = (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("t"))
        .filter(F.length("t") > 0)
        .count()
    )
    row, _ = run(
        spark,
        "unigram_lm_scores",
        sf_dir,
        lambda scores: scores.agg(
            F.sum("n_tokens").alias("total"),
            F.sum("n_oov").alias("oov"),
            F.countDistinct("ppl_bucket").alias("buckets"),
        ).collect()[0],
    )
    assert row["total"] == corpus_tokens
    vocab = (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("t"))
        .filter(F.length("t") > 0)
        .select("t")
        .distinct()
        .count()
    )
    if vocab > UNIGRAM_TOPK:
        assert row["oov"] > 0
    assert 1 <= row["buckets"] <= 3


def test_unigram_scores_positive_and_bounded(spark, sf_dir):
    """-ln p is positive and can't exceed -ln(1/N) for any token."""
    import math

    docs = load_table(spark, sf_dir, "documents")
    n = (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("t"))
        .filter(F.length("t") > 0)
        .count()
    )
    (non_positive, above_bound), _ = run(
        spark,
        "unigram_lm_scores",
        sf_dir,
        lambda scores: (
            scores.filter(F.col("avg_neg_logp") <= 0).count(),
            scores.filter(F.col("avg_neg_logp") > math.log(n)).count(),
        ),
    )
    assert non_positive == 0
    assert above_bound == 0


def test_unigram_viterbi_matches_reference_dp(spark, sf_dir):
    """The expression-space Viterbi must agree with an independent
    driver-side DP on every corpus word (score AND piece count,
    including the fewer-pieces tie-break), and the pinned model must
    make multi-char pieces actually win."""
    from nyc_taxi_data_engineering_spark.queries.unigramq import q_unigram_tokenize_words

    rows = q_unigram_tokenize_words(spark, sf_dir).collect()
    assert len(rows) > 10
    by_word = {}
    for r in rows:
        ref_score, ref_pieces = viterbi_reference(r["word"])
        assert (r["score_micro"], r["n_pieces"]) == (ref_score, ref_pieces), r["word"]
        by_word[r["word"]] = r
    assert by_word["join"]["n_pieces"] == 1  # whole-word piece wins
    # no word does worse than all-singles (chars are a complete
    # fallback), and the model's pieces make MOST words strictly better
    better = 0
    for w, r in by_word.items():
        assert r["score_micro"] >= len(w) * -3_000_000
        better += r["score_micro"] > len(w) * -3_000_000
    assert better >= len(by_word) * 2 // 3
