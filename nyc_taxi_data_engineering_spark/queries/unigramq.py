"""Unigram-LM (SentencePiece-style) Viterbi tokenization under the
exact oracle gate — the second tokenizer family beside BPE
(bpe_merge_candidates / bpe_tokenize_docs): segment every corpus word
into the maximum-likelihood piece sequence under a PINNED unigram
piece model.

Exactness contract (how a max-sum DP survives the bit-exact gate):
- Piece log-probs are pinned INTEGER micro-log scores (the ALS
  discount-literal precedent: a trained model's parameters enter as
  literals both engines read identically) — the whole Viterbi
  recursion is integer addition and ``greatest``.
- Score and token count fold into ONE integer DP key,
  ``64*score_micro - n_pieces``: maximizing the key maximizes score
  first and prefers FEWER pieces on ties (counts < 64, distinct
  scores differ by >= 64 after scaling), so tie-breaking is exact and
  engine-independent. The per-step constant ``64*s(piece) - 1`` is
  precomputed in Python, so every DP cell is ``k_j + C`` on BIGINT.
- The recursion unrolls as chained projections over the DISTINCT-word
  table (v_1..v_8 for the corpus's <= 8-char words, piece length <= 4)
  — the markov/hilbert chained-select pattern; the data-sized work is
  one explode + one hash agg to the word table.

100 TB: tokenization cost is bounded by the Zipf-bounded distinct-word
table (31 words here, ~millions at web scale), never by corpus size —
the same argument as the BPE apply fold (operators/bpe.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table_parallel as load_table
from nyc_taxi_data_engineering_spark.queries.registry import query

MAX_WORD = 8
MAX_PIECE = 4

# Pinned unigram piece model: integer micro-log scores (~log p * 1e6).
# Single characters form the complete fallback alphabet; multi-char
# pieces are cheaper than the sum of their characters, so Viterbi
# genuinely has to search (e.g. 'join' -> ['join'], 'window' ->
# ['wind','ow'], 'customer' -> ['cu? ...'] is a real 4-way choice).
PIECE_SCORES: dict[str, int] = {
    # length 1: full alphabet
    **{c: -3_000_000 for c in "abcdefghijklmnopqrstuvwxyz"},
    # length 2
    **{
        p: -4_500_000
        for p in (
            "jo in ha sh sc an ba er or st re am ow up ry qu ta le ue ch "
            "al us om lu mn cu to me sm wi nd gr fi lt bi ig du li ne da "
            "ro va ke ag th so rt fa sl"
        ).split()
    },
    # length 3
    **{
        p: -5_500_000
        for p in (
            "row key agg the val tch ble umn tor eam dow der ter ata art "
            "oup ery ast mal lue tab cus sto rea ann sma win gro que"
        ).split()
    },
    # length 4
    **{
        p: -6_000_000
        for p in (
            "join hash scan line data part sort fast slow wind ream "
            "tome lumn batc merg filt erge ilte ller mall roup uery "
            "tabl alue trea indo"
        ).split()
    },
}

_FALLBACK = -6_400_000_001  # unreachable for [a-z]+ words


def _lookup_sql(sub_expr: str, length: int) -> str:
    """CASE lookup of the 64-scaled step constant for a piece of the
    given length."""
    whens = " ".join(
        f"WHEN {sub_expr} = '{p}' THEN {64 * s - 1}"
        for p, s in PIECE_SCORES.items()
        if len(p) == length
    )
    return f"(CASE {whens} ELSE {_FALLBACK} END)"


def _dp_cols() -> list[tuple[str, str]]:
    """[(col_name, expr)] for k_1..k_MAX_WORD (k_0 inlined as 0)."""
    cols = []
    for i in range(1, MAX_WORD + 1):
        terms = []
        for j in range(max(0, i - MAX_PIECE), i):
            piece_len = i - j
            prev = "CAST(0 AS BIGINT)" if j == 0 else f"k_{j}"
            sub = f"substr(word, {j + 1}, {piece_len})"
            terms.append(f"({prev} + {_lookup_sql(sub, piece_len)})")
        body = terms[0] if len(terms) == 1 else f"greatest({', '.join(terms)})"
        cols.append((f"k_{i}", f"CASE WHEN length(word) >= {i} THEN {body} END"))
    return cols


_FINAL_KEY = (
    "CASE length(word) "
    + " ".join(f"WHEN {i} THEN k_{i}" for i in range(1, MAX_WORD + 1))
    + " END"
)
_N_PIECES = "(-(dpkey)) % 64"
_SCORE = f"CAST(floor((dpkey + ({_N_PIECES})) / 64.0) AS BIGINT)"


def _oracle_sql() -> str:
    dp = _dp_cols()
    sql = """
WITH toks AS (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
words AS (
    SELECT word, COUNT(*) AS n_occurrences
    FROM toks
    WHERE word <> '' AND regexp_full_match(word, '[a-z]{1,8}')
    GROUP BY word
)"""
    src = "words"
    for i, (name, expr) in enumerate(dp):
        sql += f",\nd{i} AS (SELECT *, {expr} AS {name} FROM {src})"
        src = f"d{i}"
    sql += f""",
fin AS (SELECT word, n_occurrences, {_FINAL_KEY} AS dpkey FROM {src})
SELECT word, n_occurrences,
       CAST({_N_PIECES} AS BIGINT) AS n_pieces,
       {_SCORE} AS score_micro
FROM fin
ORDER BY word
"""
    return sql


@query("unigram_tokenize_words", oracle=_oracle_sql())
def q_unigram_tokenize_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per distinct corpus word: occurrence count, the optimal piece
    count under the pinned unigram model, and the Viterbi score in
    micro-logs. The DP runs on the distinct-word table only."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter((F.col("word") != "") & F.col("word").rlike("^[a-z]{1,8}$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    work = words
    for name, expr in _dp_cols():
        work = work.withColumn(name, F.expr(expr))
    fin = work.select("word", "n_occurrences", F.expr(_FINAL_KEY).alias("dpkey"))
    return fin.select(
        "word",
        "n_occurrences",
        F.expr(_N_PIECES).cast("bigint").alias("n_pieces"),
        F.expr(_SCORE).alias("score_micro"),
    ).orderBy("word")


def _word_dp_ctes() -> str:
    """The words-with-DP CTE chain (word, n_occurrences, n_pieces,
    score_micro as CTE ``wfin``), shared by both unigram queries."""
    dp = _dp_cols()
    sql = """toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
words AS (
    SELECT word, COUNT(*) AS n_occurrences
    FROM toks
    WHERE word <> '' AND regexp_full_match(word, '[a-z]{1,8}')
    GROUP BY word
)"""
    src = "words"
    for i, (name, expr) in enumerate(dp):
        sql += f",\nd{i} AS (SELECT *, {expr} AS {name} FROM {src})"
        src = f"d{i}"
    sql += f""",
wfin AS (
    SELECT word,
           CAST({_N_PIECES.replace('dpkey', 'wkey')} AS BIGINT) AS n_pieces,
           {_SCORE.replace('dpkey', 'wkey')} AS score_micro
    FROM (SELECT word, {_FINAL_KEY} AS wkey FROM {src})
)"""
    return sql


@query(
    "unigram_tokenize_docs",
    oracle=f"""
WITH {_word_dp_ctes()}
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(w.n_pieces) AS BIGINT) AS n_tokens,
       CAST(SUM(w.score_micro) AS BIGINT) AS score_micro
FROM toks t JOIN wfin w ON t.word = w.word
GROUP BY t.doc_id
ORDER BY t.doc_id
""",
)
def q_unigram_tokenize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization end to end: every doc's unigram-LM token
    count and total segmentation score, via a BROADCAST join of the
    exploded words onto the DP'd distinct-word table — the 100 TB
    shape (the model rides the closure; the corpus never shuffles,
    only the per-doc hash agg does)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word")).filter(
        F.col("word") != ""
    )
    words = (
        toks.filter(F.col("word").rlike("^[a-z]{1,8}$"))
        .select("word")
        .distinct()
    )
    work = words
    for name, expr in _dp_cols():
        work = work.withColumn(name, F.expr(expr))
    wfin = work.withColumn("wkey", F.expr(_FINAL_KEY)).select(
        "word",
        F.expr(_N_PIECES.replace("dpkey", "wkey")).cast("bigint").alias("n_pieces"),
        F.expr(_SCORE.replace("dpkey", "wkey")).alias("score_micro"),
    )
    return (
        toks.join(F.broadcast(wfin.select("word", "n_pieces", "score_micro")), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_pieces").cast("bigint").alias("n_tokens"),
            F.sum("score_micro").cast("bigint").alias("score_micro"),
        )
        .orderBy("doc_id")
    )
