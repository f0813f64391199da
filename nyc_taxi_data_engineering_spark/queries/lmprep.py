"""LM-data-prep queries over ``documents`` (M7 training-data pipeline
extensions, round 5): RAG chunking and corpus-level unigram-LM quality
scoring (the CCNet-style perplexity filter, re-expressed without an
external LM: the corpus itself is the unigram model).

Both are native-expression plans — no Python UDFs. Oracles share the
tokenizer definition with the Spark side via functions/text.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import load_table, load_table_parallel
from nyc_taxi_data_engineering_spark.functions import text as T
from nyc_taxi_data_engineering_spark.queries.registry import query

# RAG chunking: fixed token windows with overlap (W - S tokens shared
# between consecutive chunks). W > S so every token lands in >= 1 chunk.
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24

# Unigram LM: top-K vocabulary by corpus frequency; everything else is
# one shared OOV class (class-based unigram smoothing). K is small here
# so the synthetic corpus actually exercises the OOV path; at real scale
# K ~ 2^16-2^20 keeps the vocab broadcast-able BY CONSTRUCTION — that is
# the point of the cap, an unbounded vocab would not be.
UNIGRAM_TOPK = 25
# Log-perplexity buckets (avg -ln p per token, natural log).
PPL_FLUENT = 3.13
PPL_NORMAL = 3.21


@query(
    "doc_chunks_rag",
    oracle=f"""
WITH d AS (
  SELECT doc_id, {T.sql_tokens('text')} AS toks FROM documents
), k AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) <= {CHUNK_TOKENS} THEN 1
              ELSE cast(floor((len(toks) - {CHUNK_TOKENS} + {CHUNK_STRIDE - 1}) / {CHUNK_STRIDE}.0) as int) + 1
         END AS n_chunks
  FROM d
)
SELECT doc_id,
       i AS chunk_id,
       i * {CHUNK_STRIDE} + 1 AS start_token,
       len(toks[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_TOKENS}]) AS n_tokens,
       array_to_string(toks[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ') AS chunk_text,
       md5(array_to_string(toks[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ')) AS chunk_hash
FROM k, unnest(generate_series(0, n_chunks - 1)) AS t(i)
""",
)
def q_doc_chunks_rag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style document chunking: fixed ``CHUNK_TOKENS``-token windows
    every ``CHUNK_STRIDE`` tokens (8-token overlap), each chunk with its
    1-based token offset and an md5 content hash for downstream
    chunk-level dedup / embedding joins.

    Scale shape: one projection + one explode — per-row, shuffle-free,
    embarrassingly parallel. Chunk count is ceil((n-W)/S)+1 so no
    degenerate tail chunk is fully contained in its predecessor, and
    the last chunk always keeps >= W-S+1 fresh tokens.
    """
    W, S = CHUNK_TOKENS, CHUNK_STRIDE
    toks = F.col("toks")
    n = F.size(toks)
    n_chunks = F.when(n <= W, F.lit(1)).otherwise(
        (F.floor((n - W + (S - 1)) / S) + 1).cast("int")
    )
    start = F.col("chunk_id") * S + 1
    chunk = F.slice(toks, start, F.lit(W))
    return (
        load_table_parallel(spark, sf_dir, "documents")
        .select("doc_id", T.tokens(F.col("text")).alias("toks"))
        .select("doc_id", "toks", F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"))
        .select(
            "doc_id",
            "chunk_id",
            start.alias("start_token"),
            F.size(chunk).alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
        )
    )


@query(
    "unigram_lm_scores",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({T.sql_tokens('text')}) AS tok FROM documents
), tok2 AS (
  SELECT doc_id, tok FROM tok WHERE len(tok) > 0
), tot AS (
  SELECT cast(count(*) as double) AS n FROM tok2
), topk AS (
  SELECT tok, count(*) AS cnt FROM tok2 GROUP BY tok
  ORDER BY cnt DESC, tok LIMIT {UNIGRAM_TOPK}
), oov AS (
  SELECT greatest((SELECT n FROM tot) - sum(cnt), 1) AS oov_cnt FROM topk
), scored AS (
  SELECT t.doc_id,
         cast(round(-ln(coalesce(v.cnt, (SELECT oov_cnt FROM oov)) / (SELECT n FROM tot)), 6)
              as decimal(18,6)) AS neg_logp,
         CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS is_oov
  FROM tok2 t LEFT JOIN topk v USING (tok)
)
SELECT doc_id,
       count(*) AS n_tokens,
       cast(sum(is_oov) as bigint) AS n_oov,
       cast(sum(neg_logp) as double) / count(*) AS avg_neg_logp,
       CASE WHEN cast(sum(neg_logp) as double) / count(*) < {PPL_FLUENT} THEN 'FLUENT'
            WHEN cast(sum(neg_logp) as double) / count(*) < {PPL_NORMAL} THEN 'NORMAL'
            ELSE 'SUSPECT' END AS ppl_bucket
FROM scored
GROUP BY doc_id
""",
)
def q_unigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram log-perplexity per document — the CCNet-style LM
    quality filter with the corpus itself as the model. Top-K vocabulary
    by frequency (deterministic count-desc/token tiebreak, planned as
    TakeOrderedAndProject — per-task local top-K, no global sort);
    everything outside the top K shares one OOV probability mass, so the
    vocab side is bounded at K rows and broadcast-able by construction at
    any corpus size. Per-token -ln p is rounded to 6 dp and summed as
    DECIMAL(18,6) so the cross-engine aggregate is order-independent and
    exact (float sums are not associative; ln itself agrees across
    engines to ~1 ulp, far inside the rounding guard).

    Scale shape: explode -> hash-agg (map-side combine shrinks the
    shuffle to the vocabulary) -> TakeOrdered top-K -> broadcast join
    back -> one per-doc hash-agg. No window over a global order, no
    collect.
    """
    K = UNIGRAM_TOPK
    tok = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok"))
        .filter(F.length("tok") > 0)
    )
    topk = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "tok")
        .limit(K)
    )
    totals = (
        tok.agg(F.count(F.lit(1)).cast("double").alias("n"))
        .crossJoin(topk.agg(F.sum("cnt").alias("topk_cnt")))
        .select("n", F.greatest(F.col("n") - F.col("topk_cnt"), F.lit(1)).alias("oov_cnt"))
    )
    scored = (
        tok.join(F.broadcast(topk), "tok", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.round(-F.log(F.coalesce(F.col("cnt"), F.col("oov_cnt")) / F.col("n")), 6)
            .cast("decimal(18,6)")
            .alias("neg_logp"),
            F.when(F.col("cnt").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_oov"),
        )
    )
    # UNROUNDED double: the decimal sum / count quotient lands exactly on
    # 5e-7 half boundaries (terminating decimals over small counts), where
    # the engines' rounding modes disagree by 1e-6 — the raw division of
    # identical exact operands is bit-identical instead (sf0.1 sweep find)
    avg = F.sum("neg_logp").cast("double") / F.count(F.lit(1))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("is_oov").cast("bigint").alias("n_oov"),
        avg.alias("avg_neg_logp"),
        F.when(avg < PPL_FLUENT, F.lit("FLUENT"))
        .when(avg < PPL_NORMAL, F.lit("NORMAL"))
        .otherwise(F.lit("SUSPECT"))
        .alias("ppl_bucket"),
    )


@query(
    "chunk_dedup_stats",
    oracle=f"""
WITH d AS (
  SELECT doc_id, {T.sql_tokens('text')} AS toks FROM documents
), k AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) <= {CHUNK_TOKENS} THEN 1
              ELSE cast(floor((len(toks) - {CHUNK_TOKENS} + {CHUNK_STRIDE - 1}) / {CHUNK_STRIDE}.0) as int) + 1
         END AS n_chunks
  FROM d
), chunks AS (
  SELECT doc_id,
         md5(array_to_string(toks[i * {CHUNK_STRIDE} + 1 : i * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ')) AS chunk_hash
  FROM k, unnest(generate_series(0, n_chunks - 1)) AS t(i)
)
SELECT chunk_hash,
       COUNT(*) AS n_occurrences,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       MIN(doc_id) AS canonical_doc
FROM chunks
GROUP BY chunk_hash
HAVING COUNT(*) > 1
""",
)
def q_chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granularity exact dedup — the RAG-index dedup step
    (duplicate passages across documents waste index space and skew
    retrieval): chunk every document (same windows as doc_chunks_rag),
    hash each chunk, and report every chunk text that occurs more than
    once, with its occurrence count, distinct-document reach, and the
    canonical (min-id) holder.

    Scale shape: per-row explode -> one hash-agg keyed on the 32-hex
    chunk hash with map-side combine + HAVING — the exact_dedup plan
    at chunk granularity. No joins; output ∝ duplicated chunks only."""
    W, S = CHUNK_TOKENS, CHUNK_STRIDE
    toks = F.col("toks")
    n = F.size(toks)
    n_chunks = F.when(n <= W, F.lit(1)).otherwise(
        (F.floor((n - W + (S - 1)) / S) + 1).cast("int")
    )
    chunk = F.slice(toks, F.col("chunk_id") * S + 1, F.lit(W))
    return (
        load_table_parallel(spark, sf_dir, "documents")
        .select("doc_id", T.tokens(F.col("text")).alias("toks"))
        .select("doc_id", "toks", F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"))
        .select("doc_id", F.md5(F.array_join(chunk, " ")).alias("chunk_hash"))
        .groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .filter(F.col("n_occurrences") > 1)
    )


BPE_TOP_MERGES = 20
BPE_EOW = "</w>"  # Sennrich-style end-of-word marker


@query(
    "bpe_merge_candidates",
    oracle=f"""
WITH tok AS (
  SELECT unnest({T.sql_tokens('text')}) AS w FROM documents
), words AS (
  SELECT w, COUNT(*) AS wcnt FROM tok WHERE len(w) > 0 GROUP BY w
), syms AS (
  SELECT w, wcnt, list_append(string_split(w, ''), '{BPE_EOW}') AS cs FROM words
), pairs AS (
  SELECT wcnt,
         unnest([{{'l': cs[i], 'r': cs[i + 1]}} for i in generate_series(1, len(cs) - 1)]) AS pr
  FROM syms
)
SELECT pr.l AS left_sym, pr.r AS right_sym, CAST(SUM(wcnt) AS BIGINT) AS pair_count
FROM pairs
GROUP BY pr.l, pr.r
ORDER BY pair_count DESC, left_sym, right_sym
LIMIT {BPE_TOP_MERGES}
""",
)
def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top BPE merge candidates (Sennrich et al., "Neural Machine
    Translation of Rare Words with Subword Units", ACL 2016): the
    symbol-pair frequency table the first BPE training step maximizes
    over — words reduced to a frequency table FIRST (the standard
    trick: pair counting is per distinct word, weighted by word count,
    never per corpus occurrence), each word's characters plus an
    end-of-word marker, adjacent pairs weighted and summed.

    Scale shape: explode tokens -> word hash-agg (map-side combine
    collapses each partition to its distinct words — the corpus's
    Zipf head shrinks orders of magnitude before the exchange) ->
    per-word pair explode over the MUCH smaller word table -> pair
    hash-agg -> TakeOrdered top-N (per-task partial top-N, no global
    sort). A full BPE trainer loops this query, applying the winning
    merge to `syms` each round; the per-round cost is bounded by the
    distinct-word table, not the corpus."""
    tok = (
        load_table_parallel(spark, sf_dir, "documents")
        .select(F.explode(T.tokens(F.col("text"))).alias("w"))
        .filter(F.length("w") > 0)
    )
    words = tok.groupBy("w").agg(F.count(F.lit(1)).alias("wcnt"))
    syms = words.select(
        "wcnt", F.concat(F.split("w", ""), F.array(F.lit(BPE_EOW))).alias("cs")
    )
    pairs = syms.select(
        "wcnt",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("cs") - 1),
                lambda i: F.struct(
                    F.element_at("cs", i).alias("left_sym"),
                    F.element_at("cs", i + 1).alias("right_sym"),
                ),
            )
        ).alias("p"),
    )
    return (
        pairs.groupBy(F.col("p.left_sym").alias("left_sym"), F.col("p.right_sym").alias("right_sym"))
        .agg(F.sum("wcnt").cast("bigint").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "left_sym", "right_sym")
        .limit(BPE_TOP_MERGES)
    )


# Pinned merge list for the apply-side tokenization query: a fixed,
# engine-independent priority list of (left, right) symbol pairs, with
# CHAINED merges ("t"+"h" -> "th", then "th"+"e</w>" -> "the</w>") so
# replay ORDER is under the gate, not just membership.
PINNED_BPE_MERGES: list[tuple[str, str]] = [
    ("e", BPE_EOW),
    ("t", "h"),
    ("th", "e" + BPE_EOW),
    ("s", BPE_EOW),
    ("i", "n"),
    ("a", "n"),
    ("d", BPE_EOW),
    ("an", "d" + BPE_EOW),
]

# Oracle replay of the greedy left-to-right merge fold as nested
# string replaces: each word's symbols render as \x1e-delimited cells
# ("\x1ea\x1e\x1eb\x1e..."), so the pattern "\x1el\x1e\x1er\x1e" ->
# "\x1elr\x1e" rewrite consumes non-overlapping occurrences scanning
# left to right — exactly the fold's greedy semantics, and because
# every symbol carries its OWN delimiters, adjacent matches share no
# characters (a single shared separator would make replace skip the
# second of two back-to-back pairs).  \x1e (record separator) cannot
# appear in the corpus text (whitespace-split tokens; control chars
# are not printable data) — the Spark side uses the true native fold
# and needs no delimiter at all.
_BPE_D = "\x1e"


def _bpe_apply_sql() -> str:
    s = "s"
    for left, right in PINNED_BPE_MERGES:
        pat = f"{_BPE_D}{left}{_BPE_D}{_BPE_D}{right}{_BPE_D}"
        rep = f"{_BPE_D}{left}{right}{_BPE_D}"
        s = f"replace({s}, '{pat}', '{rep}')"
    return s


@query(
    "bpe_tokenize_docs",
    oracle=f"""
WITH base AS (
  SELECT doc_id,
         [w for w in string_split_regex(trim(text), '\\s+') if len(w) > 0] AS ws
  FROM documents
), enc AS (
  SELECT doc_id,
         list_transform(
             ws,
             w -> '{_BPE_D}' || array_to_string(
                      list_append(string_split(w, ''), '{BPE_EOW}'),
                      '{_BPE_D}{_BPE_D}') || '{_BPE_D}'
         ) AS wstrs
  FROM base
), merged AS (
  SELECT doc_id, list_transform(wstrs, s -> {{APPLY}}) AS mstrs FROM enc
), toks AS (
  SELECT doc_id,
         flatten(list_transform(mstrs,
             s -> string_split(substr(s, 2, length(s) - 2), '{_BPE_D}{_BPE_D}'))) AS bt
  FROM merged
)
SELECT doc_id,
       CAST(len(bt) AS INT) AS n_bpe_tokens,
       -- DuckDB array_to_string([]) is NULL; Spark concat_ws([]) is ''
       COALESCE(array_to_string(bt, ' '), '') AS bpe_text
FROM toks
""".replace("{APPLY}", _bpe_apply_sql()),
)
def q_bpe_tokenize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization END-TO-END under the oracle gate: apply_bpe
    (operators/bpe) folds every document's words through the pinned
    8-merge priority list — including chained merges, so replay ORDER
    is verified — entirely inside whole-stage codegen (a native
    F.aggregate fold per word, no Python, no shuffle: tokenization is
    a narrow projection and scales embarrassingly). The oracle replays
    the same greedy fold as nested delimiter-replaces (see _BPE_D) and
    compares every token of every document by hash. Output: (doc_id,
    n_bpe_tokens, bpe_text = space-joined subword stream)."""
    from nyc_taxi_data_engineering_spark.operators.bpe import apply_bpe

    docs = load_table_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    out = apply_bpe(docs, PINNED_BPE_MERGES)
    return out.select(
        "doc_id",
        "n_bpe_tokens",
        F.concat_ws(" ", "bpe_tokens").alias("bpe_text"),
    )


N_NEGATIVES = 4


def _neg_raw_sql(j: int) -> str:
    return (
        f"(('0x' || substr(md5('neg{j}|' || CAST(a.doc_id AS VARCHAR)), 1, 8))::BIGINT"
        " % (SELECT n FROM nn))"
    )


# The oracle samples in DENSE index space (ROW_NUMBER over doc_id), so
# it covers both engine branches: with dense 0..n-1 ids the index IS
# the doc_id and this reduces exactly to the fast path's arithmetic.
@query(
    "contrastive_negatives_docs",
    oracle=f"""
WITH nn AS (SELECT COUNT(*) AS n FROM documents),
h AS (SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS di,
             md5(text) AS ch
      FROM documents),
cands AS (
    {" UNION ALL ".join(f"SELECT a.doc_id AS anchor_id, a.di AS adi, {j} AS neg_rank, {_neg_raw_sql(j)} AS raw FROM h a" for j in range(N_NEGATIVES))}
),
fixed AS (
    SELECT anchor_id, neg_rank,
           CASE WHEN raw = adi THEN (raw + 1) % (SELECT n FROM nn) ELSE raw END AS neg_di
    FROM cands
),
j1 AS MATERIALIZED (
    -- MATERIALIZED pins the join ORDER: with the 3-way join in one
    -- block, DuckDB's reorderer may join a with b FIRST on the lone
    -- (b.ch <> a.ch) predicate — an inequality-only near-cross-join
    -- that is n^2 rows (2.5e9 at 50k docs; found grinding at 87 GB in
    -- the r11 sf1 sweep). Splitting at a materialization point leaves
    -- each block only equi-joins, so the anchor hash join must run
    -- before the dedup-filter join.
    SELECT f.anchor_id, f.neg_rank, f.neg_di, a.ch AS a_ch
    FROM fixed f
    JOIN h a ON a.doc_id = f.anchor_id
)
SELECT j1.anchor_id, CAST(j1.neg_rank AS INT) AS neg_rank, b.doc_id AS neg_id
FROM j1
JOIN h b ON b.di = j1.neg_di
WHERE b.ch <> j1.a_ch
""",
)
def q_contrastive_negatives_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training — k
    random-looking negatives per anchor WITHOUT an n² candidate space
    or an RNG: negative j of anchor a is the doc at md5-bucket
    H('negj|'||a) mod n (self-collisions remap to the next id), then a
    content-hash join drops negatives that are exact duplicates of
    their anchor (a false negative would teach the model that
    identical texts differ). Scale shape: a 4-way projection explode +
    two keyed joins against the (id, hash) table — linear in corpus
    size, reproducible across runs and engines, which is exactly what
    a training-data pipeline needs from its sampler.

    The md5 bucket addresses DENSE index space 0..n-1. Dense-id corpora
    take the fast path (the id IS the index — no extra work). Sparse-id
    corpora are re-indexed in place with a DISTRIBUTED row number over
    doc_id (operators/distrank — bucketed prefix count, no
    single-partition sort of the corpus); at extreme corpus sizes
    pre-assign dense ids upstream and even that is skipped. Both
    branches emit identical results for dense ids, so one oracle
    (always the row_number formulation) certifies both."""
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.select("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
    ).first()
    if stats["n"] == 0:
        # empty corpus: nothing to sample — empty result, like the
        # oracle (whose candidate explode is FROM the empty hash table)
        return spark.createDataFrame(
            [], "anchor_id bigint, neg_rank int, neg_id bigint"
        )
    dense = stats["lo"] == 0 and stats["hi"] == stats["n"] - 1
    if dense:
        h = docs.select(
            "doc_id",
            F.col("doc_id").alias("di"),
            F.md5(F.col("text")).alias("ch"),
        )
    else:
        from nyc_taxi_data_engineering_spark.operators.distrank import (
            global_row_number,
        )

        h = global_row_number(
            docs.select("doc_id", F.md5(F.col("text")).alias("ch")),
            ["doc_id"],
            out="_rn",
        ).select("doc_id", (F.col("_rn") - 1).alias("di"), "ch")
    nn = h.agg(F.count(F.lit(1)).alias("n"))
    raws = [
        F.struct(
            F.lit(j).alias("neg_rank"),
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"neg{j}|"), F.col("anchor_id").cast("string"))), 1, 8),
                    16,
                    10,
                ).cast("long")
                % F.col("n")
            ).alias("raw"),
        )
        for j in range(N_NEGATIVES)
    ]
    cands = (
        h.select(
            F.col("doc_id").alias("anchor_id"),
            F.col("di").alias("adi"),
            F.col("ch").alias("a_ch"),
        )
        .crossJoin(F.broadcast(nn))
        .select("anchor_id", "adi", "a_ch", "n", F.explode(F.array(*raws)).alias("c"))
        .select(
            "anchor_id",
            "a_ch",
            F.col("c.neg_rank").cast("int").alias("neg_rank"),
            F.when(F.col("c.raw") == F.col("adi"), (F.col("c.raw") + 1) % F.col("n"))
            .otherwise(F.col("c.raw"))
            .alias("neg_di"),
        )
    )
    b = h.select(
        F.col("di").alias("neg_di"),
        F.col("doc_id").alias("neg_id"),
        F.col("ch").alias("b_ch"),
    )
    return (
        cands.join(b, "neg_di")
        .filter(F.col("b_ch") != F.col("a_ch"))
        .select("anchor_id", "neg_rank", "neg_id")
    )


# Bigram LM: class-based (top-K vocab + one OOV class) with add-alpha
# smoothing over a FIXED class universe V = K+1, so the conditional
# table is bounded at (K+1)^2 rows and broadcast-able by construction.
BIGRAM_ALPHA = 0.5
_BIGRAM_V = UNIGRAM_TOPK + 1  # class universe for the smoothing mass
_BIGRAM_DENOM_ADD = BIGRAM_ALPHA * _BIGRAM_V  # written identically both sides


@query(
    "bigram_lm_scores",
    oracle=f"""
WITH base AS (
  SELECT doc_id,
         [w for w in string_split_regex(trim(text), '\\s+') if len(w) > 0] AS toks
  FROM documents
),
tok2 AS (SELECT doc_id, unnest(toks) AS tok FROM base),
topk AS (
  SELECT tok, count(*) AS cnt FROM tok2 GROUP BY tok
  ORDER BY cnt DESC, tok LIMIT {UNIGRAM_TOPK}
),
pr AS (
  SELECT doc_id,
         string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2
  FROM (SELECT doc_id, unnest({T.sql_word_ngrams('toks', 2)}) AS g FROM base)
),
cls AS (
  SELECT doc_id,
         CASE WHEN k1.tok IS NULL THEN '<OOV>' ELSE w1 END AS c1,
         CASE WHEN k2.tok IS NULL THEN '<OOV>' ELSE w2 END AS c2
  FROM pr LEFT JOIN topk k1 ON k1.tok = pr.w1 LEFT JOIN topk k2 ON k2.tok = pr.w2
),
big AS (SELECT c1, c2, count(*) AS c12 FROM cls GROUP BY c1, c2),
uni AS (SELECT c1, count(*) AS c1n FROM cls GROUP BY c1),
scored AS (
  SELECT cls.doc_id,
         cast(round(-ln((big.c12 + {BIGRAM_ALPHA}) / (uni.c1n + {_BIGRAM_DENOM_ADD})), 6)
              as decimal(18,6)) AS neg_logp,
         CASE WHEN cls.c1 = '<OOV>' OR cls.c2 = '<OOV>' THEN 1 ELSE 0 END AS has_oov
  FROM cls JOIN big USING (c1, c2) JOIN uni USING (c1)
)
SELECT doc_id,
       count(*) AS n_bigrams,
       cast(sum(has_oov) as bigint) AS n_oov_bigrams,
       cast(sum(neg_logp) as double) / count(*) AS avg_neg_logp
FROM scored GROUP BY doc_id
""",
)
def q_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-BIGRAM log-perplexity per document — the conditional
    upgrade to unigram_lm_scores (CCNet's KenLM filter re-expressed
    corpus-internally): P(w2|w1) with add-{BIGRAM_ALPHA} smoothing over
    the class-mapped stream (top-K vocabulary + one OOV class), so the
    model tables are BOUNDED — |uni| <= K+1, |big| <= (K+1)^2 — and
    broadcast back onto the bigram stream regardless of corpus size.
    Bigram perplexity separates fluent word ORDER from fluent word
    CHOICE (a shuffled fluent document keeps its unigram score but
    craters here). Same determinism contract as the unigram query:
    per-bigram -ln p rounds to 6 dp and sums as DECIMAL(18,6).

    Scale shape: explode to bigrams (narrow, word_ngrams guard
    included) -> two broadcast vocab joins -> two bounded hash aggs ->
    two broadcast joins back -> one per-doc hash agg. No windows, no
    self-joins on the corpus, no collect."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.filter(T.tokens(F.col("text")), lambda w: F.length(w) > 0).alias("toks")
    )
    tok2 = base.select("doc_id", F.explode("toks").alias("tok"))
    topk = (
        tok2.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "tok")
        .limit(UNIGRAM_TOPK)
    )
    pr = base.select(
        "doc_id", F.explode(T.word_ngrams(F.col("toks"), 2)).alias("g")
    ).select(
        "doc_id",
        F.substring_index("g", " ", 1).alias("w1"),
        F.substring_index("g", " ", -1).alias("w2"),
    )
    k1 = topk.select(F.col("tok").alias("w1"), F.lit(1).alias("in1"))
    k2 = topk.select(F.col("tok").alias("w2"), F.lit(1).alias("in2"))
    cls = (
        pr.join(F.broadcast(k1), "w1", "left")
        .join(F.broadcast(k2), "w2", "left")
        .select(
            "doc_id",
            F.when(F.col("in1").isNull(), F.lit("<OOV>")).otherwise(F.col("w1")).alias("c1"),
            F.when(F.col("in2").isNull(), F.lit("<OOV>")).otherwise(F.col("w2")).alias("c2"),
        )
    )
    big = cls.groupBy("c1", "c2").agg(F.count(F.lit(1)).alias("c12"))
    uni = cls.groupBy("c1").agg(F.count(F.lit(1)).alias("c1n"))
    scored = (
        cls.join(F.broadcast(big), ["c1", "c2"])
        .join(F.broadcast(uni), "c1")
        .select(
            "doc_id",
            F.round(
                -F.log(
                    (F.col("c12") + F.lit(BIGRAM_ALPHA))
                    / (F.col("c1n") + F.lit(_BIGRAM_DENOM_ADD))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("neg_logp"),
            F.when((F.col("c1") == "<OOV>") | (F.col("c2") == "<OOV>"), 1)
            .otherwise(0)
            .alias("has_oov"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("has_oov").cast("bigint").alias("n_oov_bigrams"),
        (F.sum("neg_logp").cast("double") / F.count(F.lit(1))).alias("avg_neg_logp"),
    )
