"""Byte-pair-encoding tokenizer training on Spark (Sennrich et al.,
ACL 2016) — the iterative companion to the ``bpe_merge_candidates``
query: each round counts adjacent symbol pairs over the DISTINCT-WORD
frequency table, picks the most frequent pair (count desc, then
lexicographic — fully deterministic), and greedily merges it
left-to-right inside every word's symbol sequence.

Beyond-reference extension. Scale design:

- **Pair counting is per distinct word, weighted by word count** —
  the corpus collapses to its Zipf-bounded vocabulary before any
  per-round work, so a 100 TB corpus trains from a word table of
  maybe 10^7 rows. The corpus-sized explode happens ONCE, in
  :func:`word_counts`.
- **The merge apply is a native fold** (``F.aggregate``): greedy
  left-to-right pair merging inside whole-stage codegen, no Python.
- **Per-round top-1 is a TakeOrdered** over the pair hash-agg (local
  partial top-1 per task), not a global sort.
- **Lineage is truncated each round** (``operators.pin``), the same
  discipline as the connected-components loop — num_merges rounds of
  narrow transforms otherwise stack into an unexecutable plan.

The driver-side loop makes this genuinely iterative (not
SQL-expressible), so it ships as an operator with behavior tests
instead of a registered oracle query; the single-round pair table IS
oracle-checked via ``bpe_merge_candidates``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.functions import text as T
from nyc_taxi_data_engineering_spark.operators import pin

BPE_EOW = "</w>"


def word_counts(docs: DataFrame) -> DataFrame:
    """(w, wcnt) distinct-word frequency table — the one corpus-sized
    pass; everything after works on this."""
    return (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wcnt"))
    )


def _merge_pair(cs: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of every adjacent (left, right) in a
    symbol array, as a native fold: append each symbol unless it forms
    the pair with the accumulator's tail, in which case replace the
    tail with the merged symbol. [a,a,a] under merge(a,a) -> [aa,a],
    matching reference BPE's non-overlapping greedy scan."""
    merged = left + right
    return F.aggregate(
        cs,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _pair_counts(syms: DataFrame) -> DataFrame:
    pairs = syms.select(
        "wcnt",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("cs") - 1),
                lambda i: F.struct(
                    F.element_at("cs", i).alias("l"), F.element_at("cs", i + 1).alias("r")
                ),
            )
        ).alias("p"),
    )
    return (
        pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("wcnt").alias("cnt"))
    )


def train_bpe(words: DataFrame, num_merges: int) -> list[tuple[str, str, int]]:
    """Learn ``num_merges`` BPE merges from a (w, wcnt) word table.
    Returns [(left, right, pair_count), ...] in merge order. Stops
    early when no adjacent pair remains (fully merged vocabulary)."""
    syms = pin(
        words.select("wcnt", F.concat(F.split("w", ""), F.array(F.lit(BPE_EOW))).alias("cs"))
    )
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        top = (
            _pair_counts(syms)
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, cnt = top[0]["l"], top[0]["r"], top[0]["cnt"]
        merges.append((l, r, cnt))
        syms = pin(syms.select("wcnt", _merge_pair(F.col("cs"), l, r).alias("cs")))
    return merges


def apply_bpe(docs: DataFrame, merges: list[tuple[str, str, int]]) -> DataFrame:
    """Tokenize ``text`` with a learned merge list: per-word symbol arrays
    folded through every merge in order (the standard apply — merges
    replay in priority order). Adds ``bpe_tokens`` (array<string>) and
    ``n_bpe_tokens``.

    The fold runs once per DISTINCT word, not once per occurrence —
    the same Zipf collapse the trainer uses (:func:`word_counts`): a
    100 TB corpus tokenizes from a vocabulary-sized table, and each
    document just re-assembles its words' cached token arrays via a
    broadcast word→tokens join (posexplode → join → ordered regroup).
    The per-occurrence formulation (a transform-of-folds projection,
    round 6) was measured 3.7x super-linear at the sf10 probe — every
    occurrence of "the" re-ran the full merge fold; this shape replays
    it once. Vocabulary tables broadcast by construction in practice
    (a tokenizer's vocab is bounded); swap the hint for a keyed join
    if yours does not."""
    words_col = F.filter(T.tokens(F.col("text")), lambda w: F.length(w) > 0)
    with_id = docs.select(
        F.struct(*[F.col(c) for c in docs.columns]).alias("_row"),
        F.monotonically_increasing_id().alias("_rid"),
        words_col.alias("_words"),
    )
    exploded = with_id.select(
        "_row", "_rid", F.posexplode_outer("_words").alias("_pos", "_w")
    )
    vocab = exploded.select(F.col("_w").alias("w")).filter(F.col("w").isNotNull()).distinct()
    syms: Column = F.concat(F.split("w", ""), F.array(F.lit(BPE_EOW)))
    for left, right, _cnt in merges:
        syms = _merge_pair(syms, left, right)
    mapping = vocab.select("w", syms.alias("_wtoks"))
    joined = exploded.join(
        F.broadcast(mapping), exploded["_w"] == mapping["w"], "left"
    )
    regrouped = (
        joined.groupBy("_rid")
        .agg(
            F.first("_row").alias("_row"),
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_w").isNotNull(),
                                F.struct(F.col("_pos"), F.col("_wtoks")),
                            )
                        )
                    ),
                    lambda s: s._wtoks,
                )
            ).alias("bpe_tokens"),
        )
        .select(
            "_row.*",
            F.coalesce("bpe_tokens", F.array().cast("array<string>")).alias("bpe_tokens"),
        )
        .withColumn("n_bpe_tokens", F.size("bpe_tokens"))
    )
    return regrouped
