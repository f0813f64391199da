"""Byte-pair-encoding tokenization on Spark (Sennrich et al., ACL
2016): replay a learned merge list, in priority order, greedily
left-to-right inside every word's symbol sequence. The companion
``bpe_merge_candidates`` query counts one training round's adjacent
symbol pairs; ``bpe_tokenize_docs`` tokenizes under the oracle gate
with a pinned merge list.

Beyond-reference extension. Scale design:

- **The merge apply is a native fold** (``F.aggregate``): greedy
  left-to-right pair merging inside whole-stage codegen, no Python.
- **The fold runs per distinct word**: the corpus collapses to its
  Zipf-bounded vocabulary before any merge is replayed (see
  :func:`apply_bpe`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.functions import text as T

BPE_EOW = "</w>"


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


def apply_bpe(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Tokenize ``text`` with a learned merge list: per-word symbol arrays
    folded through every merge in order (the standard apply — merges
    replay in priority order). Adds ``bpe_tokens`` (array<string>) and
    ``n_bpe_tokens``.

    The fold runs once per DISTINCT word, not once per occurrence: a
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
    for left, right in merges:
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
