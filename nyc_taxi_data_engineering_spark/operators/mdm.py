"""MDM fuzzy-match dedup + survivorship (reference C5:
fuzzy_match.py:10-200).

The reference runs a pandas pair-loop over recordlinkage blocks; here
the same semantics are distributed:

- blocking → a self equi-join on block keys (J9), so candidate-pair
  generation is a keyed shuffle, never O(n²) across blocks;
- scoring → ONE vectorized pandas UDF (token-sort ratio, the engine's
  only true UDF — SURVEY §2.11), Arrow-batched;
- survivorship → column expressions (longest-string wins, provenance
  concat), no driver iteration.

Scale: blocks are the unit of parallelism. A hot block (skewed city)
is the known failure mode — mitigate upstream by salting the block key
or tightening the blocking predicate; at 100 TB prefer the MinHash-LSH
dedup family (operators/dedup.py) whose band-bucket join bounds block
width probabilistically.

Scorer fidelity: token_sort_ratio matches fuzzywuzzy's pure-Python
(difflib.SequenceMatcher) implementation — tokens sorted, joined, then
``int(round(100 * 2M / (len_a + len_b)))``.
"""

from __future__ import annotations

from difflib import SequenceMatcher

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nyc_taxi_data_engineering_spark.functions import (
    confidence_bucket,
    governance_action,
    longest_string,
    normalize_text,
    pct,
)


def _token_sort_ratio_fn(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized token-sort-ratio (0–100). Inputs should already be
    normalized (lowercase, alnum+space only) — see normalize_text."""

    def score(x, y) -> int:
        xs = " ".join(sorted(str(x or "").split()))
        ys = " ".join(sorted(str(y or "").split()))
        if not xs and not ys:
            return 0
        return int(round(100 * SequenceMatcher(None, xs, ys).ratio()))

    return pd.Series([score(x, y) for x, y in zip(a, b)], dtype="int32")


# DataType object (not DDL string): string return types are parsed at
# decoration time and require a live SparkContext, which breaks import.
token_sort_ratio = F.pandas_udf(T.IntegerType())(_token_sort_ratio_fn)

# Optimization r12 (guide §4.4): every mdm consumer filters on columns
# DERIVED from the scorer (action / match_score), and the optimizer
# pushes that filter below the projection, evaluating the pandas_udf
# TWICE per candidate pair (ArrowEvalPython -> Filter -> ArrowEvalPython,
# observed live in mdm_match_scores' physical plan). The scorer is pure;
# marking it non-deterministic only forbids the optimizer to duplicate,
# reorder or constant-fold the call — one evaluation per pair, identical
# values. An INDEPENDENT udf instance (ADVICE r12): asNondeterministic
# mutates in place, so re-wrap the plain function rather than flagging
# the exported token_sort_ratio, which stays deterministic for any use
# (join condition, aggregate) where non-determinism fails analysis.
_token_sort_ratio_once = F.pandas_udf(T.IntegerType())(
    _token_sort_ratio_fn
).asNondeterministic()


def candidate_pairs(
    records: DataFrame,
    id_col: str,
    block_cols: list[str],
    payload_cols: list[str],
    max_block_size: int = 10_000,
) -> DataFrame:
    """Blocked self-join producing unordered candidate pairs
    (reference J9: fuzzy_match.py:29-33). ``a_<id> < b_<id>`` keeps one
    orientation per pair and excludes self-pairs.

    Skew guard: one hot block (a mega-city) would concentrate its n²
    pairs on a single task. Blocks larger than ``max_block_size`` are
    excluded from pairing (mirroring cooccur.py's degree_cap on hot
    contexts) — a block that big is a useless blocking key anyway, and
    the bound keeps every task's pair count ≤ max_block_size²/2.
    Re-block the skipped blocks on a tighter key."""
    ok = (
        records.groupBy(*block_cols)
        .agg(F.count(F.lit(1)).alias("_blk_n"))
        .filter(F.col("_blk_n") <= max_block_size)
        .drop("_blk_n")
    )
    records = records.join(ok, on=block_cols, how="left_semi")
    cols = [id_col, *payload_cols]
    a = records.select(*block_cols, *[F.col(c).alias(f"a_{c}") for c in cols])
    b = records.select(*block_cols, *[F.col(c).alias(f"b_{c}") for c in cols])
    return a.join(b, on=block_cols).filter(F.col(f"a_{id_col}") < F.col(f"b_{id_col}"))


def score_pairs(
    pairs: DataFrame,
    id_col: str,
    name_col: str,
    addr_col: str,
) -> DataFrame:
    """Weighted fuzzy score + confidence bucket + governance action
    (reference F9–F11: fuzzy_match.py:44-89). Normalization happens
    here (native exprs) so the UDF only sees canonical text."""
    an, bn = normalize_text(f"a_{name_col}"), normalize_text(f"b_{name_col}")
    aa, ba = normalize_text(f"a_{addr_col}"), normalize_text(f"b_{addr_col}")
    out = (
        pairs.withColumn("name_score", _token_sort_ratio_once(an, bn))
        .withColumn("addr_score", _token_sort_ratio_once(aa, ba))
        .withColumn(
            "match_score",
            F.round(0.7 * F.col("name_score") + 0.3 * F.col("addr_score"), 2),
        )
        .withColumn("confidence", confidence_bucket(F.col("match_score")))
        .withColumn("action", governance_action(F.col("confidence")))
    )
    return out


def golden_records(
    records: DataFrame,
    scored_pairs: DataFrame,
    id_col: str,
    merge_cols: list[str],
) -> DataFrame:
    """Survivorship merge of AUTO_MERGE pairs (reference
    fuzzy_match.py:121-144): per field the longest value wins; the
    golden id is the lower source id; provenance = 'id_a,id_b'."""
    auto = scored_pairs.filter(F.col("action") == "AUTO_MERGE")
    merged = [longest_string(F.col(f"a_{c}"), F.col(f"b_{c}")).alias(c) for c in merge_cols]
    return auto.select(
        F.col(f"a_{id_col}").alias(f"golden_{id_col}"),
        *merged,
        F.concat_ws(
            ",", F.col(f"a_{id_col}").cast("string"), F.col(f"b_{id_col}").cast("string")
        ).alias("source_ids"),
        F.col("match_score"),
    )


def mdm_scorecard(records: DataFrame, scored_pairs: DataFrame) -> DataFrame:
    """Governance scorecard (reference A8: fuzzy_match.py:181-194) in
    two small aggregates + a cross join of the 1-row results."""
    totals = records.agg(F.count(F.lit(1)).alias("total_records"))
    pair_stats = scored_pairs.agg(
        F.count(F.lit(1)).alias("candidate_pairs"),
        F.coalesce(F.sum(F.when(F.col("action") == "AUTO_MERGE", 1).otherwise(0)), F.lit(0)).alias(
            "auto_merge_pairs"
        ),
        F.coalesce(
            F.sum(F.when(F.col("action") == "STEWARD_REVIEW", 1).otherwise(0)), F.lit(0)
        ).alias("steward_review_pairs"),
        F.coalesce(F.sum(F.when(F.col("action") == "NO_ACTION", 1).otherwise(0)), F.lit(0)).alias(
            "no_action_pairs"
        ),
    )
    return (
        totals.crossJoin(pair_stats)
        .withColumn("duplicate_rate_pct", pct(F.col("auto_merge_pairs"), F.col("total_records")))
        .withColumn("review_rate_pct", pct(F.col("steward_review_pairs"), F.col("candidate_pairs")))
    )
