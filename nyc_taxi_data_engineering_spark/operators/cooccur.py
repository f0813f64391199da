"""Co-occurrence pair mining — the item-item / user-user counting
step behind collaborative filtering, co-citation analysis, and
"customers who bought X" features: for entities sharing a context
(customers sharing a supplier, tokens sharing a document), count the
shared contexts per entity pair.

The scale hazard is the classic one: a HOT context with d entities
contributes d·(d-1)/2 pairs, so one celebrity context can dwarf the
whole job (the same quadratic block that motivates mdm.candidate_pairs'
``max_block_size``). The ``degree_cap`` lever
drops contexts whose entity count exceeds the cap BEFORE the self-join
— at 100 TB this is the difference between a keyed equi-join bounded
by cap²/2-per-context and a cluster-filling explosion. Capping is also
statistically standard here: a context shared by everyone carries no
association signal (its pairs are pure popularity), exactly like a
stop-word.

Plan shape: one groupBy to measure context degrees (map-side combine),
a semi-join filter, one self equi-join on the context key, one pair
hash agg. Every stage keyed; nothing all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cooccurrence_pairs(
    links: DataFrame,
    entity_col: str,
    context_col: str,
    degree_cap: int | None = None,
    min_shared: int = 1,
) -> DataFrame:
    """(a, b, shared_contexts) for entity pairs a < b sharing ≥
    ``min_shared`` contexts, counting each distinct (entity, context)
    link once. Contexts with more than ``degree_cap`` entities are
    dropped entirely (the hot-context skew lever)."""
    lk = links.select(
        F.col(entity_col).alias("e"), F.col(context_col).alias("ctx")
    ).distinct()
    if degree_cap is not None:
        hot = lk.groupBy("ctx").count().filter(F.col("count") > degree_cap).select("ctx")
        lk = lk.join(hot, "ctx", "left_anti")
    a, b = lk.alias("a"), lk.alias("b")
    return (
        a.join(b, (F.col("a.ctx") == F.col("b.ctx")) & (F.col("a.e") < F.col("b.e")))
        .groupBy(F.col("a.e").alias("a"), F.col("b.e").alias("b"))
        .agg(F.count(F.lit(1)).alias("shared_contexts"))
        .filter(F.col("shared_contexts") >= min_shared)
    )


def cooccurrence_pairs_sql(
    links_cte: str,
    degree_cap: int | None = None,
    min_shared: int = 1,
) -> str:
    """DuckDB twin. ``links_cte`` must define a CTE named ``links``
    with columns (e, ctx); returns a full WITH...SELECT."""
    parts = [links_cte, "lk0 AS (SELECT DISTINCT e, ctx FROM links)"]
    src = "lk0"
    if degree_cap is not None:
        parts.append(
            f"hot AS (SELECT ctx FROM lk0 GROUP BY ctx HAVING COUNT(*) > {degree_cap})"
        )
        # NOT EXISTS, not NOT IN: NOT IN over a subquery drops NULL-ctx rows
        # (and returns empty if hot ever contains a NULL), whereas the Spark
        # side's left_anti join keeps them.  NOT EXISTS with an equality
        # predicate matches left_anti's NULL semantics exactly.
        parts.append(
            "lk AS (SELECT * FROM lk0 t WHERE NOT EXISTS "
            "(SELECT 1 FROM hot h WHERE h.ctx = t.ctx))"
        )
        src = "lk"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT a.e AS a, b.e AS b, COUNT(*) AS shared_contexts
FROM {src} a JOIN {src} b ON a.ctx = b.ctx AND a.e < b.e
GROUP BY a.e, b.e
HAVING COUNT(*) >= {min_shared}"""
    )
