"""Cross-document exact-substring duplication (ExactSubstr dedup).

The suffix-array substring dedup of Lee et al., "Deduplicating Training
Data Makes Language Models Better" (ACL 2022), re-expressed as Spark
relational algebra: a span of >= k characters that appears verbatim in
two or more distinct documents is training-data duplication that
document-level MinHash/SimHash misses (two long docs sharing one
paragraph have low global Jaccard).  Instead of a global suffix array
(which needs a monolithic sort of every suffix), the distributed shape
is:

1. slide a k-char window over every doc (one ``explode`` — linear in
   total characters, the same asymptotics as suffix-array construction);
2. group the k-grams and keep those spanning >= ``min_docs`` distinct
   docs (one hash shuffle with map-side partial aggregation — the
   surviving "duplicated gram" table is tiny relative to the corpus, so
   AQE broadcasts it back);
3. join back and merge RUNS of consecutive duplicated positions per doc
   into maximal spans (the classic gaps-and-islands ``p - row_number``
   trick; the window is partitioned per doc, so its sort is bounded by
   a single document's length, never a global sort).

At 100 TB the only unbounded state is step 2's gram table — grams are
k chars wide (~32 bytes, the same width as an md5 hex key), the
aggregation combines map-side, and a hot gram (boilerplate repeated in
millions of docs) costs one skewed reduce key, not a quadratic join:
positions join the DISTINCT gram, never each other.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


SPAN_K = 32  # window width: spans shorter than this are not reported
SPAN_MIN_DOCS = 2  # a gram must appear in >= this many distinct docs


def crossdoc_repeated_spans(docs: DataFrame) -> DataFrame:
    """Maximal character spans (>= SPAN_K chars) appearing verbatim in
    >= SPAN_MIN_DOCS distinct documents: one row per (doc, span) with the
    0-based start offset, length, number of k-gram windows merged, and
    the md5 of the span text (the cross-engine-checkable identity of
    the duplicated content)."""
    base = docs.select("doc_id", "text").filter(
        F.length("text") >= SPAN_K
    )
    grams = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.length("text") - SPAN_K)).alias("p"),
        "text",
    ).select("doc_id", "p", F.expr(f"substring(text, p + 1, {SPAN_K})").alias("gram"))

    # Two-level dup filter: the corpus-wide shuffle carries an 8-byte
    # xxhash64 key instead of the SPAN_K-char gram (~3x lighter at 100 TB);
    # hash collisions can only ADD candidates, and the exact regroup on
    # the (tiny) surviving subset removes them — output is identical to
    # a direct group-by-gram, collision or not.
    hashed = grams.withColumn("gh", F.xxhash64("gram"))
    cand = (
        hashed.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= SPAN_MIN_DOCS)
        .select("gh")
    )
    survivors = hashed.join(cand, "gh").select("doc_id", "p", "gram")
    dup = (
        survivors.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= SPAN_MIN_DOCS)
        .select("gram")
    )
    hits = survivors.join(dup, "gram").select("doc_id", "p")

    w = Window.partitionBy("doc_id").orderBy("p")
    isl = hits.withColumn("grp", F.col("p") - F.row_number().over(w))
    spans = isl.groupBy("doc_id", "grp").agg(
        F.min("p").alias("span_start"),
        (F.max("p") - F.min("p") + SPAN_K).alias("span_len"),
        F.count("*").alias("n_grams"),
    )
    return (
        spans.join(docs.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            F.col("span_start").cast("int").alias("span_start"),
            F.col("span_len").cast("int").alias("span_len"),
            "n_grams",
            F.md5(F.expr("substring(text, span_start + 1, span_len)")).alias(
                "span_md5"
            ),
        )
    )


def crossdoc_repeated_spans_sql() -> str:
    """DuckDB twin: same windows, same island merge, same md5."""
    return f"""
WITH pos AS (
    SELECT doc_id, text, unnest(range(0, length(text) - {SPAN_K} + 1)) AS p
    FROM documents WHERE length(text) >= {SPAN_K}
),
g AS (SELECT doc_id, p, substr(text, CAST(p AS INT) + 1, {SPAN_K}) AS gram FROM pos),
dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= {SPAN_MIN_DOCS}),
hits AS (SELECT g.doc_id, g.p FROM g JOIN dup USING (gram)),
isl AS (
    SELECT doc_id, p,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
    FROM hits
),
spans AS (
    SELECT doc_id, MIN(p) AS s, MAX(p) - MIN(p) + {SPAN_K} AS span_len, COUNT(*) AS n_grams
    FROM isl GROUP BY doc_id, grp
)
SELECT s.doc_id,
       CAST(s.s AS INT) AS span_start,
       CAST(s.span_len AS INT) AS span_len,
       s.n_grams,
       md5(substr(d.text, CAST(s.s AS INT) + 1, CAST(s.span_len AS INT))) AS span_md5
FROM spans s JOIN documents d USING (doc_id)
"""


def crossdoc_span_scrub(docs: DataFrame) -> DataFrame:
    """ExactSubstr REMEDIATION (Lee et al. 2022 §3.2): for every
    duplicated span, one canonical document keeps it (min doc_id over
    the span's content hash) and every other holder has the span CUT
    from its text, order-preserving.  Returns one row per input doc:
    (doc_id, n_cuts, chars_removed, clean_len, clean_md5) — the
    rebuilt text itself rides as its md5 + length so the surgery is
    hash-checkable without shipping full documents around.

    Shapes: span detection is crossdoc_repeated_spans; the cut lists
    are per-doc interval merges (two bounded windows partitioned by
    doc) and the rebuild is a lag-complement + ordered concat — all
    keyed on doc_id, no global sort, no UDF.  Maximal spans from
    DIFFERENT gram islands can overlap char-wise (islands are disjoint
    in *positions*, but each extends k-1 chars past its last position),
    hence the explicit interval-merge step before cutting."""
    spans = crossdoc_repeated_spans(docs)
    # the span table feeds three consumers (keeper choice, cut list,
    # stats) — cache it so the corpus-wide detection pipeline runs once
    # (tiny: one row per duplicated span; at corpus scale swap for
    # persist(DISK_ONLY), same policy as the shingle-set cache)
    sp = spans.select(
        "doc_id",
        F.col("span_start").alias("s"),
        (F.col("span_start") + F.col("span_len")).alias("e"),
        F.col("span_md5").alias("m"),
    ).persist()
    keeper = sp.groupBy("m").agg(F.min("doc_id").alias("keeper"))
    cuts = sp.join(keeper, "m").filter(F.col("doc_id") != F.col("keeper")).select(
        "doc_id", "s", "e"
    )

    # merge char-overlapping cut intervals per doc (gaps-and-islands on
    # ranges: new group when this start clears every previous end)
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy("doc_id").orderBy("s")
    grp = (
        cuts.withColumn(
            "newgrp",
            (F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1))).cast("int"),
        ).withColumn("grp", F.sum("newgrp").over(w_run))
    )
    merged = grp.groupBy("doc_id", "grp").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )

    # complement segments: [prev cut end, this cut start) plus the tail
    w_lag = Window.partitionBy("doc_id").orderBy("s")
    head = merged.select(
        "doc_id",
        F.coalesce(F.lag("e").over(w_lag), F.lit(0)).alias("gs"),
        F.col("s").alias("ge"),
    )
    doc_txt = docs.select("doc_id", "text")
    tail = (
        merged.groupBy("doc_id")
        .agg(F.max("e").alias("gs"))
        .join(doc_txt, "doc_id")
        .select("doc_id", "gs", F.length("text").alias("ge"))
    )
    segs = head.unionByName(tail).filter(F.col("ge") > F.col("gs"))
    rebuilt = (
        segs.join(doc_txt, "doc_id")
        .select(
            "doc_id", "gs", F.expr("substring(text, gs + 1, ge - gs)").alias("seg")
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("gs", "seg"))),
                    lambda x: x["seg"],
                ),
                "",
            ).alias("clean_text")
        )
    )
    stats = merged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_cuts"),
        F.sum(F.col("e") - F.col("s")).alias("chars_removed"),
    )
    out = (
        doc_txt.join(stats, "doc_id", "left")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_cuts", F.lit(0)).cast("int").alias("n_cuts"),
            F.coalesce("chars_removed", F.lit(0)).cast("int").alias("chars_removed"),
            F.coalesce(
                "clean_text",
                F.when(F.col("n_cuts").isNotNull(), F.lit("")).otherwise(F.col("text")),
            ).alias("_clean"),
        )
        .select(
            "doc_id",
            "n_cuts",
            "chars_removed",
            F.length("_clean").cast("int").alias("clean_len"),
            F.md5("_clean").alias("clean_md5"),
        )
    )
    return out


def crossdoc_span_scrub_sql() -> str:
    """DuckDB twin: same spans, same keeper choice, same interval
    merge, same lag-complement rebuild."""
    return f"""
WITH pos AS (
    SELECT doc_id, text, unnest(range(0, length(text) - {SPAN_K} + 1)) AS p
    FROM documents WHERE length(text) >= {SPAN_K}
),
g AS (SELECT doc_id, p, substr(text, CAST(p AS INT) + 1, {SPAN_K}) AS gram FROM pos),
dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= {SPAN_MIN_DOCS}),
hits AS (SELECT g.doc_id, g.p FROM g JOIN dup USING (gram)),
isl AS (
    SELECT doc_id, p,
           p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
    FROM hits
),
spans AS (
    SELECT doc_id, MIN(p) AS s, MAX(p) + {SPAN_K} AS e
    FROM isl GROUP BY doc_id, grp
),
sp AS (
    SELECT s.doc_id, s.s, s.e,
           md5(substr(d.text, CAST(s.s AS INT) + 1, CAST(s.e - s.s AS INT))) AS m
    FROM spans s JOIN documents d USING (doc_id)
),
keeper AS (SELECT m, MIN(doc_id) AS keeper FROM sp GROUP BY m),
cuts AS (
    SELECT sp.doc_id, sp.s, sp.e FROM sp JOIN keeper USING (m)
    WHERE sp.doc_id <> keeper.keeper
),
mrk AS (
    SELECT doc_id, s, e,
           CASE WHEN s > COALESCE(MAX(e) OVER (
               PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
           THEN 1 ELSE 0 END AS newgrp
    FROM cuts
),
grpd AS (
    SELECT doc_id, s, e,
           SUM(newgrp) OVER (PARTITION BY doc_id ORDER BY s) AS grp
    FROM mrk
),
merged AS (SELECT doc_id, MIN(s) AS s, MAX(e) AS e FROM grpd GROUP BY doc_id, grp),
segs AS (
    SELECT doc_id,
           COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS gs,
           s AS ge
    FROM merged
    UNION ALL
    SELECT m.doc_id, MAX(m.e) AS gs, ANY_VALUE(length(d.text)) AS ge
    FROM merged m JOIN documents d USING (doc_id) GROUP BY m.doc_id
),
rebuilt AS (
    SELECT sg.doc_id,
           string_agg(substr(d.text, CAST(sg.gs AS INT) + 1,
                             CAST(sg.ge - sg.gs AS INT)), '' ORDER BY sg.gs
           ) AS clean_text
    FROM segs sg JOIN documents d USING (doc_id)
    WHERE sg.ge > sg.gs GROUP BY sg.doc_id
),
stats AS (
    SELECT doc_id, COUNT(*) AS n_cuts, SUM(e - s) AS chars_removed
    FROM merged GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(st.n_cuts, 0) AS INT) AS n_cuts,
       CAST(COALESCE(st.chars_removed, 0) AS INT) AS chars_removed,
       CAST(length(COALESCE(r.clean_text,
                CASE WHEN st.doc_id IS NOT NULL THEN '' ELSE d.text END)) AS INT
       ) AS clean_len,
       md5(COALESCE(r.clean_text,
                CASE WHEN st.doc_id IS NOT NULL THEN '' ELSE d.text END)
       ) AS clean_md5
FROM documents d
LEFT JOIN stats st USING (doc_id)
LEFT JOIN rebuilt r USING (doc_id)
"""
