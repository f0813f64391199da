"""SQL workflow-runner queries (reference C11 + the §5 test taxonomy:
referential integrity, null validation, reconciliation, aggregate
consistency — sql/docs/data_quality_strategy.md:5-9).

The assertion suite runs through run_sql_workflow over temp views,
then reports per-check violation counts — the count-must-be-zero
contract as data.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.catalog import register_views
from nyc_taxi_data_engineering_spark.functions import stable_sum_sql
from nyc_taxi_data_engineering_spark.operators.geo import derive_point_sql, distance_km_sql
from nyc_taxi_data_engineering_spark.plans.sql_runner import SqlStep, run_sql_workflow
from nyc_taxi_data_engineering_spark.queries.registry import query


def _tmp_table(name: str) -> str:
    """Per-process scratch path under the repo's gitignored ``.tmp/``,
    PID-suffixed so a concurrent bench run, driver sampling pass, and
    test session never race on (or half-read) the same table
    directory. Siblings left by dead processes are reaped on the way
    in, so repeated rounds don't accumulate garbage."""
    repo_tmp = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".tmp",
    )
    os.makedirs(repo_tmp, exist_ok=True)
    for entry in os.listdir(repo_tmp):
        if entry.startswith(name + "-"):
            pid = entry.rsplit("-", 1)[-1]
            if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(os.path.join(repo_tmp, entry), ignore_errors=True)
    return os.path.join(repo_tmp, f"{name}-{os.getpid()}")

# The workflow: one transform building the aggregate, then the four
# check kinds from the reference taxonomy.
_STEPS = [
    SqlStep(
        "build_daily_revenue",
        "transform",
        """
        CREATE OR REPLACE TEMP VIEW daily_revenue AS
        SELECT l_suppkey, CAST(l_shipdate AS DATE) AS trip_date,
               CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
                 AS total_revenue,
               COUNT(*) AS trip_count
        FROM lineitem GROUP BY l_suppkey, CAST(l_shipdate AS DATE)
        """,
    ),
    SqlStep(
        "qc_no_null_suppkey",
        "quality",
        "SELECT COUNT(*) FROM lineitem WHERE l_suppkey IS NULL",
    ),
    SqlStep(
        "qc_positive_amounts",
        "quality",
        "SELECT COUNT(*) FROM lineitem WHERE l_extendedprice <= 0",
    ),
    SqlStep(
        "qc_supplier_fk_orphans",
        "quality",
        """
        SELECT COUNT(*) FROM lineitem l
        LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s.s_suppkey IS NULL
        """,
    ),
    SqlStep(
        "test_revenue_reconciliation",
        "test",
        # Sum(detail) must equal Sum(aggregate) — the reconciliation the
        # reference declared but never implemented (SURVEY §7.4.4);
        # decimal-exact sums make the equality exact, not approximate.
        """
        SELECT COUNT(*) FROM (
          SELECT (SELECT CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                       AS DECIMAL(18,4))) AS STRING) AS DOUBLE) FROM lineitem) AS d,
                 (SELECT CAST(CAST(SUM(CAST(total_revenue AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
                  FROM daily_revenue) AS a
        ) WHERE d <> a
        """,
    ),
    SqlStep(
        "test_rowcount_consistency",
        "test",
        """
        SELECT COUNT(*) FROM (
          SELECT (SELECT COUNT(*) FROM lineitem) AS d,
                 (SELECT CAST(SUM(trip_count) AS BIGINT) FROM daily_revenue) AS a
        ) WHERE d <> a
        """,
    ),
]


@query(
    "sql_workflow_checks",
    # The oracle COMPUTES each check from the data rather than pinning
    # 'OK'/0 rows: on referentially-intact driver data the two are
    # identical, but a pinned ledger silently encodes a data assumption
    # — the adversarial tiny tier (orphaned supplier FKs by design)
    # caught exactly that, with the engine honestly reporting 202
    # violations against a hardcoded 0.
    oracle="""
WITH dr AS (
    SELECT l_suppkey, CAST(l_shipdate AS DATE) AS trip_date,
           CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
             AS total_revenue,
           COUNT(*) AS trip_count
    FROM lineitem GROUP BY l_suppkey, CAST(l_shipdate AS DATE)
),
c1 AS (SELECT COUNT(*) AS v FROM lineitem WHERE l_suppkey IS NULL),
c2 AS (SELECT COUNT(*) AS v FROM lineitem WHERE l_extendedprice <= 0),
c3 AS (SELECT COUNT(*) AS v FROM lineitem l
       LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
       WHERE s.s_suppkey IS NULL),
c4 AS (SELECT COUNT(*) AS v FROM (
    SELECT (SELECT CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(18,4))) AS STRING) AS DOUBLE) FROM lineitem) AS d,
           (SELECT CAST(CAST(SUM(CAST(total_revenue AS DECIMAL(18,4))) AS STRING) AS DOUBLE) FROM dr) AS a
) WHERE d <> a),
c5 AS (SELECT COUNT(*) AS v FROM (
    SELECT (SELECT COUNT(*) FROM lineitem) AS d,
           (SELECT CAST(SUM(trip_count) AS BIGINT) FROM dr) AS a
) WHERE d <> a)
SELECT 'build_daily_revenue' AS step_name, 'transform' AS kind, 'OK' AS status,
       CAST(0 AS BIGINT) AS violations
UNION ALL SELECT 'qc_no_null_suppkey', 'quality',
       CASE WHEN v > 0 THEN 'VIOLATIONS' ELSE 'OK' END, CAST(v AS BIGINT) FROM c1
UNION ALL SELECT 'qc_positive_amounts', 'quality',
       CASE WHEN v > 0 THEN 'VIOLATIONS' ELSE 'OK' END, CAST(v AS BIGINT) FROM c2
UNION ALL SELECT 'qc_supplier_fk_orphans', 'quality',
       CASE WHEN v > 0 THEN 'VIOLATIONS' ELSE 'OK' END, CAST(v AS BIGINT) FROM c3
UNION ALL SELECT 'test_revenue_reconciliation', 'test',
       CASE WHEN v > 0 THEN 'VIOLATIONS' ELSE 'OK' END, CAST(v AS BIGINT) FROM c4
UNION ALL SELECT 'test_rowcount_consistency', 'test',
       CASE WHEN v > 0 THEN 'VIOLATIONS' ELSE 'OK' END, CAST(v AS BIGINT) FROM c5
""",
)
def q_sql_workflow_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("lineitem", "supplier"))
    results = run_sql_workflow(spark, _STEPS)
    return spark.createDataFrame(
        [(r.name, r.kind, r.status, r.violations) for r in results],
        "step_name string, kind string, status string, violations long",
    )


@query(
    "csv_roundtrip_nation",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q_csv_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + scan roundtrip (reference S2/S14 — header CSVs in and
    out): write the nation dim as a header CSV, read it back with an
    explicit schema (no inference scan — at 100 TB schema inference is
    a full extra read), and return it for value-hash comparison
    against the parquet-backed oracle. All-integer/string columns, so
    the text roundtrip is lossless. Written under the repo's
    gitignored .tmp/ (overwrite mode, so repeated runs don't
    accumulate)."""
    from nyc_taxi_data_engineering_spark.catalog import load_table

    nation = load_table(spark, sf_dir, "nation")
    path = _tmp_table("nation_csv")
    nation.write.mode("overwrite").option("header", "true").csv(path)
    return (
        spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("header", "true")
        .csv(path)
    )


@query(
    "delta_time_travel_nation",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q_delta_time_travel_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real Delta-protocol versioned sink + time travel (S3/S4/S9/S10)
    under the oracle gate: commit the nation dim as version 0, commit
    an overwrite that keeps only region 0 as version 1 (remove+add
    actions — a logical replace, no data copied or deleted), then read
    ``versionAsOf=0``. The result must equal the original table even
    though the CURRENT snapshot is the filtered one — the time-travel
    contract. Uses the pure-Python transaction log
    (sources/delta_log.py); table rebuilt fresh per call so repeated
    driver rounds stay deterministic."""
    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.sources import delta_log as D

    tbl = _tmp_table("delta_nation")
    shutil.rmtree(tbl, ignore_errors=True)
    nation = load_table(spark, sf_dir, "nation")
    D.write_delta(nation, tbl, mode="overwrite")  # v0: full dim
    D.write_delta(
        nation.filter(nation.n_regionkey == 0), tbl, mode="overwrite"
    )  # v1: logical replace
    return D.read_delta_log(spark, tbl, version_as_of=0)


@query(
    "delta_merge_upsert_nation",
    oracle="""
SELECT n_nationkey, n_name || '_v2' AS n_name, n_regionkey
FROM nation WHERE n_nationkey < 10
UNION ALL
SELECT n_nationkey, n_name, n_regionkey
FROM nation WHERE n_nationkey >= 10
UNION ALL
SELECT n_nationkey + 100 AS n_nationkey, n_name || '_new' AS n_name, n_regionkey
FROM nation WHERE n_nationkey < 3
""",
)
def q_delta_merge_upsert_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO through the pure-Python Delta log (J8 full surface:
    whenMatchedUpdateAll + whenNotMatchedInsertAll in one atomic
    commit, reference scd2_delta_vendors.py:143-170): seed the table
    with the nation dim, merge a source holding 10 updated rows
    (n_name suffixed '_v2') and 3 brand-new keys (+100, '_new'), then
    read the merged snapshot. The oracle reconstructs the exact
    post-merge table from the base dim. History must show the MERGE
    as one version on top of the seed (asserted in test_delta_log)."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.sources import delta_log as D

    tbl = _tmp_table("delta_merge_nation")
    shutil.rmtree(tbl, ignore_errors=True)
    nation = load_table(spark, sf_dir, "nation")
    key_t = nation.schema["n_nationkey"].dataType
    D.write_delta(nation, tbl, mode="overwrite")
    updates = nation.filter(F.col("n_nationkey") < 10).withColumn(
        "n_name", F.concat(F.col("n_name"), F.lit("_v2"))
    )
    news = nation.filter(F.col("n_nationkey") < 3).select(
        (F.col("n_nationkey") + 100).cast(key_t).alias("n_nationkey"),
        F.concat(F.col("n_name"), F.lit("_new")).alias("n_name"),
        "n_regionkey",
    )
    D.merge_delta(spark, tbl, updates.unionByName(news), on="n_nationkey")
    return D.read_delta_log(spark, tbl)


DELTA_SKIP_CUT = 1200  # below every sf's max o_orderkey (1500 at sf0.001)


@query(
    "delta_skipping_orders",
    oracle=f"""
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS total_price
FROM orders WHERE o_orderkey >= {DELTA_SKIP_CUT}
GROUP BY o_orderstatus
""",
)
def q_delta_skipping_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-based data skipping through the pure-Python Delta log:
    commit the orders table range-clustered on o_orderkey into 8 files
    (disjoint per-file min/max in the add actions' footer-derived
    ``stats``), then read with a ``predicates`` conjunct — the log
    prunes every file whose stats prove it holds no matching row
    BEFORE Spark lists any data, and the residual row-level filter
    runs on the survivors. The oracle computes the same aggregate from
    the raw table, so a file wrongly skipped (lost rows) or wrongly
    kept without the residual filter (extra rows) both hash-mismatch.
    File-count pruning itself is asserted in test_delta_log."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.sources import delta_log as D

    tbl = _tmp_table("delta_skip_orders")
    shutil.rmtree(tbl, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").repartitionByRange(8, "o_orderkey")
    D.write_delta(orders, tbl, mode="overwrite")
    snap = D.read_delta_log(spark, tbl, predicates=[("o_orderkey", ">=", DELTA_SKIP_CUT)])
    return (
        snap.filter(F.col("o_orderkey") >= DELTA_SKIP_CUT)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        )
    )


DELTA_PART_YEAR = 1995  # present at every sf (orders span 1992-1998)


@query(
    "delta_partitioned_orders",
    oracle=f"""
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS total_price
FROM orders WHERE EXTRACT(year FROM o_orderdate) = {DELTA_PART_YEAR}
GROUP BY o_orderstatus
""",
)
def q_delta_partitioned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned Delta write + partition-pruned read (the reference's
    Delta ``partitionBy`` surface, day7_enrichment_final.py:99-105 /
    raw_to_validated_delta.py:41-46): commit the orders table
    partitioned by order year (Hive ``o_year=.../`` layout,
    ``partitionValues`` in every add action, ``partitionColumns`` in
    metaData — the exact layout delta-spark writes), then read ONE
    year back through a log-level partition predicate. Pruning off
    ``partitionValues`` is EXACT (the stored value holds for every row
    in the file), so no residual year filter is applied — a file
    wrongly kept or wrongly dropped both hash-mismatch against the
    oracle, which recomputes the aggregate from the raw table. The
    partition-count file listing itself is asserted in test_delta_log.

    100 TB shape: the log replay alone decides which files a
    date-predicate scan lists — a day's slice of a years-deep fact
    table costs O(day), not O(table)."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.sources import delta_log as D

    tbl = _tmp_table("delta_part_orders")
    shutil.rmtree(tbl, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    D.write_delta(orders, tbl, mode="overwrite", partition_by="o_year")
    snap = D.read_delta_log(
        spark, tbl, predicates=[("o_year", "==", DELTA_PART_YEAR)]
    )
    return snap.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )


@query(
    "jsonl_roundtrip_documents",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def q_jsonl_roundtrip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + scan roundtrip — the interchange format LLM
    corpora actually ship in (one JSON object per line; WebText/C4/
    Dolma lineage). Write the documents table as JSONL, read it back
    with an explicit schema (inference would be a second full scan),
    and hash-compare against the parquet-backed oracle: proves JSON
    string escaping round-trips the text column byte-exactly. At scale
    JSONL is splittable by line, so the read parallelizes like any
    text source."""
    from nyc_taxi_data_engineering_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    path = _tmp_table("documents_jsonl")
    docs.write.mode("overwrite").json(path)
    return spark.read.schema(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).json(path)


@query(
    "orc_roundtrip_supplier",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def q_orc_roundtrip_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan roundtrip (Spark-native columnar alternative to
    parquet, common in Hive-lineage lakes): write the supplier dim as
    ORC, read it back, hash-compare against the parquet oracle —
    including a DOUBLE column, so the binary float path is proven
    lossless where CSV would not be."""
    from nyc_taxi_data_engineering_spark.catalog import load_table

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    path = _tmp_table("supplier_orc")
    sup.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@query(
    "delta_version_diff_nation",
    oracle="""
SELECT n_nationkey, 'update' AS change_type,
       n_name AS old_name, n_name || '_v2' AS new_name
FROM nation WHERE n_nationkey < 10
UNION ALL
SELECT n_nationkey + 100 AS n_nationkey, 'insert' AS change_type,
       CAST(NULL AS VARCHAR) AS old_name, n_name || '_new' AS new_name
FROM nation WHERE n_nationkey < 3
UNION ALL
SELECT n_nationkey, 'delete' AS change_type,
       n_name AS old_name, CAST(NULL AS VARCHAR) AS new_name
FROM nation WHERE n_nationkey BETWEEN 20 AND 24
""",
)
def q_delta_version_diff_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed by snapshot diff (delta_log.delta_version_diff
    — the table_changes surface for tables without per-commit change
    files): seed nation at v0, MERGE updates+inserts at v1, MERGE
    deletes at v2, then diff v0 -> v2 through time travel. Every key
    classifies insert / update / delete off a full-row md5 compare;
    the unchanged 10 keys (10..19) must vanish. The oracle rebuilds
    the exact change set from the base dim, so a wrong classification,
    a lost delete, or a leaked unchanged row all hash-mismatch."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.sources import delta_log as D

    tbl = _tmp_table("delta_diff_nation")
    shutil.rmtree(tbl, ignore_errors=True)
    nation = load_table(spark, sf_dir, "nation")
    key_t = nation.schema["n_nationkey"].dataType
    D.write_delta(nation, tbl, mode="overwrite")  # v0
    updates = nation.filter(F.col("n_nationkey") < 10).withColumn(
        "n_name", F.concat(F.col("n_name"), F.lit("_v2"))
    )
    news = nation.filter(F.col("n_nationkey") < 3).select(
        (F.col("n_nationkey") + 100).cast(key_t).alias("n_nationkey"),
        F.concat(F.col("n_name"), F.lit("_new")).alias("n_name"),
        "n_regionkey",
    )
    D.merge_delta(spark, tbl, updates.unionByName(news), on="n_nationkey")  # v1
    doomed = nation.filter(F.col("n_nationkey").between(20, 24)).select("n_nationkey", "n_name", "n_regionkey")
    D.merge_delta(
        spark, tbl, doomed, on="n_nationkey", when_matched="delete", when_not_matched="ignore"
    )  # v2
    diff = D.delta_version_diff(spark, tbl, key="n_nationkey", version_from=0, version_to=2)
    return diff.select(
        "n_nationkey",
        "change_type",
        F.col("old_n_name").alias("old_name"),
        F.col("new_n_name").alias("new_name"),
    )


@query(
    "delta_incremental_orders",
    oracle="""
SELECT o_orderstatus, COUNT(*) AS n_orders
FROM orders WHERE o_orderkey % 3 <> 0
GROUP BY o_orderstatus
""",
)
def q_delta_incremental_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental append tailing (delta_log.read_delta_appends — the
    poll-based readStream analog): seed a Delta table with a third of
    orders (v0), append the other two thirds in two commits (v1, v2),
    then poll everything SINCE v0 — the consumer must see exactly the
    appended rows, never the seed, reading only the polled commits'
    files (no snapshot scan, no join). The oracle rebuilds the
    appended subset from the base table, so a replayed seed row or a
    lost appended file both hash-mismatch."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.sources import delta_log as D

    tbl = _tmp_table("delta_tail_orders")
    shutil.rmtree(tbl, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    D.write_delta(orders.filter(F.col("o_orderkey") % 3 == 0), tbl, mode="overwrite")  # v0
    D.write_delta(orders.filter(F.col("o_orderkey") % 3 == 1), tbl, mode="append")  # v1
    D.write_delta(orders.filter(F.col("o_orderkey") % 3 == 2), tbl, mode="append")  # v2
    batch, hw = D.read_delta_appends(spark, tbl, since_version=0)
    assert hw == 2, hw
    return batch.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_orders"))


ZORDER_CUST_CUT = 150  # selective on both dims at every sf
ZORDER_KEY_CUT = 6000


@query(
    "delta_zorder_orders",
    oracle=f"""
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS total_price
FROM orders
WHERE o_custkey <= {ZORDER_CUST_CUT} AND o_orderkey <= {ZORDER_KEY_CUT}
GROUP BY o_orderstatus
""",
)
def q_delta_zorder_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering composed with Delta stats skipping — the
    multi-dimensional OPTIMIZE ZORDER BY surface: orders cluster by the
    Morton interleave of (o_custkey, o_orderkey) into 16 files, commit
    through the Delta log (footer-derived per-file min/max on BOTH
    columns), and a two-dimensional predicate read prunes files from
    the log alone before the residual row filter. Range-clustering by
    one column can only skip on that column; the Z-curve keeps both
    dimensions' per-file ranges tight, which is the whole trick. The
    oracle recomputes the aggregate from the raw table — lost rows
    from over-pruning or extras from a missing residual both
    hash-mismatch."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.operators.layout import zorder_cluster
    from nyc_taxi_data_engineering_spark.sources import delta_log as D

    tbl = _tmp_table("delta_zorder_orders")
    shutil.rmtree(tbl, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    D.write_delta(zorder_cluster(orders, ["o_custkey", "o_orderkey"], 16), tbl, mode="overwrite")
    snap = D.read_delta_log(
        spark,
        tbl,
        predicates=[("o_custkey", "<=", ZORDER_CUST_CUT), ("o_orderkey", "<=", ZORDER_KEY_CUT)],
    )
    return (
        snap.filter((F.col("o_custkey") <= ZORDER_CUST_CUT) & (F.col("o_orderkey") <= ZORDER_KEY_CUT))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        )
    )


@query(
    "delta_incremental_rollup_orders",
    oracle="""
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS total_price
FROM orders
GROUP BY o_orderstatus
""",
)
def q_delta_incremental_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance, end to end on the
    batch path: a Delta ROLLUP table (status -> count, decimal-exact
    sum) seeds from the fact table's v0, the fact table takes two more
    append commits, and the maintainer polls the appends
    (read_delta_appends), aggregates ONLY the delta, combines it
    additively with the current rollup, and MERGEs the refreshed rows
    back - the per-refresh cost is proportional to the appended data,
    never the fact history. The oracle recomputes the rollup from the
    whole fact table, so a dropped delta, a double-applied poll, or a
    non-additive merge all hash-mismatch. (The streaming twin of this
    pattern lives in streaming/delta_ingest.py via foreachBatch.)"""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.sources import delta_log as D

    fact = _tmp_table("delta_mv_fact_orders")
    roll = _tmp_table("delta_mv_rollup_orders")
    shutil.rmtree(fact, ignore_errors=True)
    shutil.rmtree(roll, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")

    def rollup(df):
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("decimal(28,2)").alias("price_acc"),
        )

    D.write_delta(orders.filter(F.col("o_orderkey") % 3 == 0), fact, mode="overwrite")  # v0
    D.write_delta(rollup(D.read_delta_log(spark, fact)), roll, mode="overwrite")
    D.write_delta(orders.filter(F.col("o_orderkey") % 3 == 1), fact, mode="append")  # v1
    D.write_delta(orders.filter(F.col("o_orderkey") % 3 == 2), fact, mode="append")  # v2
    delta_batch, _hw = D.read_delta_appends(spark, fact, since_version=0)
    delta_roll = rollup(delta_batch)
    current = D.read_delta_log(spark, roll).select(
        "o_orderstatus",
        F.col("n_orders").alias("cur_n"),
        F.col("price_acc").alias("cur_acc"),
    )
    refreshed = (
        delta_roll.join(current, "o_orderstatus", "left")
        .select(
            "o_orderstatus",
            (F.col("n_orders") + F.coalesce(F.col("cur_n"), F.lit(0))).alias("n_orders"),
            (F.col("price_acc") + F.coalesce(F.col("cur_acc"), F.lit(0).cast("decimal(28,2)")))
            .cast("decimal(28,2)")
            .alias("price_acc"),
        )
    )
    D.merge_delta(spark, roll, refreshed, on="o_orderstatus")
    return D.read_delta_log(spark, roll).select(
        "o_orderstatus",
        "n_orders",
        F.col("price_acc").cast("double").alias("total_price"),
    )


@query(
    "delta_restore_nation",
    oracle="""
SELECT n_nationkey, n_name, n_regionkey, CAST(2 AS INT) AS restored_version
FROM nation
""",
)
def q_delta_restore_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE (delta_log.restore_delta — delta-spark's RESTORE TABLE
    ... TO VERSION AS OF): seed nation at v0, clobber it with a
    mutated overwrite at v1, restore to v0 — a NEW commit v2 that
    re-adds v0's files and removes v1's, no data rewritten, history
    intact. Reading the latest snapshot must hash-match the pristine
    base dim exactly; a restore that leaked v1 rows, lost v0 files, or
    replayed stale metadata all fail the gate. At 100 TB restore is a
    pure LOG operation — O(files) add/remove actions, zero data I/O —
    which is the whole point of log-structured tables."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.sources import delta_log as D

    tbl = _tmp_table("delta_restore_nation")
    shutil.rmtree(tbl, ignore_errors=True)
    nation = load_table(spark, sf_dir, "nation")
    D.write_delta(nation, tbl, mode="overwrite")  # v0
    mutated = nation.filter(F.col("n_nationkey") % 2 == 0).withColumn(
        "n_name", F.concat(F.col("n_name"), F.lit("_CLOBBERED"))
    )
    D.write_delta(mutated, tbl, mode="overwrite")  # v1
    v = D.restore_delta(tbl, 0)  # v2: back to the seed snapshot
    return D.read_delta_log(spark, tbl).select(
        "n_nationkey",
        "n_name",
        "n_regionkey",
        F.lit(int(v)).cast("int").alias("restored_version"),
    )


@query(
    "delta_compact_orders",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS total_price
FROM orders
GROUP BY o_orderpriority
""",
)
def q_delta_compact_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE (small-file compaction) under the correctness gate:
    commit the orders table as 16 small files — the layout a streaming
    ingest leaves behind — run ``compact_delta`` down to 2, and
    aggregate THROUGH the compacted snapshot. The commit is
    remove+add with ``dataChange: false``, so the row set must be
    byte-identical to the raw table; any row lost or duplicated in
    the rewrite hash-mismatches the oracle, which recomputes from the
    original parquet. File-count and history assertions live in
    test_delta_log; this query puts the data-equivalence half under
    the driver gate.

    100 TB shape: compaction reads only the CURRENT snapshot's files
    (log replay lists them — no directory walk) and rewrites them in
    one distributed pass; at cluster scale ``target_files`` becomes a
    size-based bin-pack per partition, same commit protocol."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.sources import delta_log as D

    tbl = _tmp_table("delta_compact_orders")
    shutil.rmtree(tbl, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").repartition(16)
    D.write_delta(orders, tbl, mode="overwrite")
    D.compact_delta(spark, tbl, target_files=2)
    snap = D.read_delta_log(spark, tbl)
    return snap.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )


MV_DELETE_MOD = 13  # orders deleted: o_orderkey % 13 == 0
MV_INSERT_MOD = 17  # orders appended as key-shifted copies: % 17 == 0
MV_KEY_SHIFT = 4_000_000_000


@query(
    "delta_mv_delete_rollup_orders",
    oracle=f"""
WITH survivors AS (
  SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) AS p
  FROM orders WHERE o_orderkey % {MV_DELETE_MOD} <> 0
  UNION ALL
  SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) AS p
  FROM orders WHERE o_orderkey % {MV_INSERT_MOD} = 0
)
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(p) AS DOUBLE) AS total_price
FROM survivors GROUP BY o_orderstatus
""",
)
def q_delta_mv_delete_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE-aware incremental view maintenance — the general MV case
    the append-only rollup (delta_incremental_rollup_orders) can't
    cover: after a MERGE-delete (1-in-{MV_DELETE_MOD} keys) and an
    append (key-shifted copies of 1-in-{MV_INSERT_MOD} rows), the
    per-status rollup is maintained by RETRACTION off the row-level
    change feed (delta_version_diff): deletes contribute (-1, -price),
    inserts (+1, +price), updates both — never a re-scan of the base
    table. The maintained MV must hash-match the oracle's from-scratch
    recompute exactly (counts are integers, prices sum as
    DECIMAL(18,2) — retraction arithmetic is EXACT, so incremental
    equals recompute bit-for-bit, the property that makes retraction
    MVs trustworthy in production).

    100 TB shape: maintenance cost is change-proportional (the diff's
    keyed full-outer join + one tiny agg), not base-proportional —
    the entire point of incremental MV at scale."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.sources import delta_log as D

    tbl = _tmp_table("delta_mv_del_orders")
    shutil.rmtree(tbl, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    D.write_delta(orders, tbl, mode="overwrite")  # v0
    doomed = orders.filter(F.col("o_orderkey") % MV_DELETE_MOD == 0).select("o_orderkey")
    D.merge_delta(  # v1: MERGE-delete
        spark, tbl, doomed, on="o_orderkey",
        when_matched="delete", when_not_matched="ignore",
    )
    shifted = orders.filter(F.col("o_orderkey") % MV_INSERT_MOD == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(MV_KEY_SHIFT)
    )
    D.write_delta(shifted, tbl, mode="append")  # v2

    dec = "decimal(18,2)"
    base = (
        D.read_delta_log(spark, tbl, version_as_of=0)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("dn"),
            F.sum(F.col("o_totalprice").cast(dec)).alias("dp"),
        )
    )
    diff = D.delta_version_diff(spark, tbl, key="o_orderkey", version_from=0)
    downs = diff.filter(F.col("change_type").isin("delete", "update")).select(
        F.col("old_o_orderstatus").alias("o_orderstatus"),
        F.lit(-1).cast("long").alias("dn"),
        (-F.col("old_o_totalprice").cast(dec)).alias("dp"),
    )
    ups = diff.filter(F.col("change_type").isin("insert", "update")).select(
        F.col("new_o_orderstatus").alias("o_orderstatus"),
        F.lit(1).cast("long").alias("dn"),
        F.col("new_o_totalprice").cast(dec).alias("dp"),
    )
    return (
        base.unionByName(downs).unionByName(ups)
        .groupBy("o_orderstatus")
        .agg(F.sum("dn").alias("n_orders"), F.sum("dp").alias("tp"))
        .filter(F.col("n_orders") > 0)
        .select("o_orderstatus", "n_orders", F.col("tp").cast("double").alias("total_price"))
    )


@query(
    "delta_dv_delete_orders",
    oracle="""
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS total_price
FROM orders
WHERE NOT (o_orderstatus = 'P' OR o_totalprice < 1000.0)
GROUP BY o_orderstatus
""",
)
def q_delta_dv_delete_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE via DELETION VECTORS (the Delta protocol's
    ``deletionVectors`` table feature, sources/delta_log.py:
    delete_delta): commit orders into a Delta table, delete the
    in-progress/low-value rows by predicate WITHOUT rewriting a single
    data file — each touched file's add action gains an inline
    bitmap-descriptor of dead row indexes; the snapshot read applies
    them as one broadcast anti join on (file, row_index) — then
    aggregate the survivors. The oracle recomputes from the raw table
    with the negated predicate, so a row wrongly surviving OR wrongly
    deleted hash-mismatches. File-set immutability, DV accumulation
    across two deletes, time-travel/RESTORE/VACUUM/checkpoint/change-
    feed interplay are pinned in test_delta_log.

    100 TB shape: GDPR-style selective erasure costs O(deleted rows)
    bitmap bytes instead of copy-on-write's O(touched files) data
    bytes; reads pay one anti join whose build side is exactly the
    log-resident tombstones."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.sources import delta_log as D

    tbl = _tmp_table("delta_dv_orders")
    shutil.rmtree(tbl, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    D.write_delta(orders.repartition(8), tbl, mode="overwrite")
    D.delete_delta(spark, tbl, "o_orderstatus = 'P' OR o_totalprice < 1000.0")
    snap = D.read_delta_log(spark, tbl)
    return snap.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )


# 10% markup, bit-deterministic cross-engine (r10, VERDICT r9 #2). The old
# CAST(o_totalprice * 1.1 AS DECIMAL(18,2)) diverged: Spark casts the exact
# binary product HALF_UP, DuckDB double-rounds through x*100. And a pure
# decimal fix (price_dec * 1.10 then rescale 4→2) ALSO diverges on exact
# half-cents: Spark rescales HALF_UP, DuckDB HALF-TO-EVEN (verified:
# 1.155 → 1.16 vs 1.15). So the markup runs in integer cents with an
# explicit half-up formula — every step exact or IEEE-identical:
#   cents     = CAST(price AS DECIMAL(18,2)) * 100  (exact integer value)
#   new_cents = FLOOR((cents*110 + 50) / 100)       (half-up, integer domain)
#   price'    = new_cents / 100.0                   (same IEEE double both)
_DV_MARKUP_EXPR = (
    "CAST(CAST(FLOOR((CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
    " * 110 + 50) / 100) AS STRING) AS DOUBLE) / 100.0"
)


@query(
    "delta_dv_update_orders",
    oracle=f"""
WITH updated AS (
    SELECT CASE WHEN o_orderstatus = 'P' THEN '1-URGENT'
                ELSE o_orderpriority END AS o_orderpriority,
           CASE WHEN o_orderstatus = 'P'
                THEN {_DV_MARKUP_EXPR}
                ELSE o_totalprice END AS price
    FROM orders
)
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(price AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS total_price
FROM updated
GROUP BY o_orderpriority
""",
)
def q_delta_dv_update_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level UPDATE via deletion vectors (delete_delta's sibling,
    sources/delta_log.py update_delta): commit orders, UPDATE the
    pending rows in place — priority escalated to 1-URGENT, price
    marked up 10% — as ONE atomic commit that tombstones the matched
    positions (no file rewrite) and appends their updated images, then
    aggregate by priority through the snapshot. The oracle applies the
    same transformation with CASE/FILTER arithmetic over the raw
    table, so a row updated twice, missed, or resurrected from a
    tombstone all hash-mismatch. The updated price is computed by
    _DV_MARKUP_EXPR — integer-cents half-up, the only markup shape
    both engines evaluate bit-identically (see the comment above).

    100 TB shape: the update writes O(matched rows) new data +
    O(matched rows) bitmap bytes; copy-on-write would rewrite every
    file containing a match."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.sources import delta_log as D

    tbl = _tmp_table("delta_dvu_orders")
    shutil.rmtree(tbl, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    D.write_delta(orders.repartition(8), tbl, mode="overwrite")
    D.update_delta(
        spark,
        tbl,
        "o_orderstatus = 'P'",
        {
            "o_orderpriority": "'1-URGENT'",
            "o_totalprice": _DV_MARKUP_EXPR,
        },
    )
    snap = D.read_delta_log(spark, tbl)
    return snap.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )


@query(
    "delta_rename_customers",
    oracle="""
SELECT c_mktsegment AS segment, COUNT(*) AS n_customers,
       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS total_balance
FROM customer
GROUP BY c_mktsegment
""",
)
def q_delta_rename_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN MAPPING end to end (the Delta protocol's ``columnMapping``
    table feature, sources/delta_log.py enable_column_mapping /
    rename_column_delta / drop_column_delta): commit customers, enable
    name-mode mapping (every field gains a stable id + physical name),
    RENAME c_mktsegment→segment and c_acctbal→balance as PURE metadata
    commits — zero data bytes move — DROP c_name the same way, then
    append one more batch THROUGH the mapped write path (logical names
    in, physical names on disk) and aggregate by the renamed columns.
    The appended batch is the same rows re-keyed out of range and
    excluded by filter, proving the mapped append actually landed
    without disturbing the mapped read. The oracle aggregates the raw
    table under the OLD names — identical values under renamed columns
    is exactly what mapping must preserve. Rename/drop file-set
    immutability, time-travel-under-old-names, evolution physical-id
    minting, and DV/OPTIMIZE interplay are pinned in test_delta_log.

    100 TB shape: renaming a column on a billion-file table is one
    metaData JSON commit; copy-on-write would rewrite the entire
    table."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.sources import delta_log as D

    tbl = _tmp_table("delta_cm_customers")
    shutil.rmtree(tbl, ignore_errors=True)
    cust = load_table(spark, sf_dir, "customer")
    D.write_delta(cust.repartition(4), tbl, mode="overwrite")
    D.enable_column_mapping(tbl)
    D.rename_column_delta(tbl, "c_mktsegment", "segment")
    D.rename_column_delta(tbl, "c_acctbal", "balance")
    D.drop_column_delta(tbl, "c_name")
    extra = (
        load_table(spark, sf_dir, "customer")
        .select(
            # Negative keys mark the appended batch: a fixed POSITIVE
            # offset collided with the scale tiers' replica-key offset
            # (both 1e8), silently filtering out replicas 1..9 at sf1.
            # No real tier has negative custkeys at any scale.
            (-F.col("c_custkey") - 1).alias("c_custkey"),
            F.col("c_nationkey"),
            F.col("c_acctbal").alias("balance"),
            F.col("c_mktsegment").alias("segment"),
        )
        .limit(10)
    )
    D.write_delta(extra, tbl, mode="append")
    snap = D.read_delta_log(spark, tbl).filter(F.col("c_custkey") >= 0)
    return snap.groupBy(F.col("segment")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("balance").cast("decimal(18,2)")).cast("double").alias("total_balance"),
    )


@query(
    "delta_cdf_feed_orders",
    oracle="""
WITH changes AS (
    SELECT 'delete' AS _change_type, o_totalprice FROM orders
    WHERE o_orderstatus = 'P'
    UNION ALL
    SELECT 'update_preimage', o_totalprice FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice < 2000.0
    UNION ALL
    SELECT 'update_postimage',
           CAST(CAST(CAST(o_totalprice * 2.0 AS DECIMAL(18,2)) AS STRING) AS DOUBLE)
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice < 2000.0
)
SELECT _change_type, COUNT(*) AS n_rows,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS total_price
FROM changes
GROUP BY _change_type
""",
)
def q_delta_cdf_feed_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED write-side + protocol-rule reader
    (sources/delta_log.py enable_change_data_feed / read_change_feed):
    commit orders, enable CDF, DELETE the pending rows and UPDATE the
    cheap completed rows — both write their changed rows to
    ``_change_data/`` referenced by ``cdc`` actions — then read
    ``table_changes`` over those two commits and aggregate the feed by
    change type. The oracle reconstructs the exact expected feed
    (deletes = the P rows, pre/postimages = the cheap F rows before
    and after the 2× markup) from the raw table, so a missing
    preimage, doubled postimage, or insert leaking into the range all
    hash-mismatch. Downstream, this feed is what incremental consumers
    (MV maintenance, replication, audit) tail instead of diffing
    snapshots — per-commit cost ∝ changed rows, never table size."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.sources import delta_log as D

    tbl = _tmp_table("delta_cdf_orders")
    shutil.rmtree(tbl, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    D.write_delta(orders.repartition(8), tbl, mode="overwrite")  # v0
    v_cdf = D.enable_change_data_feed(tbl)  # v1
    # 0-row DML is a documented no-op (no commit — delete_delta's
    # "no-op MERGE" contract), so the feed range is clamped to the
    # versions the two statements ACTUALLY committed; on degenerate
    # inputs where neither predicate matches, the feed is empty and
    # the oracle's reconstructed change set is empty too.
    v_last = D.delete_delta(spark, tbl, "o_orderstatus = 'P'")  # v2 (if P rows)
    v_last = max(
        v_last,
        D.update_delta(  # v3 (if cheap F rows)
            spark,
            tbl,
            "o_orderstatus = 'F' AND o_totalprice < 2000.0",
            {"o_totalprice": "CAST(o_totalprice * 2.0 AS DECIMAL(18,2))"},
        ),
    )
    agg_cols = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    ]
    if v_last <= v_cdf:  # both statements matched nothing
        empty = spark.createDataFrame([], "_change_type string, o_totalprice double")
        return empty.groupBy("_change_type").agg(*agg_cols)
    feed = D.read_change_feed(spark, tbl, version_from=v_cdf + 1, version_to=v_last)
    return feed.groupBy("_change_type").agg(*agg_cols)


@query(
    "delta_constraint_gate_orders",
    oracle="""
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS total_price
FROM orders
WHERE o_totalprice >= 20000.0
GROUP BY o_orderstatus
""",
)
def q_delta_constraint_gate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK-constraint enforcement end-to-end (the Delta protocol's
    ``delta.constraints.*`` table configuration + writer-protocol-3
    gate, sources/delta_log.py add_constraint / write_delta): seed the
    table with the compliant non-'P' rows, ALTER TABLE ADD CONSTRAINT
    min_price CHECK (o_totalprice >= 20000.0) — which itself scans and
    certifies the existing rows — then (a) attempt to append the
    VIOLATING cheap orders, which the writer must reject pre-commit,
    and (b) append the compliant 'P' remainder, which must land. The
    oracle recomputes the constraint-satisfying slice of the raw
    table, so BOTH failure modes hash-mismatch: a writer that doesn't
    enforce lets step (a)'s rows land (extra rows), and one that
    over-rejects loses step (b)'s (missing rows). The quarantine
    count rides in the commit history, asserted in test_delta_log.

    100 TB shape: enforcement is one codegen'd filter + count over
    the incoming batch only — never a rescan of the table; the
    constraint travels in metaData so every writer sees it at the
    same version boundary."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.sources import delta_log as D

    tbl = _tmp_table("delta_constraint_orders")
    shutil.rmtree(tbl, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    compliant = F.col("o_totalprice") >= 20000.0
    is_p = F.col("o_orderstatus") == "P"
    D.write_delta(orders.filter(compliant & ~is_p), tbl, mode="overwrite")
    D.add_constraint(spark, tbl, "min_price", "o_totalprice >= 20000.0")
    violating = orders.filter(~compliant)
    # the rejection assert only makes sense when something violates: an
    # EMPTY violating batch satisfies the constraint vacuously and must
    # be allowed to (no-op) commit — degenerate inputs hit this
    if violating.limit(1).count() > 0:
        try:
            D.write_delta(violating, tbl, mode="append")
            raise AssertionError(
                "CHECK constraint min_price failed to reject a violating append"
            )
        except D.DeltaLogError:
            pass  # expected: the violating batch must not commit
    D.write_delta(orders.filter(compliant & is_p), tbl, mode="append")
    snap = D.read_delta_log(spark, tbl)
    return snap.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )


@query(
    "delta_clone_diverge_nation",
    oracle="""
SELECT n_nationkey, n_name, n_regionkey,
       CAST(1.5 AS DOUBLE) AS clone_tax_rate
FROM nation
WHERE n_regionkey = 1
""",
)
def q_delta_clone_diverge_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy CLONE then divergent evolution (sources/delta_log.py
    clone_delta): clone the nation Delta table — a metadata-only commit
    whose add actions point at the SOURCE's data files, no bytes copied
    — then OVERWRITE the clone with the region-1 slice plus a new
    column while the source keeps serving every row. The query reads
    the diverged clone; test_delta_log pins that the source is
    untouched and the clone's history starts from the clone commit.
    The dev/test-sandbox pattern: at 100 TB a clone costs one log
    entry regardless of table size, and divergence pays only for the
    delta."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.sources import delta_log as D

    src = _tmp_table("delta_clone_src_nation")
    dst = _tmp_table("delta_clone_dst_nation")
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)
    nation = load_table(spark, sf_dir, "nation")
    D.write_delta(nation, src, mode="overwrite")
    D.clone_delta(src, dst)
    diverged = (
        D.read_delta_log(spark, dst)
        .filter(F.col("n_regionkey") == 1)
        .select(
            "n_nationkey",
            "n_name",
            "n_regionkey",
            F.lit(1.5).cast("double").alias("clone_tax_rate"),
        )
    )
    D.write_delta(diverged, dst, mode="overwrite", merge_schema=True)
    assert D.read_delta_log(spark, src).count() == nation.count()  # source intact
    return D.read_delta_log(spark, dst)


@query(
    "triplog_roundtrip_trips",
    oracle=f"""
WITH pts AS (
    SELECT o_orderpriority AS vendor, o_totalprice,
           {derive_point_sql("o_orderkey", "pu", "pu")},
           {derive_point_sql("o_orderkey", "do", "do")}
    FROM orders
)
SELECT vendor, COUNT(*) AS n_trips,
       {stable_sum_sql(distance_km_sql("pu_lat", "pu_lon", "do_lat", "do_lon"), 6)} AS total_km,
       {stable_sum_sql("o_totalprice")} AS total_fare
FROM pts GROUP BY vendor ORDER BY vendor
""",
)
def q_triplog_roundtrip_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource roundtrip (sources/triplog.py): project
    orders into trip records (md5-derived OD distance from the geo
    family), write them through ``format("triplog")`` (task-commit
    protocol, one file per task), read them back through the same
    format (one partition per file), and aggregate per vendor. The
    oracle computes the identical aggregate straight from the parquet
    — so the gate proves the bespoke text format roundtrips every
    double BIT-EXACTLY (repr-out/float-in) and the source's
    partition-parallel read loses nothing."""
    from nyc_taxi_data_engineering_spark.catalog import fan_out, load_table
    from nyc_taxi_data_engineering_spark.functions import stable_sum
    from nyc_taxi_data_engineering_spark.operators.geo import derive_point, distance_km
    from nyc_taxi_data_engineering_spark.sources.triplog import register

    register(spark)
    # fan_out BEFORE the triplog write (optimization r13, guide §2 —
    # VERDICT r12 task 4): the Python-datasource writer runs one Python
    # worker per input partition, and a single-row-group parquet orders
    # scan yields ONE partition, serializing every row's format/parse
    # work onto one task (profiled: 10 tasks, 4.2 s build at sf0.1).
    # fan_out is scale-adaptive — a no-op when the scan is already
    # parallel — and the per-vendor aggregate is order-independent
    # (counts + decimal stable_sums), so values are unchanged.
    orders = fan_out(
        derive_point(
            derive_point(load_table(spark, sf_dir, "orders"), "o_orderkey", "pu", "pu"),
            "o_orderkey",
            "do",
            "do",
        ),
        spark,
    )
    trips = orders.select(
        F.col("o_orderkey").alias("trip_id"),
        F.col("o_orderpriority").alias("vendor"),
        F.col("o_orderdate").alias("ts"),
        distance_km(
            F.col("pu_lat"), F.col("pu_lon"), F.col("do_lat"), F.col("do_lon")
        ).alias("distance_km"),
        F.col("o_totalprice").alias("fare"),
    )
    path = _tmp_table("triplog_trips")
    trips.write.format("triplog").mode("overwrite").save(path)
    back = spark.read.format("triplog").load(path)
    return (
        back.groupBy("vendor")
        .agg(
            F.count(F.lit(1)).alias("n_trips"),
            stable_sum(F.col("distance_km"), 6).alias("total_km"),
            stable_sum(F.col("fare")).alias("total_fare"),
        )
        .orderBy("vendor")
    )


@query(
    "delta_hilbert_orders",
    oracle=f"""
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS total_price
FROM orders
WHERE o_custkey <= {ZORDER_CUST_CUT} AND o_orderkey <= {ZORDER_KEY_CUT}
GROUP BY o_orderstatus
""",
)
def q_delta_hilbert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert clustering composed with Delta stats skipping — the
    locality-superior alternative to delta_zorder_orders on the SAME
    two-dimensional predicate: orders cluster along the Hilbert curve
    of (o_custkey, o_orderkey) into 16 files, commit through the Delta
    log, and the 2-D read prunes files from per-file min/max before
    the residual filter. The Hilbert walk never takes Morton's
    diagonal jumps, so per-file bounding boxes are tighter and the
    log prunes at least as hard (tests/test_layout.py measures both).
    The oracle recomputes from the raw table, so over-pruning or a
    missing residual hash-mismatches."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.operators.layout import hilbert_cluster
    from nyc_taxi_data_engineering_spark.sources import delta_log as D

    tbl = _tmp_table("delta_hilbert_orders")
    shutil.rmtree(tbl, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    D.write_delta(hilbert_cluster(orders, ["o_custkey", "o_orderkey"], 16), tbl, mode="overwrite")
    snap = D.read_delta_log(
        spark,
        tbl,
        predicates=[("o_custkey", "<=", ZORDER_CUST_CUT), ("o_orderkey", "<=", ZORDER_KEY_CUT)],
    )
    return (
        snap.filter((F.col("o_custkey") <= ZORDER_CUST_CUT) & (F.col("o_orderkey") <= ZORDER_KEY_CUT))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        )
    )


@query(
    "mv_rewrite_rollup_orders",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS total_price,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) / COUNT(*) AS avg_price
FROM orders
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def q_mv_rewrite_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view query rewriting end to end: a
    (status, priority) additive-state MV materializes to Delta, then a
    COARSER aggregate (by status, filtered on the other key, asking
    for count + sum + avg) routes through the rewriter — which must
    answer from the MV with roll-up compensation, never touching the
    base table. The oracle recomputes from raw orders, so a stale MV,
    a bad roll-up, or an avg stored (instead of derived) all
    hash-mismatch."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.operators.mv_rewrite import (
        AggRequest,
        MaterializedView,
        answer,
        build_mv,
    )

    tbl = _tmp_table("mv_rewrite_orders")
    shutil.rmtree(tbl, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    mv = MaterializedView(
        name="orders_by_status_priority",
        base_table="orders",
        group_keys=("o_orderstatus", "o_orderpriority"),
        sums={"sum_price": "o_totalprice"},
        path=tbl,
    )
    build_mv(orders, mv)
    req = AggRequest(
        keys=("o_orderstatus",),
        aggs={
            "n_orders": ("count", None),
            "total_price": ("sum", "o_totalprice"),
            "avg_price": ("avg", "o_totalprice"),
        },
        filters=(("o_orderpriority", "=", "1-URGENT"),),
    )
    out, used_mv = answer(spark, mv, req, orders)
    assert used_mv, "rewriter must answer this request from the MV"
    return out.orderBy("o_orderstatus")


@query(
    "gdpr_erasure_audit",
    oracle="""
WITH targets AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 3)
SELECT 'customer' AS tbl,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS rows_before,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer WHERE c_custkey % 97 <> 3) AS rows_after,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM targets) AS rows_erased,
       CAST(0 AS BIGINT) AS residual
UNION ALL
SELECT 'orders',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_custkey % 97 <> 3),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_custkey % 97 = 3),
       CAST(0 AS BIGINT)
ORDER BY tbl
""",
)
def q_gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten, end to end on the Delta path: a subject
    set (every 97th customer) is erased from BOTH the customer table
    and its dependent orders via deletion vectors — no file rewrites —
    and the audit reports per table the before/after/erased counts
    plus a residual re-scan of the LIVE snapshot that must come back
    zero. The oracle recomputes every count from the raw tables, so a
    missed file, an over-broad DV, or a dependent-table skip all
    hash-mismatch. (Time-travel to the pre-erasure version still
    serves the rows — retention policy is vacuum's job; the change
    feed records the deletes row-level — both proven in
    tests/test_cdc.py / test_delta_log.py.)"""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.sources import delta_log as D

    rows = []
    for tbl, key in (("customer", "c_custkey"), ("orders", "o_custkey")):
        path = _tmp_table(f"gdpr_{tbl}")
        shutil.rmtree(path, ignore_errors=True)
        src = load_table(spark, sf_dir, tbl)
        D.write_delta(src, path, mode="overwrite")
        before = D.read_delta_log(spark, path).count()
        D.delete_delta(spark, path, f"{key} % 97 = 3")
        live = D.read_delta_log(spark, path)
        after = live.count()
        residual = live.filter(F.expr(f"{key} % 97 = 3")).count()
        rows.append((tbl, before, after, before - after, residual))
    return spark.createDataFrame(
        rows, "tbl string, rows_before bigint, rows_after bigint, rows_erased bigint, residual bigint"
    ).orderBy("tbl")


@query(
    "delta_partitioned_dv_orders",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS total_price
FROM orders
WHERE o_orderstatus = 'F' AND o_custkey % 97 <> 3
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_delta_partitioned_dv_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion vectors composed with Hive partitioning: orders commit
    partitioned by status, a data-column DELETE marks rows via DVs in
    every partition (no file rewrites), and the read prunes to ONE
    partition off the log's partitionValues while the DV anti-join
    drops the tombstoned rows. The oracle recomputes from the raw
    table, so a cross-partition tombstone mixup (the basename-collision
    trap), an over-broad DV, or broken pruning all hash-mismatch."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.sources import delta_log as D

    tbl = _tmp_table("delta_part_dv_orders")
    shutil.rmtree(tbl, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    D.write_delta(orders, tbl, mode="overwrite", partition_by=["o_orderstatus"])
    D.delete_delta(spark, tbl, "o_custkey % 97 = 3")
    snap = D.read_delta_log(spark, tbl, predicates=[("o_orderstatus", "=", "F")])
    return (
        snap.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "delta_generated_year_orders",
    oracle="""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY 1
ORDER BY o_year
""",
)
def q_delta_generated_year_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated columns end to end: a third of orders seeds a Delta
    table carrying o_year, the column is marked GENERATED
    (year(o_orderdate)), and the remaining two thirds append WITHOUT
    it — the writer must compute it per the stored expression. The
    oracle recomputes the per-year counts from the raw table, so a
    missed computation, a stale expression, or a dropped batch all
    hash-mismatch."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.sources import delta_log as D

    tbl = _tmp_table("delta_gen_year_orders")
    shutil.rmtree(tbl, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    seed = orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
        "o_year", F.year("o_orderdate").cast("int")
    )
    D.write_delta(seed, tbl, mode="overwrite")
    D.set_generated_column(spark, tbl, "o_year", "CAST(year(o_orderdate) AS INT)")
    D.write_delta(orders.filter(F.col("o_orderkey") % 3 != 0), tbl, mode="append")
    return (
        D.read_delta_log(spark, tbl)
        .groupBy("o_year")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .orderBy("o_year")
    )


VACUUM_KEEP_MOD = 3  # v1 keeps orders with o_orderkey % 3 != 0


@query(
    "delta_vacuum_orders",
    oracle=f"""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS total_price,
       CAST(12 AS BIGINT) AS files_deleted,
       CAST(2 AS BIGINT) AS files_on_disk
FROM orders
WHERE o_orderkey % {VACUUM_KEEP_MOD} <> 0
GROUP BY o_orderstatus
""",
)
def q_delta_vacuum_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM under the correctness gate (delta_log.vacuum_delta —
    delta-spark's VACUUM with a version-based retention window):
    commit orders as 8 files (v0), overwrite with the 2-in-{VACUUM_KEEP_MOD}
    survivor set as 4 files (v1), OPTIMIZE down to 2 (v2,
    dataChange:false), then vacuum with keep_last=1. The 8 v0 files
    and the 4 pre-compaction v1 files are unreferenced by the retained
    snapshot and must be PHYSICALLY deleted — exactly 12 — while the
    2 live files stay; the audit columns pin both counts and a
    directory walk recounts what actually survived on disk. The
    rollup reads THROUGH the post-vacuum snapshot, so a vacuum that
    deleted a live file (data loss) or resurrected a dead one breaks
    the hash against the oracle's from-raw recompute.

    100 TB shape: vacuum is log-replay (list retained snapshots'
    files) + a storage listing diff — O(files), zero data reads; the
    deletes are embarrassingly parallel fire-and-forget."""
    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.sources import delta_log as D

    tbl = _tmp_table("delta_vacuum_orders")
    shutil.rmtree(tbl, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    D.write_delta(orders.repartition(8), tbl, mode="overwrite")  # v0: 8 files
    survivors = orders.filter(F.col("o_orderkey") % VACUUM_KEEP_MOD != 0)
    D.write_delta(survivors.repartition(4), tbl, mode="overwrite")  # v1: 4 files
    D.compact_delta(spark, tbl, target_files=2)  # v2: 2 files, dataChange false
    deleted = D.vacuum_delta(tbl, keep_last=1)
    on_disk = sum(
        1
        for root, dirs, names in os.walk(tbl)
        if "_delta_log" not in root
        for n in names
        if n.endswith(".parquet")
    )
    snap = D.read_delta_log(spark, tbl)
    return snap.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
        F.lit(len(deleted)).cast("bigint").alias("files_deleted"),
        F.lit(on_disk).cast("bigint").alias("files_on_disk"),
    )


@query(
    "jdbc_roundtrip_nation",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
)
def q_jdbc_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 under the driver gate: bulk-load the nation dim into an
    embedded Derby database over JDBC (the same writer path a
    Postgres/Redshift curated target uses — reference
    ppcurated_rds.py:64-72), write it TWICE so overwrite-not-append is
    what the hash certifies, read it back over JDBC, and match the
    original bit-for-bit. Upgrades the sink from test-only to
    driver-visible. At scale the JDBC writer is per-partition batched
    inserts; dims are the realistic payload (facts belong in parquet)."""
    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.sources import write_jdbc

    db = _tmp_table("jdbc_nation_db")
    shutil.rmtree(db, ignore_errors=True)
    url = f"jdbc:derby:{db};create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    write_jdbc(nation, url, "curated_nation", driver=driver)
    write_jdbc(nation, url, "curated_nation", driver=driver)  # replace, not append
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "curated_nation")
        .option("driver", driver)
        .load()
        .orderBy("n_nationkey")
    )


@query(
    "delta_history_audit_orders",
    oracle="""
SELECT * FROM (VALUES
    (CAST(3 AS BIGINT), 'OPTIMIZE', 0),
    (CAST(2 AS BIGINT), 'WRITE', 1),
    (CAST(1 AS BIGINT), 'WRITE', 1),
    (CAST(0 AS BIGINT), 'WRITE', 1)
) AS t(version, operation, data_change)
""",
)
def q_delta_history_audit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 under the driver gate: DESCRIBE HISTORY semantics from
    commitInfo replay — seed orders (v0), append (v1), overwrite (v2),
    OPTIMIZE (v3, dataChange:false), then return (version, operation,
    data_change) newest-first and match the pinned expected ledger.
    data_change comes from the commits' ACTUAL add/remove action flags
    (any action with dataChange true), not from the operation label —
    so a compaction that forgot to mark its rewrite dataChange:false
    (poisoning every change-feed consumer downstream) mismatches here.
    History is a pure log read — O(commits), no data I/O at any scale."""
    from pyspark.sql import Row

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.sources import delta_log as D

    tbl = _tmp_table("delta_history_orders")
    shutil.rmtree(tbl, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    D.write_delta(orders.repartition(4), tbl, mode="overwrite")  # v0
    D.write_delta(orders.limit(100), tbl, mode="append")  # v1
    D.write_delta(orders.repartition(4), tbl, mode="overwrite")  # v2
    D.compact_delta(spark, tbl, target_files=2)  # v3
    hist = D.delta_log_history(tbl)

    rows = [
        Row(
            version=int(h["version"]),
            operation=str(h.get("operation", "")),
            data_change=int(D.commit_data_change(tbl, int(h["version"]))),
        )
        for h in hist
    ]
    return spark.createDataFrame(rows)


@query(
    "pipeline_run_audit",
    oracle="""
SELECT * FROM (VALUES
    ('load_orders', 'SUCCEEDED', 1),
    ('flaky_enrich', 'SUCCEEDED', 3),
    ('governance_gate', 'HALTED', 1),
    ('publish', 'SKIPPED', 0)
) AS t(stage, status, attempts)
""",
)
def q_pipeline_run_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10 under the driver gate: the orchestrated DAG's retry /
    choice-state / halt semantics exercised on REAL data and certified
    against a pinned run ledger — load succeeds first try, a flaky
    enrichment (fails twice, succeeds on the 3rd allowed attempt —
    the reference's 3-attempt retry envelope), a governance gate that
    HALTS (the Choice-state FAIL branch, not an error), and a publish
    stage that must be SKIPPED, never run. A retry loop that
    over-retries, a gate whose halt surfaces as FAILED, or a publish
    that runs after a halt all mismatch. Orchestration is
    driver-side control flow; the stages themselves are ordinary
    distributed jobs."""
    from pyspark.sql import Row

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.plans.orchestrator import (
        Pipeline,
        PipelineHalt,
    )

    orders = load_table(spark, sf_dir, "orders")
    flaky_state = {"calls": 0}

    def load_orders(ctx):
        return orders.count()

    def flaky_enrich(ctx):
        flaky_state["calls"] += 1
        if flaky_state["calls"] < 3:
            raise RuntimeError("transient enrich failure")
        return (
            orders.agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")))
            .collect()[0][0]
        )

    def governance_gate(ctx):
        raise PipelineHalt("freshness below threshold — notify and stop")

    def publish(ctx):  # pragma: no cover - must never run
        raise AssertionError("publish ran after a halt")

    pipe = (
        Pipeline("audit_demo")
        .add("load_orders", load_orders)
        .add("flaky_enrich", flaky_enrich, retries=3)
        .add("governance_gate", governance_gate)
        .add("publish", publish)
    )
    _, runs = pipe.run()
    return spark.createDataFrame(
        [Row(stage=r.stage, status=r.status, attempts=r.attempts) for r in runs]
    )


@query(
    "lineage_record_audit",
    oracle="""
SELECT * FROM (VALUES
    ('daily_revenue', 'validate', 'raw', 'orders', 'validated', 'orders_clean',
     'validate_and_split', 'quality', 1),
    ('daily_revenue', 'enrich', 'validated', 'orders_clean', 'enriched',
     'orders_enriched', 'enrich_with_dims', 'join', 1),
    ('daily_revenue', 'aggregate', 'enriched', 'orders_enriched', 'curated',
     'daily_vendor_revenue', 'revenue_rollup', 'aggregation', 1)
) AS t(pipeline_name, pipeline_stage, source_layer, source_dataset,
       dataset_layer, dataset_name, transformation_name, transformation_type,
       lineage_version)
""",
)
def q_lineage_record_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9 under the driver gate: the append-only lineage ledger for the
    flagship pipeline's three hops (raw→validated→enriched→curated),
    emitted through plans/lineage.LineageHop with the injected clock
    and hash-matched against the expected ledger — the audit artifact
    is data-at-rest, never a control channel (reference
    write_data_lineage lambda; SURVEY §3.1 step 4)."""
    from nyc_taxi_data_engineering_spark.plans.lineage import (
        LineageHop,
        lineage_table,
    )

    hops = [
        LineageHop(
            "daily_revenue", "validate", "raw", "orders", "validated",
            "orders_clean", "validate_and_split", "quality",
        ),
        LineageHop(
            "daily_revenue", "enrich", "validated", "orders_clean", "enriched",
            "orders_enriched", "enrich_with_dims", "join",
        ),
        LineageHop(
            "daily_revenue", "aggregate", "enriched", "orders_enriched", "curated",
            "daily_vendor_revenue", "revenue_rollup", "aggregation",
        ),
    ]
    return lineage_table(spark, hops).select(
        "pipeline_name", "pipeline_stage", "source_layer", "source_dataset",
        "dataset_layer", "dataset_name", "transformation_name",
        "transformation_type", "lineage_version",
    )


@query(
    "json_metrics_roundtrip",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS total_price
FROM orders GROUP BY o_orderpriority
""",
)
def q_json_metrics_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 under the driver gate: the single-file JSON metrics sink
    (coalesce(1) — metrics frames are tiny by contract) written and
    read back with an explicit schema, hash-matched to recomputing the
    metrics from raw. Certifies the JSON round trip preserves exact
    doubles (Spark writes shortest-roundtrip representations) and
    bigints — the quiet failure mode of metrics pipelines is a lossy
    serialization nobody diffs."""
    from pyspark.sql import types as T

    from nyc_taxi_data_engineering_spark.catalog import load_table
    from nyc_taxi_data_engineering_spark.sources import write_json_metrics

    out = _tmp_table("json_metrics_out")
    shutil.rmtree(out, ignore_errors=True)
    metrics = load_table(spark, sf_dir, "orders").groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )
    write_json_metrics(metrics, out)
    schema = T.StructType(
        [
            T.StructField("o_orderpriority", T.StringType()),
            T.StructField("n_orders", T.LongType()),
            T.StructField("total_price", T.DoubleType()),
        ]
    )
    return spark.read.schema(schema).json(out).select(
        "o_orderpriority", "n_orders", "total_price"
    )
