"""SCD Type 2 master-data maintenance (reference C4/C7, SURVEY.md §2.10).

The reference maintains versioned master entities with Delta MERGE
(glue_jobs/scd2_delta_vendors.py:36-180) and PL/pgSQL twins
(sql/scd/02_scd_procedures.sql:19-99, 03_version_procedures.sql:19-170).
Delta jars aren't available here, so the merge is re-expressed as a pure
DataFrame transform — hash-diff staging join, semi-join expiry, anti-join
carry-over, unionByName — which Catalyst plans as co-partitioned
sort-merge joins on the business key (one keyed shuffle per merge at any
scale; no driver-side loops). Each step returns the versioned table as
a DataFrame; storing it is the caller's choice (the registered
``scd2_*`` queries keep it in memory; Delta time travel is the
transaction log's, sources/delta_log.py).

Determinism (SURVEY §7.4.1): every timestamp is injected by the caller,
and batch dedup orders by record_hash instead of the reference's
nondeterministic ``orderBy(lit(1))`` (scd2_delta_vendors.py:79-85).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.functions import OPEN_END_TS, record_hash

META_COLS = ("record_hash", "effective_start_ts", "effective_end_ts", "is_current", "version_no")


def _with_hash(batch: DataFrame, tracked: Sequence[str]) -> DataFrame:
    return batch.withColumn("record_hash", record_hash(tracked))


def dedup_batch(batch: DataFrame, key: str) -> DataFrame:
    """Top-1 per business key (reference W1) with a deterministic
    order: record_hash descending (content-derived, reproducible)."""
    w = Window.partitionBy(key).orderBy(F.col("record_hash").desc())
    return (
        batch.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def scd2_init(batch: DataFrame, key: str, tracked: Sequence[str], effective_ts: str) -> DataFrame:
    """First load: every deduped row becomes version 1, open-ended."""
    return (
        dedup_batch(_with_hash(batch, tracked), key)
        .withColumn("effective_start_ts", F.lit(effective_ts).cast("timestamp"))
        .withColumn("effective_end_ts", F.lit(OPEN_END_TS).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
        .withColumn("version_no", F.lit(1))
    )


def scd2_apply(
    target: DataFrame | None,
    batch: DataFrame,
    key: str,
    tracked: Sequence[str],
    effective_ts: str,
) -> DataFrame:
    """One SCD2 merge step: returns the NEW full table (history +
    carried-over current + expired + inserted versions).

    Semantics match the reference staging join (scd2_delta_vendors.py:
    118-130): is_new = no current row for the key, is_changed = hash
    differs; changed keys expire their current row at ``effective_ts``
    and insert version_no+1; unchanged keys and keys absent from the
    batch carry over untouched.

    Chained merges must go through ``operators.iterate`` or ``pin``:
    each merge reads ``target`` four times (history, and the current
    rows for staging, expiry and carry-over), so a lazy chain re-plans
    and re-runs every earlier merge once per reader.
    """
    if target is None:
        return scd2_init(batch, key, tracked, effective_ts)

    business_cols = [c for c in batch.columns]
    batch_p = dedup_batch(_with_hash(batch, tracked), key)

    current = target.filter(F.col("is_current"))
    history = target.filter(~F.col("is_current"))

    cur_slim = current.select(
        F.col(key), F.col("record_hash").alias("_cur_hash"), F.col("version_no").alias("_cur_version")
    )
    staged = batch_p.join(cur_slim, on=key, how="left")
    inserts = (
        staged.filter(F.col("_cur_hash").isNull() | (F.col("record_hash") != F.col("_cur_hash")))
        .withColumn("version_no", F.coalesce(F.col("_cur_version"), F.lit(0)) + 1)
        .withColumn("effective_start_ts", F.lit(effective_ts).cast("timestamp"))
        .withColumn("effective_end_ts", F.lit(OPEN_END_TS).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
        .select(*business_cols, *META_COLS)
    )
    changed_keys = (
        staged.filter(F.col("_cur_hash").isNotNull() & (F.col("record_hash") != F.col("_cur_hash")))
        .select(key)
        .distinct()
    )
    expired = (
        current.join(changed_keys, on=key, how="left_semi")
        .withColumn("is_current", F.lit(False))
        .withColumn("effective_end_ts", F.lit(effective_ts).cast("timestamp"))
    )
    carried = current.join(changed_keys, on=key, how="left_anti")

    return (
        history.unionByName(expired).unionByName(carried).unionByName(inserts)
    )


def scd2_verify(table: DataFrame, key: str) -> DataFrame:
    """The single most important invariant (reference
    verify_delta_vendors_job.py:57-65): EXACTLY one is_current row per
    key. Groups over all rows (not just current ones) so keys with zero
    current rows — the corruption a bad rollback would cause — are
    flagged too, not only duplicates. Returns violating keys with their
    current-row counts (empty = healthy)."""
    return (
        table.groupBy(key)
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("is_current"), 1).otherwise(0)), F.lit(0)
            ).alias("current_rows")
        )
        .filter(F.col("current_rows") != 1)
    )


def scd2_rollback(
    table: DataFrame, keys: DataFrame, key: str, to_version: int, effective_ts: str
) -> DataFrame:
    """Rollback-to-version (reference C7:
    sql/scd/03_version_procedures.sql:93-118): expire the current row of
    each key and re-insert a copy of ``to_version``'s business values as
    a brand-new max_version+1 row — history is append-only, never
    rewritten.

    Keys that have no ``to_version`` row are left untouched (the
    reference procedure raises 'Target version not found',
    03_version_procedures.sql:82-90; here the affected set is restricted
    instead so a partially-bad key list can't expire a key's current row
    without re-inserting one — that would break the exactly-one-current
    invariant scd2_verify checks)."""
    keys = (
        table.filter(F.col("version_no") == to_version)
        .join(keys.select(key).distinct(), on=key, how="left_semi")
        .select(key)
        .distinct()
    )
    affected_cur = table.filter(F.col("is_current")).join(keys, on=key, how="left_semi")
    untouched = table.join(keys, on=key, how="left_anti").unionByName(
        table.filter(~F.col("is_current")).join(keys, on=key, how="left_semi")
    )
    expired = affected_cur.withColumn("is_current", F.lit(False)).withColumn(
        "effective_end_ts", F.lit(effective_ts).cast("timestamp")
    )
    max_ver = table.join(keys, on=key, how="left_semi").groupBy(key).agg(
        F.max("version_no").alias("_max_ver")
    )
    source = (
        table.filter(F.col("version_no") == to_version)
        .join(keys, on=key, how="left_semi")
        .join(max_ver, on=key)
    )
    reinserted = (
        source.withColumn("version_no", F.col("_max_ver") + 1)
        .drop("_max_ver")
        .withColumn("effective_start_ts", F.lit(effective_ts).cast("timestamp"))
        .withColumn("effective_end_ts", F.lit(OPEN_END_TS).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )
    return untouched.unionByName(expired).unionByName(reinserted.select(*expired.columns))
