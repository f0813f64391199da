"""Table catalog: zone-aware layout + loaders for the test star schema.

The engine's durable layout is directory-per-zone of Parquet tables
(medallion zones, mirroring the reference's storage prefixes — see
/root/reference/glue_jobs/nyc_raw_to_validated_etl.py:29-32 and
governance/lineage_schema.json:3). The synthetic star schema generated
by the driver (TESTDATA.md) is the canonical input for correctness and
bench runs.
"""

from __future__ import annotations

import enum
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Driver-generated TPC-H-ish tables (one parquet file/dir each).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


class Zone(enum.Enum):
    """Medallion zones (reference: raw/validated/curated/analytics +
    quarantine/master/governance/audit prefixes)."""

    RAW = "raw"
    VALIDATED = "validated"
    CURATED = "curated"
    ANALYTICS = "analytics"
    QUARANTINE = "quarantine"
    MASTER = "master"
    GOVERNANCE = "governance"
    AUDIT = "audit"


def zone_path(root: str, zone: Zone, dataset: str) -> str:
    return os.path.join(root, zone.value, dataset)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def parquet_footers(path: str):
    """Footer metadata of a Parquet table, one ``FileMetaData`` per part
    file in path order: a driver-side read of a few KB per file, no
    Spark job, no data pages. ``path`` is a single file or a directory
    of part files. The engine's one way to read a footer."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = sorted(
            os.path.join(root, f)
            for root, _dirs, names in os.walk(path)
            for f in names
            if f.endswith(".parquet")
        )
    else:
        files = [path]
    return (pq.read_metadata(f) for f in files)


def parquet_row_count(path: str) -> int:
    """Exact row count from the footers only. The right way to size
    anything off COUNT(*) (e.g. the SemDeDup √n codebook): at 100 TB a
    counting scan is a full pass, the footers are already summed."""
    return sum(footer.num_rows for footer in parquet_footers(path))


def parquet_schema(path: str) -> StructType:
    """The Spark schema of a Parquet table, read from the footer of its
    first part file: the schema ``spark.read.parquet`` would infer,
    without the Spark job that infers it. Spark's inference (with
    ``mergeSchema`` off) also reads one part file and assumes the others
    agree. Types map as Spark's reader maps them: INT96 to TIMESTAMP,
    TIMESTAMP_NANOS to LONG (what ``nanosAsLong`` infers), timestamps
    not adjusted to UTC to TIMESTAMP_NTZ. A column type with no Spark
    mapping raises, naming the column."""
    import pyarrow as pa
    from pyspark.errors import PySparkTypeError
    from pyspark.sql.pandas.types import from_arrow_schema

    footer = next(parquet_footers(path), None)
    if footer is None:
        raise FileNotFoundError(f"no Parquet part file under {path}")
    int96 = {c.path for c in footer.schema if c.physical_type == "INT96"}
    fields = []
    for f in footer.schema.to_arrow_schema():
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            f = f.with_type(pa.timestamp("us", "UTC") if f.name in int96 else pa.int64())
        try:
            fields += from_arrow_schema(pa.schema([f]), prefer_timestamp_ntz=True).fields
        except PySparkTypeError as e:
            raise TypeError(f"{path}: column {f.name!r} has type {f.type}, which Spark cannot read") from e
    return StructType(fields)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan (reference S1) with the schema declared from the
    footer (``parquet_schema``), so opening a table starts no Spark job.
    Native reader: predicate pushdown, column pruning, and partition
    discovery come free via Catalyst.

    The ``events`` table's ``ts`` needs normalizing to session-TZ
    TIMESTAMP regardless of how the writer encoded it:
    - TIMESTAMP_NS parquet is rejected by Spark's reader by default —
      read as long nanos and convert with integer division (float
      division of epoch-nanos is lossy past 2^52, silently shifting
      microseconds).
    - TIMESTAMP_MICROS with isAdjustedToUTC=false arrives as
      TIMESTAMP_NTZ, which instant functions (``unix_micros``,
      watermarks) reject at analysis time. The session TZ is pinned
      UTC (session.py), so casting NTZ→TIMESTAMP preserves the
      stored wall-clock value as the same UTC instant the DuckDB
      oracle sees. Normalizing here — once, at the scan — keeps every
      downstream query free of per-site casts."""
    path = table_path(sf_dir, name)
    schema = parquet_schema(path)
    if name == "events":
        # engine sessions set this at build time (session.py); only a
        # foreign session (e.g. the driver's) needs it set here, so the
        # loader is a no-op on session state in the common path
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.schema(schema).parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        from pyspark.sql import functions as F

        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.schema(schema).parquet(path)


def fan_out(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Round-robin repartition when the scan yields fewer partitions
    than cores. Single-row-group parquet files (like the small test
    tables) cannot split at scan time, which serializes per-row
    compute (hashing, shingling, vector math) onto one task — a 5x+
    wall-clock hit measured at sf0.1. No-op when the scan is already
    parallel, so at cluster scale (many row groups / files) this adds
    no shuffle.

    Parallelism is estimated from the scan's file count (metadata-only,
    ``inputFiles``) instead of ``df.rdd.getNumPartitions()`` — the RDD
    conversion materializes the plan's lineage per query for the same
    answer. Small files don't split, so file count ≈ scan tasks for
    the case this guards; a single LARGE multi-row-group file would be
    repartitioned unnecessarily, which is still the right call for
    per-row-compute-bound queries."""
    target = spark.sparkContext.defaultParallelism
    n_files = len(df.inputFiles())
    if n_files and n_files < target:
        return df.repartition(target)
    return df


def load_table_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """load_table + fan_out — the loader for queries whose cost is
    per-row compute rather than I/O."""
    return fan_out(load_table(spark, sf_dir, name), spark)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Register each table as a temp view so ``spark.sql`` entry points
    (the SQL workflow runner, oracle parity) see the same catalog the
    DuckDB oracle does."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
