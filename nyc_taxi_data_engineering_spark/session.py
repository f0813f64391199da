"""SparkSession builder tuned for this engine.

Scale notes (100 TB design intent, tested on local[N]):
- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic broadcast decisions replace hand-tuned shuffle counts.
- ``spark.sql.shuffle.partitions`` is a local-mode default only; on a
  real cluster AQE's coalescing makes the initial number a ceiling.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle and are cluster-location-independent.
- Arrow enabled for every pandas interchange (Pandas UDFs, toPandas).
- DataFrame origin capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  every PySpark DataFrame and Column call takes ``inspect.stack()`` and
  makes extra JVM round trips to record its Python call site, which
  cost more than half of the JVM calls made while a query is built.
  PySpark reads the setting once per process, on its first such call,
  so it is set in the builder. Errors keep their error class and
  message; they lose only the "== DataFrame ==" fragment naming the
  Python line that built the failing expression.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory() -> str:
    """Heap for the single local-mode JVM (driver + executors), applied
    only when this process launches the JVM. ``SPARK_GRAFT_DRIVER_MEM``
    wins (``SPARK_DRIVER_MEMORY`` is honored as a fallback name; a second
    ``.config()`` for the same key would silently win over this one).
    Otherwise half of this host's physical memory, capped at 16g: Spark's
    1g default is far too small for multi-GB shuffles and checkpoints,
    and the other half is left to Python workers, the OS and a second
    session."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM", os.environ.get("SPARK_DRIVER_MEMORY"))
    if env:
        return env
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(phys_mb // 2, 16 * 1024)}m"


def get_spark(
    app_name: str = "nyc_taxi_data_engineering_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]);
    on a cluster, pass ``None`` with a pre-set master in spark-submit.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Runtime bloom-filter pushdown: on a selective big-big join
        # (e.g. lineitem x filtered orders) the probe side gets a bloom
        # filter built from the build side, cutting shuffle volume
        # before the exchange — invisible at test SFs, material at
        # 100 TB where the filtered side prunes most of the scan.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # TIMESTAMP_NS parquet (the events table) reads as long nanos
        # instead of erroring; catalog.load_table normalizes to
        # TIMESTAMP. Set here so loaders never mutate session state on
        # engine-built sessions (catalog.py falls back to setting it
        # only for foreign sessions, e.g. the driver's).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
