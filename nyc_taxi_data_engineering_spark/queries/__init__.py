"""Query modules — importing them populates the registry."""

from __future__ import annotations

import importlib

_MODULES = [
    "revenue",
    "validation",
    "integrity",
    "scd2",
    "lifecycle",
    "mdm",
    "enrichment",
    "workflow",
    "textops",
    "dedup",
    "similarity",
    "streamingq",
    "multimodalq",
    "analytics",
    "sampling",
    "search",
    "curation",
    "eventsq",
    "timeseries",
    "profiling",
    "cdcq",
    "contamination",
    "scrubq",
    "lmprep",
    "dsir",
    "sketches",
    "graphq",
    "tpchq",
    "mlprep",
    "textml",
    "statsq",
    "recsys",
    "paretoq",
    "geoq",
    "markovq",
    "pii",
    "shapleyq",
    "cohortq",
    "boostq",
    "unigramq",
]

_loaded = False


def _load_all() -> None:
    global _loaded
    if _loaded:
        return
    _loaded = True
    for m in _MODULES:
        importlib.import_module(f"nyc_taxi_data_engineering_spark.queries.{m}")


from nyc_taxi_data_engineering_spark.queries.registry import (  # noqa: E402
    all_oracles,
    all_queries,
    bench_queries,
    registry,
)
from nyc_taxi_data_engineering_spark.queries.runner import run  # noqa: E402

__all__ = ["all_queries", "all_oracles", "bench_queries", "registry", "run"]
