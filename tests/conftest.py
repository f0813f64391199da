from __future__ import annotations

import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from nyc_taxi_data_engineering_spark.catalog import TABLES, table_path  # noqa: E402
from nyc_taxi_data_engineering_spark.session import get_spark  # noqa: E402

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def build_session(warehouse: str):
    """The suite's session; ``tools/plan_audit.py`` pins its golden in the same one."""
    return get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    yield build_session(str(tmp_path_factory.mktemp("warehouse")))


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = table_path(sf_dir, t)
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()
