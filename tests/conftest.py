"""Shared test fixtures: one SparkSession per test session, DuckDB oracle
connection with fixture views registered (mirrors the driver's harness)."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cs_5542_lab_6_spark.session import get_spark
from cs_5542_lab_6_spark.sources import TABLE_NAMES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # one session for the whole run; heap and cores come from the host
    # (session.driver_memory / host_cpus). To pin the heap, set
    # SPARK_GRAFT_DRIVER_MEM for the pytest process.
    yield get_spark(app_name="cs5542-tests", shuffle_partitions=8)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle(sf_dir):
    """DuckDB connection with the same views the driver pre-registers."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    yield con
    con.close()
