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
    # pre-fault the heap once at JVM start (session.py: AlwaysPreTouch):
    # keeps this VM's intermittent slow anonymous-page backing out of
    # per-test timings and the scale canary's build-time bound. Param
    # form, NOT the env var: subprocess-spawning tests (test_cli) must
    # not inherit a 130-214s pre-fault inside their own timeouts.
    #
    # RAM floor: pretouch COMMITS AND FAULTS the full driver heap at
    # session start; unpinned, session.driver_memory sizes it from the
    # host's MemAvailable. Set SPARK_GRAFT_TEST_DRIVER_MEM (e.g. "4g")
    # to pin the test JVM without touching what bench.py / the CLI use.
    test_mem = os.environ.get("SPARK_GRAFT_TEST_DRIVER_MEM")
    if test_mem:
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = test_mem
    spark = get_spark(
        app_name="cs5542-tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=8,
        pretouch=True,
    )
    yield spark


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
