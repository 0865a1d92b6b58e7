"""Session sizing: with no overrides, get_spark sizes the JVM heap and
the core count from the host it starts on, and its generated-code cache
holds more classes than a session cycles through; with PySpark's
call-site capture off, failures still raise with their error class."""

from __future__ import annotations

import os

import pytest

from cs_5542_lab_6_spark import session


def test_unpinned_heap_fits_available_memory(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mem = session.driver_memory()
    assert mem.endswith("m")
    assert int(mem[:-1]) < session.mem_available_mb()


def test_environment_pins_heap_and_cores(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.driver_memory() == "3g"
    assert session.host_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert session.host_cpus() == len(os.sched_getaffinity(0))


def test_generated_code_is_reused_across_queries(spark):
    """A session cycling through more distinct plans than Spark's default
    100-class codegen cache still serves the second cycle from the cache:
    every class compiled once is reused, none is compiled again."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )
    # distinct literals give each plan its own generated classes (two per
    # plan, so one cycle is more than 100 classes)
    plans = [
        spark.range(4, numPartitions=1).selectExpr(f"id * {i} + {i} AS x")
        for i in range(120)
    ]
    compiled = []
    for _ in range(2):
        before = session.codegen_compilations(spark)
        for df in plans:
            df.collect()
        compiled.append(session.codegen_compilations(spark) - before)
    assert compiled[0] > 100
    assert compiled[1] == 0


def test_failures_stay_loud_without_call_site_capture(spark):
    """get_spark turns PySpark's DataFrame call-site capture off, and a
    failing DataFrame expression still raises with its error class: an
    ANSI divide by zero built through the column API."""
    from pyspark.errors import PySparkException
    from pyspark.errors.utils import is_debugging_enabled
    from pyspark.sql import functions as F

    # PySpark caches this flag process-wide at the first Column call made
    # with an active session; get_spark sets the conf before any is made
    assert is_debugging_enabled() is False
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    df = spark.range(2, numPartitions=1).select((F.col("id") + 1) / F.col("id"))
    with pytest.raises(PySparkException) as err:
        df.collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
