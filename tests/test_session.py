"""Session sizing: with no overrides, get_spark sizes the JVM heap and
the core count from the host it starts on."""

from __future__ import annotations

import os

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
