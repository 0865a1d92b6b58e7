"""bench.py's host record, read without Spark."""

from __future__ import annotations

import bench


def test_steal_reader_reads_proc_stat():
    """Steal and total jiffies never run backwards between two readings,
    and the stolen share of the time between them is a percentage."""
    before = bench._cpu_times()
    sum(i * i for i in range(200_000))  # let some CPU time pass
    after = bench._cpu_times()
    assert after[0] - before[0] >= 0
    assert after[1] - before[1] >= 0
    assert 0.0 <= bench._steal_pct(before, after) <= 100.0
    assert bench._steal_pct((10, 1000), (15, 1100)) == 5.0
    assert bench._steal_pct((10, 1000), (10, 1000)) == 0.0
