"""SparkSession factory.

The reference keeps one shared Snowflake connection + MFA for every query
(reference: tools.py:8-9, agent.py:36-39); the Spark-native analogue is a
single tuned SparkSession reused across all operators.

All settings are chosen for the 100 TB design point but degrade gracefully
on local[N]:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  broadcast demotion replace hand-tuning per query.
- shuffle.partitions sized to cores locally; on a real cluster AQE
  coalesces from a higher initial number, so the setting is a floor not a
  cliff.
- Arrow on: every pandas_udf / toPandas boundary is columnar batch
  transfer, not pickled rows.
- Session timezone pinned to UTC so event-time semantics match the DuckDB
  oracle and are portable across clusters.
- Generated-code cache sized to the registry's working set
  (``CODEGEN_CACHE_ENTRIES``): a session cycling through more queries
  than Spark's default 100-class LRU holds recompiles every class with
  Janino, and the JIT compiles each new class again.
- SQL plan descriptions in the simple explain mode
  (``spark.sql.ui.explainMode=simple``). Spark renders a description of
  every SQL execution's plan for its UI whether the UI is on or not; the
  default *formatted* mode (``ExplainUtils``) costs a warm agent tool
  call about 2 ms of its 50 ms of JVM CPU (4 cores, warm JIT), and its
  rendering code is JIT-compiled on first use. Given up: with
  ``$SPARK_GRAFT_UI`` on, the SQL tab shows the simple plan tree
  instead of the formatted one with per-operator details.
- PySpark's DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  every ``Column`` method and ``F.col`` call walks the Python stack and
  resolves ``PySparkCurrentOrigin`` through py4j, whose lookup misses
  scan the classpath jars: per ``F.col`` call, about 1.2 ms wall,
  1.2 ms JVM CPU and 0.85 ms Python CPU with it on against 0.4, 0.4
  and 0.2 ms off (2,000 calls, 4 cores). Given up: an error raised
  from a DataFrame expression no longer names the Python file and line
  that built it in its query context; the error class and message are
  unchanged. PySpark reads this conf once per process, at the first
  ``Column`` call made with an active session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Share of MemAvailable the single local JVM's heap may take when
# $SPARK_GRAFT_DRIVER_MEM does not pin it; the Python workers, page cache
# and off-heap buffers need the rest.
HEAP_SHARE = 0.4
MIN_HEAP_MB = 1024

# spark.sql.codegen.cache.maxEntries (a static conf, so set at session
# build). One sweep of all 205 registry queries over the benchmark-sized
# inputs generates 3,776 distinct classes, at about 16 KB of metaspace
# each (about 65 MB with the cache full). Spark's default of 100 is
# smaller than one query_suite pass (about 175 classes), so the LRU
# evicted every class before its reuse and each pass recompiled 170-172
# of them. With this size a query_suite pass after the first compiles
# none; over bench.py's 95 headline queries (sf0.1) the passes compiled
# 1,909, then 182 and 134 classes (bench_results.json): the rest is
# not eviction but code whose class name carries the whole-stage stage
# id, which AQE numbers differently between runs (ROADMAP direction 6).
CODEGEN_CACHE_ENTRIES = 4096


def host_cpus() -> int:
    """$SPARK_GRAFT_CPUS, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def mem_available_mb() -> int:
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def driver_memory() -> str:
    """$SPARK_GRAFT_DRIVER_MEM, else HEAP_SHARE of available memory (at
    least MIN_HEAP_MB), so the heap fits the host it starts on."""
    pinned = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if pinned:
        return pinned
    return f"{max(MIN_HEAP_MB, int(mem_available_mb() * HEAP_SHARE))}m"


def get_spark(
    app_name: str = "cs_5542_lab_6_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    In local mode there is one JVM; ``spark.driver.memory`` must be set
    before JVM start, so we only apply it when constructing a fresh
    session.
    """
    cpus = host_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # --- parallelism -------------------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        # --- adaptive execution (runtime re-plan at scale) ---------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- columnar python boundary ------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- determinism / oracle parity ---------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # --- generated code reused across queries (see the constant) ---
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # custom Python DataSource pushdown (sources/api_source.py
        # narrows its page range from idx predicates)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # --- scan sizing: 128MB splits is the parquet sweet spot ---------
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- parquet codec: zstd (guide §6) — smaller than snappy at
        # similar read speed; applies to everything the engine writes
        # (warehouse stages, streaming workdirs). Measured at sf0.1:
        # warehouse 97MB -> 56MB, cold build and warm-scan timings at
        # parity (see OPTIMIZATION_r16.md) — the win is I/O bytes, which
        # is the 100 TB bottleneck, not this VM's page cache.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # --- broadcast threshold: dims (region/nation/supplier) broadcast
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- concurrent-job fairness: the warehouse build runs stage
        # builders from driver threads; under FIFO the critical-path
        # chains (iterative Lloyd/label-propagation, many small jobs)
        # queue head-of-line behind the bulk scan stages and stretch
        # 1.5-2x. FAIR round-robins task slots across concurrent jobs —
        # measured 29.5s -> 25s cold build at sf0.1 (interleaved A/B);
        # single-query latency is untouched (one job at a time == FIFO).
        .config("spark.scheduler.mode", "FAIR")
        # --- python-worker spawn resilience: the default 15s connect-back
        # bound is a LATENCY CEILING, not a sleep — under hypervisor
        # steal/storage bursts this VM has taken >15s to fork+exec a
        # Python daemon mid-suite, failing streaming queries with
        # "Timed out while waiting for the Python worker to connect
        # back" (observed r15, two tests under a concurrent load spike).
        # 120s costs nothing when healthy and rides out the noise window.
        .config("spark.python.authenticate.socketTimeout", "120s")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # --- per-call fixed costs (see the module docstring) -------------
        .config("spark.sql.ui.explainMode", "simple")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compilations(spark: SparkSession) -> int:
    """Classes this JVM has compiled from generated code so far (Spark's
    CodegenMetrics compilation-time histogram counts one per compile;
    cache hits do not count)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def clear_caches(spark: SparkSession) -> None:
    """Drop every cached relation (the shingle/entity/signature caches the
    corpus and dedup operators build per sf_dir).

    Spark's CacheManager dedupes cache() calls by logical plan, so within
    one sf_dir repeated registry sweeps reuse a single entry — but a
    long-lived session sweeping MANY sf_dirs accumulates one entry per
    distinct plan. Long-running hosts (bench loops, notebook sessions)
    should call this between corpora; storage is MEMORY_AND_DISK, so the
    cost of a stale entry is spill space, never an OOM."""
    spark.catalog.clearCache()
