"""Benchmark entry point: one workload, one fresh process.

    python3 perfbench/run.py --workload agent_qa --seed 1 --seconds 5 --trace 0

Run from the repository root. The process pins its own configuration
(cores, driver heap, no heap pre-touch, PYTHONPATH for the Python
workers), writes every file it needs under one private directory in
``.perfbench_work/`` and deletes it on exit. The last line of standard
output is the result: ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is the run record: host, configuration, seed, sizes,
the end-to-end metrics, the layer facts measured without tracing, and
the first failures.

``--trace 0`` reports the end-to-end metrics with no instrumentation in
the program's path; ``--trace 1`` patches span recorders around the
public functions of each layer and reports the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("agent_qa", "query_suite")


def _pin_environment(run_dir: str) -> None:
    """Everything the engine reads from the environment, set before
    pyspark or the engine is imported."""
    sys.path.insert(0, HERE)
    from harness import driver_heap_mb, host_cpus, mem_available_bytes

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(host_cpus()),
            "SPARK_GRAFT_DRIVER_MEM": f"{driver_heap_mb(mem_available_bytes())}m",
            "SPARK_GRAFT_PRETOUCH": "0",
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    # query_suite measures the cold path; agent_qa sets its own warehouse
    os.environ.pop("SPARK_GRAFT_WAREHOUSE", None)
    for knob in ("SPARK_GRAFT_LLM_ENDPOINT", "SPARK_GRAFT_EMBED_MODEL", "SPARK_GRAFT_NER_MODEL"):
        os.environ.pop(knob, None)
    sys.path.insert(0, ROOT)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit: the JVM ends when the pipe
    to its standard input closes."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "cs_5542_lab_6_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(WORK_ROOT, exist_ok=True)
    run_dir = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}-{int(time.time())}")
    os.makedirs(run_dir)
    spark = None
    try:
        _pin_environment(run_dir)
        import importlib

        from harness import host_record, valid_metric_name

        workload = importlib.import_module(args.workload)
        from cs_5542_lab_6_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                    f"-XX:ErrorFile={os.environ['TMPDIR']}/hs_err_pid%p.log"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        session_start_s = time.perf_counter() - t0
        out = workload.run(
            spark,
            run_dir=run_dir,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            t_start=T_START,
            session_start_s=session_start_s,
        )
        record = host_record(spark, args.seed, args.workload, bool(args.trace))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run still owns a directory there

    metrics = out.layer if args.trace else out.end_to_end
    bad = [name for name in metrics if not valid_metric_name(name)]
    if bad:
        print(f"invalid metric names: {bad}", file=sys.stderr)
        return 2
    record.update(out.detail)
    record["end_to_end"] = {k: v for k, (v, _) in out.end_to_end.items()}
    record["failures"] = out.failures[:20]
    print(json.dumps({"record": record}, default=str))
    print(
        json.dumps(
            {
                "correct": out.failed == 0,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
