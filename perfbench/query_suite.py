"""query_suite: registry queries on the cold path, one after another.

Set-up writes the ten seeded input tables, runs a warm-up pass that
compares every query's rows with its DuckDB oracle (the canonicalization
of tests/test_oracle_parity.py), and one warm-up pass run as the timed
one is. The timed pass then runs the twelve queries of ``layers.SUITE``
in seeded order and reports CPU time per query; each is built through its
registry function, materialized with the ``noop`` sink, and its row
count is checked against the warm-up pass. ``session.clear_caches``
runs between queries. No warehouse is configured: this is the hermetic
path the `__spark_entry__` query contract runs.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import time

import datagen
import layers
from harness import JobCounter, Outcome, timed_window

SF_NAME = "bench"
TIMED_PASSES = 1  # twelve queries


def _canon_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    return repr(v)


def canon_rows(cols: list[str], rows: list) -> list[str]:
    """Order-insensitive, column-order-insensitive row strings."""
    cols = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon_cell(r[i]) for i in order) for r in rows)


def oracle_problem(name: str, df, con, sql: str) -> tuple[str | None, int]:
    """Compare a query's rows with its oracle; (problem or None, rows)."""
    rows = [tuple(r) for r in df.collect()]
    rel = con.sql(sql)
    duck_rows = rel.fetchall()
    if sorted(c.lower() for c in df.columns) != sorted(c.lower() for c in rel.columns):
        return f"{name}: columns {df.columns} vs oracle {rel.columns}", len(rows)
    if len(rows) != len(duck_rows):
        return f"{name}: {len(rows)} rows vs oracle {len(duck_rows)}", len(rows)
    a, b = canon_rows(df.columns, rows), canon_rows(rel.columns, duck_rows)
    bad = next(((x, y) for x, y in zip(a, b) if x != y), None)
    return (f"{name}: first mismatch {bad}" if bad else None), len(rows)


def run(spark, *, run_dir, seed, seconds, trace, t_start, session_start_s) -> Outcome:
    import duckdb
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from cs_5542_lab_6_spark.registry import all_oracles, all_queries
    from cs_5542_lab_6_spark.session import clear_caches
    from cs_5542_lab_6_spark.sources import TABLE_NAMES

    out = Outcome()
    sf = os.path.join(run_dir, "in", SF_NAME)
    input_bytes = datagen.write_inputs(sf, seed, TABLE_NAMES)
    queries, oracles = all_queries(), all_oracles()
    rng = random.Random(seed)

    jobs = JobCounter(spark.sparkContext)
    per_query: dict[str, dict[str, list[float]]] = {q: {} for q in layers.SUITE}
    query_s: dict[str, list[float]] = {}

    def measure(name: str, obs, traced: bool) -> None:
        """Build and materialize one query; a traced call also records
        its construction, Catalyst and execution split and job counts."""
        if not traced:
            df = queries[name](spark, sf)
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
                "overwrite"
            ).save()
            return
        sample = per_query[name]
        t0 = time.perf_counter()
        with jobs.group(f"{name}-construct") as g:
            df = queries[name](spark, sf)
        sample.setdefault("construct_s", []).append(time.perf_counter() - t0)
        sample.setdefault("jobs_construct", []).append(g["jobs"])
        # analysis, optimization and planning of the query's own plan, as
        # Catalyst's phase tracker records them. This plan never runs: the
        # noop write below plans its own command in a query execution
        # Python cannot reach, and that planning is part of execute_s
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        sample.setdefault("catalyst_ms", []).append(
            sum(
                phases.get(p).get().durationMs()
                for p in ("analysis", "optimization", "planning")
                if phases.get(p).isDefined()
            )
        )
        t1 = time.perf_counter()
        with jobs.group(f"{name}-execute") as g:
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
                "overwrite"
            ).save()
        sample.setdefault("execute_s", []).append(time.perf_counter() - t1)
        sample.setdefault("jobs_execute", []).append(g["jobs"])

    def one_pass(label: str, traced: bool) -> list[float]:
        """All suite queries in seeded order; their latencies."""
        op_s = []
        for name in rng.sample(layers.SUITE, len(layers.SUITE)):
            obs = Observation(f"rows_{label}_{name}")
            t0 = time.perf_counter()
            try:
                measure(name, obs, traced)
            except Exception as e:  # a failing query is a failed operation
                out.op(False, f"{name}: {type(e).__name__}: {e}")
                clear_caches(spark)
                continue
            op_s.append(time.perf_counter() - t0)
            query_s.setdefault(name, []).append(round(op_s[-1], 4))
            rows = obs.get["rows"]
            clear_caches(spark)
            out.op(rows == expected.get(name), f"{name}: {rows} rows, warm-up had {expected.get(name)}")
        return op_s

    # warm-up: one pass against the oracles, then one pass as timed, so
    # the timed passes start past the steep part of JIT warm-up
    t0 = time.perf_counter()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    expected: dict[str, int] = {}
    for name in rng.sample(layers.SUITE, len(layers.SUITE)):
        try:
            problem, expected[name] = oracle_problem(
                name, queries[name](spark, sf), con, oracles[name]
            )
        except Exception as e:  # a failing query is a failed operation
            problem = f"{name}: {type(e).__name__}: {e}"
        clear_caches(spark)
        out.op(problem is None, f"warm-up {problem}")
    con.close()
    one_pass("warm", traced=False)
    query_s.clear()
    warmup_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - t_start

    w = timed_window(lambda i, traced: one_pass(str(i), traced), TIMED_PASSES, seconds, trace)

    out.end_to_end = {"setup_s": (setup_s, "s"), "op_cpu_ms": (w.op_cpu_ms(), "ms")}
    layer = {"session.start_s": session_start_s, "session.warmup_s": warmup_s}
    if trace:
        layer.update(layers.suite_metrics(per_query))
        layer.update(layers.client_metrics(w))
    out.layer = layers.complete(layer) if trace else {}
    out.detail["layers"] = layer
    out.detail.update(
        {
            "input_bytes": input_bytes,
            "expected_rows": expected,
            "query_s": query_s,
            **layers.window_record(w),
        }
    )
    return out
