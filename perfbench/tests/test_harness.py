"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench/tests -q

The smoke runs start a Spark session per workload (about a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import datagen  # noqa: E402
import harness  # noqa: E402
import layers  # noqa: E402


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


# --- statistics --------------------------------------------------------------


def test_quartile_spread_matches_the_acceptance_rule():
    # statistics.quantiles(n=4) on 1..10: Q1=2.75, median=5.5, Q3=8.25
    assert harness.quartile_spread([float(i) for i in range(1, 11)]) == pytest.approx(1.0)


# --- request stream ----------------------------------------------------------


def test_request_stream_is_a_function_of_the_seed():
    a = harness.request_passes(7, 30, 500)
    assert a == harness.request_passes(7, 30, 500)
    assert a != harness.request_passes(8, 30, 500)


def test_request_passes_have_a_fixed_mix():
    for p in harness.request_passes(3, 50, 500):
        asks = [r for r in p if r.kind == "ask"]
        assert len(asks) == harness.ASKS_PER_PASS
        assert sum(r.deep for r in asks) == harness.DEEP_PER_PASS
        assert len(p) == harness.ASKS_PER_PASS + 1
        for r in asks:
            assert r.deep == harness.is_deep(r.question)  # a property of the text
            words = r.question.split()
            assert 3 <= len(words) <= 6 and set(words) <= set(harness.QUESTION_WORDS)
        (page,) = [r for r in p if r.kind == "page"]
        assert 0 <= page.offset < 480


def test_inputs_are_a_function_of_the_seed(tmp_path):
    tables = ("documents", "embeddings", "lineitem")
    datagen.write_inputs(str(tmp_path / "a"), 5, tables)
    datagen.write_inputs(str(tmp_path / "b"), 5, tables)
    datagen.write_inputs(str(tmp_path / "c"), 6, tables)
    for t in tables:
        a = (tmp_path / "a" / f"{t}.parquet").read_bytes()
        assert a == (tmp_path / "b" / f"{t}.parquet").read_bytes()
        assert a != (tmp_path / "c" / f"{t}.parquet").read_bytes()


# --- spans -------------------------------------------------------------------


def _span(tr, name, start, end, parent):
    tr.spans.append(harness.Span(name, start, end, parent=parent))
    return len(tr.spans) - 1


def test_self_time_subtracts_the_union_of_children():
    tr = harness.Tracer()
    root = _span(tr, "request", 0.0, 10.0, None)
    _span(tr, "a", 1.0, 3.0, root)
    b = _span(tr, "b", 2.0, 5.0, root)  # overlaps a: union [1, 5]
    _span(tr, "c", 7.0, 8.0, root)
    _span(tr, "grandchild", 2.5, 4.0, b)  # counts against b, not root
    st = tr.self_times()
    assert st[root] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[b] == pytest.approx(3.0 - 1.5)
    assert tr.self_durations("c") == [pytest.approx(1.0)]


def test_spans_nest_and_carry_the_request_id():
    tr = harness.Tracer()
    tr.request = 4
    with tr.span("outer"):
        with tr.span("inner", k=1):
            pass
    outer, inner = tr.spans
    assert inner.parent == 0 and outer.parent is None
    assert inner.request == outer.request == 4
    assert inner.attrs == {"k": 1}
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_patches_switch_on_and_off():
    class Box:
        def f(self):
            return "orig"

    box = Box()
    p = harness.Patches()
    p.wrap(box, "f", lambda orig: lambda: "patched " + orig())
    p.wrap(harness, "median_or_zero", lambda orig: lambda *a: -1.0)
    p.apply()
    assert box.f() == "patched orig" and harness.median_or_zero([1.0]) == -1.0
    p.restore()
    assert box.f() == "orig" and harness.median_or_zero([1.0]) == 1.0
    assert "f" not in vars(box)


def test_timed_window_times_a_fixed_count_of_passes():
    calls = []

    def run_pass(i, traced):
        calls.append((i, traced))
        return [0.1, 0.2]

    w = harness.timed_window(run_pass, 3, 0.0, trace=False)
    assert calls == [(0, False), (1, False), (2, False)]
    assert len(w.pass_s[False]) == len(w.pass_cpu_s[False]) == 3 and w.pass_s[True] == []
    assert w.op_s[False] == [0.1, 0.2] * 3

    calls.clear()
    w = harness.timed_window(run_pass, 2, 0.0, trace=True)
    assert calls == [(0, True), (1, False), (2, True), (3, False)]
    assert len(w.pass_s[True]) == len(w.pass_s[False]) == 2


def test_timed_window_runs_at_least_the_given_seconds():
    import time

    def run_pass(i, traced):
        time.sleep(0.01)
        return [0.01]

    w = harness.timed_window(run_pass, 1, 0.05, trace=False)
    assert len(w.pass_s[False]) >= 2  # more than the one pass asked for
    assert sum(w.pass_s[False]) >= 0.01 * len(w.pass_s[False])


def test_op_cpu_ms_divides_untraced_cpu_by_untraced_operations():
    w = harness.Window()
    w.pass_cpu_s = {False: [1.0, 2.0], True: [9.0]}
    w.op_s = {False: [0.1] * 6, True: [0.1] * 3}
    assert w.op_cpu_ms() == pytest.approx(500.0)


def test_tree_cpu_counts_a_live_child_process():
    """CPU burnt by a child that has not exited (as the Spark JVM has not
    during a run) is counted."""
    import time

    busy = (
        "import sys, time\n"
        "t = time.process_time()\n"
        "while time.process_time() - t < 0.4: pass\n"
        "sys.stdout.write('x'); sys.stdout.flush(); time.sleep(30)\n"
    )
    before = harness.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", busy], stdout=subprocess.PIPE)
    try:
        assert child.stdout.read(1) == b"x"
        time.sleep(0.05)
        assert harness.tree_cpu_s() - before >= 0.35
    finally:
        child.kill()
        child.wait()


def test_steal_share_of_the_interval():
    assert harness.steal_pct((10, 100), (20, 200)) == pytest.approx(10.0)
    assert harness.steal_pct((5, 50), (5, 50)) == 0.0


# --- metric names ------------------------------------------------------------


@pytest.mark.parametrize("bad", ["", ".x", "a b", "a/b", "x" * 65, "ask-p50%"])
def test_metric_name_regex_rejects(bad):
    assert not harness.valid_metric_name(bad)


def test_benchmark_json_names_are_valid_and_match_the_catalog():
    bench = _benchmark()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert all(harness.valid_metric_name(n) for n in names)
    assert len(names) == len(set(names))
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == list(
        layers.CATALOG
    )
    assert any(
        m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
        for m in bench["end_to_end"]
    )


# --- smoke runs --------------------------------------------------------------


@pytest.mark.parametrize("workload", [w["name"] for w in _benchmark()["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    bench = _benchmark()
    proc = subprocess.Popen(
        [*bench["command"], "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace)],
        cwd=ROOT,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )
    stdout, stderr = proc.communicate(timeout=300)
    assert proc.returncode == 0, stderr[-3000:]
    result = json.loads(stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in bench[kind]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    work = os.path.join(ROOT, ".perfbench_work")
    own = f"{workload}-{proc.pid}-"
    assert not any(d.startswith(own) for d in (os.listdir(work) if os.path.isdir(work) else []))


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the run fails fast and
    prints no result."""
    import shutil

    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "agent_qa", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
