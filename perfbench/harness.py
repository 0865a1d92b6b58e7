"""Workload-independent parts of the benchmark: statistics, the request
stream, span tracing, Spark job counting, the timed window with its CPU
accounting, and the host record."""

from __future__ import annotations

import contextlib
import json
import os
import platform
import random
import re
import statistics
import time
import zlib
from dataclasses import dataclass, field
from typing import Any

import datagen

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def valid_metric_name(name: str) -> bool:
    return METRIC_NAME.fullmatch(name) is not None


# --- statistics --------------------------------------------------------------


def median_or_zero(values: list[float]) -> float:
    """Median, or 0.0 for a layer the workload does not exercise."""
    return statistics.median(values) if values else 0.0


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median: the run-to-run spread a bound is compared with."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


# --- the agent_qa request stream ---------------------------------------------

# questions are drawn from the corpus words longer than three letters, as
# a user of this corpus would type them
QUESTION_WORDS = tuple(w for w in datagen.VOCAB if len(w) > 3)
ASKS_PER_PASS = 6  # plus one page request: about 86% asks, 14% pages
DEEP_PER_PASS = 1  # asks that also call get_paper_details + search_knowledge_graph
PAGE_LIMIT = 20  # rows per /papers page


def is_deep(question: str) -> bool:
    """Whether the stand-in policy also looks up the top hit and searches
    the knowledge graph: a fixed property of the question text, so a
    repeated question always takes the same path."""
    return zlib.crc32(question.encode()) % ASKS_PER_PASS == 0


@dataclass(frozen=True)
class Request:
    kind: str  # "ask" or "page"
    question: str = ""
    offset: int = 0

    @property
    def deep(self) -> bool:
        return self.kind == "ask" and is_deep(self.question)


def request_passes(seed: int, n_passes: int, n_papers: int) -> list[list[Request]]:
    """``n_passes`` passes of ASKS_PER_PASS asks (DEEP_PER_PASS of them
    deep) and one ``/papers`` page, in seeded order. Every pass has the
    same mix, so pass times compare."""
    rng = random.Random(seed)
    passes = []
    for _ in range(n_passes):
        want = {True: DEEP_PER_PASS, False: ASKS_PER_PASS - DEEP_PER_PASS}
        reqs = []
        while any(want.values()):
            q = " ".join(rng.sample(QUESTION_WORDS, rng.randint(3, 6)))
            if want[is_deep(q)]:
                want[is_deep(q)] -= 1
                reqs.append(Request("ask", question=q))
        reqs.append(Request("page", offset=rng.randrange(0, max(1, n_papers - PAGE_LIMIT))))
        rng.shuffle(reqs)
        passes.append(reqs)
    return passes


# --- tracing -----------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: int | None = None
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class Tracer:
    """In-memory spans with parent links (single-threaded callers)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.request: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent=parent, request=self.request, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Per span: its duration minus the time its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append((sp.start, sp.end))
        return [
            sp.duration - covered(children.get(i, [])) for i, sp in enumerate(self.spans)
        ]

    def durations(self, name: str) -> list[float]:
        return [sp.duration for sp in self.spans if sp.name == name]

    def self_durations(self, name: str) -> list[float]:
        st = self.self_times()
        return [st[i] for i, sp in enumerate(self.spans) if sp.name == name]

    def attr_values(self, name: str, key: str) -> list[Any]:
        return [sp.attrs[key] for sp in self.spans if sp.name == name and key in sp.attrs]

    def write_jsonl(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for i, sp in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": sp.name,
                            "start": sp.start,
                            "end": sp.end,
                            "parent": sp.parent,
                            "request": sp.request,
                            **sp.attrs,
                        }
                    )
                    + "\n"
                )


class Patches:
    """Attribute replacements that can be switched on and off, so traced
    and untraced passes run in one process."""

    def __init__(self) -> None:
        self._items: list[tuple[Any, str, bool, Any, Any]] = []

    def wrap(self, obj: Any, attr: str, make: Any) -> None:
        """Replace ``obj.attr`` with ``make(original)`` while applied."""
        original = getattr(obj, attr)
        own = attr in vars(obj)  # False for a method looked up on the class
        self._items.append((obj, attr, own, original, make(original)))

    def apply(self) -> None:
        for obj, attr, _, _, patched in self._items:
            setattr(obj, attr, patched)

    def restore(self) -> None:
        for obj, attr, own, original, _ in self._items:
            if own:
                setattr(obj, attr, original)
            else:
                delattr(obj, attr)


class JobCounter:
    """Counts the Spark jobs a block submits from the calling thread, by
    giving the block its own job group."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self._n = 0

    @contextlib.contextmanager
    def group(self, label: str):
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        box = {"jobs": 0}
        try:
            yield box
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            box["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(gid))


# --- the timed window --------------------------------------------------------


def _by_trace() -> dict[bool, list[float]]:
    return {False: [], True: []}


@dataclass
class Window:
    """Wall time and process-tree CPU time per pass, and latency per
    operation, kept apart for traced (True) and untraced (False) passes."""

    pass_s: dict[bool, list[float]] = field(default_factory=_by_trace)
    pass_cpu_s: dict[bool, list[float]] = field(default_factory=_by_trace)
    op_s: dict[bool, list[float]] = field(default_factory=_by_trace)
    steal_pct: float = 0.0

    def op_cpu_ms(self) -> float:
        """CPU milliseconds per operation over the untraced passes."""
        return sum(self.pass_cpu_s[False]) / max(1, len(self.op_s[False])) * 1000.0


def timed_window(run_pass, passes: int, seconds: float, trace: bool) -> Window:
    """Run passes one after another until ``passes`` untraced ones are done
    (in a traced run, alternating with as many traced ones) and at least
    ``seconds`` have passed. ``run_pass(i, traced)`` runs pass ``i`` and
    returns the latencies of its operations. A fixed count of passes keeps
    the timed work the same in every run, however fast the host is."""
    w = Window()
    before = cpu_times()
    t_window = time.perf_counter()
    i = 0
    while True:
        traced = trace and i % 2 == 0
        c0, t0 = tree_cpu_s(), time.perf_counter()
        w.op_s[traced] += run_pass(i, traced)
        w.pass_s[traced].append(time.perf_counter() - t0)
        w.pass_cpu_s[traced].append(tree_cpu_s() - c0)
        i += 1
        if (
            len(w.pass_s[False]) >= passes
            and (not trace or len(w.pass_s[True]) >= passes)
            and time.perf_counter() - t_window >= seconds
        ):
            break
    w.steal_pct = steal_pct(before, cpu_times())
    return w


# --- one run's outcome -------------------------------------------------------


@dataclass
class Outcome:
    """What a workload run hands back to ``run.py``. Metric values are
    ``(value, unit)`` pairs keyed by metric name."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    end_to_end: dict[str, tuple[float, str]] = field(default_factory=dict)
    layer: dict[str, tuple[float, str]] = field(default_factory=dict)
    detail: dict[str, Any] = field(default_factory=dict)

    def op(self, ok: bool, what: str) -> bool:
        """Count one operation; a failed one is recorded with its reason."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok


# --- host record -------------------------------------------------------------


def mem_available_bytes() -> int:
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    a slow run with high steal was slowed by its host, not its code."""
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total else 0.0


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by process ``root`` (default: this one) and
    every live descendant, each with what it collected from children it
    reaped: for a run, the Python driver, the Spark JVM and the Python
    workers. The kernel charges time the hypervisor takes away to steal,
    not to the process."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # the fields after the parenthesised command name, from the state on
        fields = stat[stat.rindex(")") + 2 :].split()
        children.setdefault(int(fields[1]), []).append(int(entry))
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / _CLK_TCK


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb(mem_available: int) -> int:
    """Heap for the single local JVM: a quarter of available memory,
    at least 1 GiB and at most 3 GiB (the inputs are a few MB)."""
    return max(1024, min(3072, mem_available // (4 * 1024 * 1024)))


def host_record(spark, seed: int, workload: str, trace: bool) -> dict[str, Any]:
    import pyspark

    conf = spark.sparkContext.getConf()
    jvm = spark.sparkContext._jvm
    return {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "nproc": host_cpus(),
        "mem_available_bytes": mem_available_bytes(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_heap": conf.get("spark.driver.memory"),
        "java": jvm.java.lang.System.getProperty("java.version"),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }
