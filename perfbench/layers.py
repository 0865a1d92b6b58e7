"""The per-layer metric catalog and its computation from a traced run.

Both workloads report every metric here. A layer a workload does not
exercise reads 0 (``query_suite`` serves no requests and builds no
warehouse; ``agent_qa`` runs no registry query), which is itself the
"predicted no change" the workload notes rely on.
"""

from __future__ import annotations

import statistics

from harness import Tracer, Window, median_or_zero

SERVER_STAGES = ("papers", "chunks", "kg_nodes", "kg_edges", "kg_map")
TOOLS = ("search_papers", "get_paper_details", "search_knowledge_graph")
SUITE = (
    "vector_topk",
    "pricing_summary",
    "top3_orders_per_customer",
    "small_quantity_part_revenue",
    "order_status_priority_cube",
    "events_heavy_hitters_exact",
    "chunks_build",
    "dedup_exact",
    "embedding_quantize_int8",
    "doc_token_stats",
    "events_tumbling_daily",
    "stream_tumbling_daily",
)
QUERY_FIELDS = (
    ("construct_s", "s"),
    ("catalyst_ms", "ms"),
    ("execute_s", "s"),
    ("jobs_construct", "count"),
    ("jobs_execute", "count"),
)

# (name, unit, better): "lower" for time, work and size; the only
# "higher" is ingest.rows, the rows the warehouse delivers
CATALOG: tuple[tuple[str, str, str], ...] = tuple(
    (name, unit, "higher" if name == "ingest.rows" else "lower")
    for name, unit in (
        ("client.op_p50_ms", "ms"),
        ("client.pass_s", "s"),
        ("session.start_s", "s"),
        ("session.warmup_s", "s"),
        ("ingest.build_s", "s"),
        *((f"ingest.{st}_s", "s") for st in SERVER_STAGES),
        ("ingest.verify_s", "s"),
        ("ingest.jobs", "count"),
        ("ingest.files", "count"),
        ("ingest.bytes", "bytes"),
        ("ingest.rows", "count"),
        ("ingest.bytes_per_input_byte", "ratio"),
        ("server.ask_p50_ms", "ms"),
        ("server.page_p50_ms", "ms"),
        ("server.overhead_p50_ms", "ms"),
        ("server.history_write_p50_ms", "ms"),
        ("server.history_bytes", "bytes"),
        ("agent_loop.self_p50_ms", "ms"),
        ("agent_loop.tool_calls_per_ask", "count"),
        *(
            (f"agent_api.{t}.{f}", u)
            for t in TOOLS
            for f, u in (
                ("construct_p50_ms", "ms"),
                ("collect_p50_ms", "ms"),
                ("jobs_per_call", "count"),
            )
        ),
        ("agent_api.summarize_context_p50_ms", "ms"),
        ("embedding.embed_query_p50_ms", "ms"),
        ("corpus.read_stage_calls_per_request", "count"),
        ("corpus.read_stage_p50_ms", "ms"),
        ("corpus.papers_build_calls_per_request", "count"),
        *((f"query.{q}.{f}", u) for q in SUITE for f, u in QUERY_FIELDS),
        ("operators.construct_s", "s"),
        ("operators.catalyst_ms", "ms"),
        ("operators.execute_s", "s"),
        ("operators.jobs", "count"),
        ("trace.overhead_pct", "%"),
    )
)
UNITS = {name: unit for name, unit, _ in CATALOG}


def _ms(values: list[float]) -> float:
    return median_or_zero(values) * 1000.0


def serving_metrics(tr: Tracer) -> dict[str, float]:
    """server / agent_loop / agent_api / embedding / corpus metrics from
    the spans of traced ``agent_qa`` passes."""
    requests = [i for i, sp in enumerate(tr.spans) if sp.name == "server.request"]
    asks = [i for i in requests if tr.spans[i].attrs["kind"] == "ask"]
    n_req = len(requests) or 1
    by_parent: dict[int, list[int]] = {}
    for i, sp in enumerate(tr.spans):
        if sp.parent is not None:
            by_parent.setdefault(sp.parent, []).append(i)

    overhead = []
    for i in asks:
        runs = [c for c in by_parent.get(i, []) if tr.spans[c].name == "agent_loop.run"]
        overhead.append(tr.spans[i].duration - sum(tr.spans[c].duration for c in runs))

    def per_request(name: str) -> float:
        return sum(1 for sp in tr.spans if sp.name == name) / n_req

    out = {
        "server.ask_p50_ms": _ms([tr.spans[i].duration for i in asks]),
        "server.page_p50_ms": _ms(
            [tr.spans[i].duration for i in requests if tr.spans[i].attrs["kind"] == "page"]
        ),
        "server.overhead_p50_ms": _ms(overhead),
        "server.history_write_p50_ms": _ms(tr.durations("server.history_write")),
        "agent_loop.self_p50_ms": _ms(tr.self_durations("agent_loop.run")),
        "agent_loop.tool_calls_per_ask": len(tr.durations("agent_loop.tool")) / (len(asks) or 1),
        "agent_api.summarize_context_p50_ms": _ms(tr.durations("agent_api.summarize_context")),
        "embedding.embed_query_p50_ms": _ms(tr.durations("embedding.embed_query")),
        "corpus.read_stage_calls_per_request": per_request("corpus.read_stage"),
        "corpus.read_stage_p50_ms": _ms(tr.durations("corpus.read_stage")),
        "corpus.papers_build_calls_per_request": per_request("corpus.papers_build"),
    }
    for t in TOOLS:
        construct = f"agent_api.{t}.construct"
        collect = f"agent_api.{t}.collect"
        jobs = tr.attr_values(construct, "jobs") + tr.attr_values(collect, "jobs")
        calls = len(tr.durations(construct))
        out[f"agent_api.{t}.construct_p50_ms"] = _ms(tr.durations(construct))
        out[f"agent_api.{t}.collect_p50_ms"] = _ms(tr.durations(collect))
        out[f"agent_api.{t}.jobs_per_call"] = sum(jobs) / calls if calls else 0.0
    return out


def suite_metrics(per_query: dict[str, dict[str, list[float]]]) -> dict[str, float]:
    """query.* and operators.* from the traced passes' per-query samples
    (``per_query[q][field]`` lists one value per traced pass)."""
    out: dict[str, float] = {}
    for q in SUITE:
        for f, _ in QUERY_FIELDS:
            out[f"query.{q}.{f}"] = median_or_zero(per_query.get(q, {}).get(f, []))
    for f in ("construct_s", "catalyst_ms", "execute_s"):
        out[f"operators.{f}"] = sum(out[f"query.{q}.{f}"] for q in SUITE)
    out["operators.jobs"] = sum(
        out[f"query.{q}.jobs_construct"] + out[f"query.{q}.jobs_execute"] for q in SUITE
    )
    return out


def overhead_pct(traced: list[float], untraced: list[float]) -> float:
    """Tracing overhead: traced minus untraced median pass time, as a
    percentage of the untraced median."""
    base = statistics.median(untraced)
    return (statistics.median(traced) - base) / base * 100.0


def client_metrics(w: Window) -> dict[str, float]:
    """Wall-clock latency as the client sees it, from the untraced passes
    of a traced run, and the tracing overhead."""
    return {
        "client.op_p50_ms": _ms(w.op_s[False]),
        "client.pass_s": statistics.median(w.pass_s[False]),
        "trace.overhead_pct": overhead_pct(w.pass_s[True], w.pass_s[False]),
    }


def window_record(w: Window) -> dict:
    """The timed window for the run record: wall-clock figures of the
    untraced passes, every pass's wall and CPU time, and CPU steal."""
    return {
        "operations": len(w.op_s[False]) + len(w.op_s[True]),
        "passes": len(w.pass_s[False]) + len(w.pass_s[True]),
        "op_p50_ms": _ms(w.op_s[False]),
        "pass_s": w.pass_s,
        "pass_cpu_s": w.pass_cpu_s,
        "window_steal_pct": w.steal_pct,
    }


def complete(values: dict[str, float]) -> dict[str, tuple[float, str]]:
    """Every catalog metric, with 0 for the layers this run did not use."""
    unknown = set(values) - set(UNITS)
    if unknown:
        raise KeyError(f"metrics outside the catalog: {sorted(unknown)}")
    return {name: (float(values.get(name, 0.0)), unit) for name, unit, _ in CATALOG}
