"""agent_qa: the research-assistant server over a warehouse it builds.

Set-up writes the seeded corpus, builds the five warehouse stages the
server reads (``layers.SERVER_STAGES``) with ``pipeline.ingest.
build_corpus`` and checks them, then warms the app with three passes of
requests, checking the first asks' top-5 citations against DuckDB. The
timed window sends three passes of six ``POST /query`` and one ``GET
/papers`` request through the WSGI app from ``server.create_app``, one
client, closed loop, and reports CPU time per request.
Questions are answered by a seeded policy standing in for the LLM:
``search_papers``; on one ask per pass also ``get_paper_details`` on the
top hit and ``search_knowledge_graph`` on the question; then
``summarize_context``.
"""

from __future__ import annotations

import contextlib
import functools
import io
import json
import os
import time

import datagen
import layers
from harness import (
    PAGE_LIMIT,
    JobCounter,
    Outcome,
    Patches,
    Request,
    Tracer,
    is_deep,
    request_passes,
    timed_window,
)

SF_NAME = "bench"
N_PASSES = 400  # more than any window uses
N_ORACLE_ASKS = 4  # warm-up asks whose top-5 is checked against DuckDB
# the timed passes then start past the steep part of JIT warm-up
WARMUP_PASSES = 3
TIMED_PASSES = 3  # 21 requests


# --- the stand-in for the LLM ------------------------------------------------


def seeded_policy():
    """search_papers, then (for deep questions, ``harness.is_deep``) a
    point lookup of the top hit and a KG search on the question, then
    summarize_context, then answer with the summary."""

    def policy(messages: list[dict]) -> dict:
        called = [
            tc["name"]
            for m in messages
            if m["role"] == "assistant"
            for tc in m.get("tool_calls", ())
        ]
        question = next(m["content"] for m in reversed(messages) if m["role"] == "user")
        last = next((m["content"] for m in reversed(messages) if m["role"] == "tool"), "")
        if "search_papers" not in called:
            return {"tool_calls": [{"name": "search_papers", "arguments": {"query": question, "top_k": 5}}]}
        if is_deep(question) and "get_paper_details" not in called:
            hits = json.loads(last) or [{}]
            return {
                "tool_calls": [
                    {"name": "get_paper_details", "arguments": {"paper_id": hits[0].get("paper_id", "")}},
                    {"name": "search_knowledge_graph", "arguments": {"query": question}},
                ]
            }
        if "summarize_context" not in called:
            return {"tool_calls": [{"name": "summarize_context", "arguments": {"question": question}}]}
        return {"content": json.loads(last) if last else ""}

    return policy


# --- WSGI client -------------------------------------------------------------


def call(app, method: str, path: str, body: dict | None = None, query: str = "",
         tr: Tracer | None = None):
    """One request through the WSGI app; returns (status, payload, seconds)
    timed from the call to the last response byte (a ``server.request``
    span when traced)."""
    raw = json.dumps(body).encode() if body is not None else b""
    environ = {
        "REQUEST_METHOD": method,
        "PATH_INFO": path,
        "QUERY_STRING": query,
        "CONTENT_LENGTH": str(len(raw)),
        "wsgi.input": io.BytesIO(raw),
    }
    status: list[str] = []
    kind = "ask" if path == "/query" else "page"
    with tr.span("server.request", kind=kind) if tr else contextlib.nullcontext():
        t0 = time.perf_counter()
        body_bytes = b"".join(app(environ, lambda s, h: status.append(s)))
        dt = time.perf_counter() - t0
    return status[0], json.loads(body_bytes), dt


def check_ask(req: Request, status: str, payload: dict) -> str | None:
    """None when the answer is well formed, else what is wrong."""
    if status != "200 OK":
        return f"status {status}"
    cites = payload.get("citations") or []
    if not cites:
        return "no citations"
    scores = [float(c["score"]) for c in cites]
    if payload["confidence"] != round(scores[0], 3):
        return f"confidence {payload['confidence']} != round({scores[0]}, 3)"
    if any(a < b for a, b in zip(scores, scores[1:])):
        return f"scores not non-increasing: {scores}"
    want = ["search_papers"]
    if req.deep:
        want += ["get_paper_details", "search_knowledge_graph"]
    want.append("summarize_context")
    if payload.get("tools_used") != want:
        return f"tools_used {payload.get('tools_used')} != {want}"
    return None


def check_page(req: Request, status: str, rows, n_papers: int) -> str | None:
    if status != "200 OK":
        return f"status {status}"
    want = min(PAGE_LIMIT, n_papers - req.offset)
    ids = [r["paper_id"] for r in rows]
    if len(ids) != want or ids != sorted(ids):
        return f"page at offset {req.offset}: {len(ids)} rows (want {want}), sorted={ids == sorted(ids)}"
    return None


def send(
    app, req: Request, n_papers: int, con=None, tr: Tracer | None = None
) -> tuple[str | None, float]:
    """Send one request and check its response, with the top-5 citations
    checked against DuckDB when ``con`` is given. An exception inside the
    app is a failed request."""
    t0 = time.perf_counter()
    try:
        if req.kind == "page":
            status, rows, dt = call(
                app, "GET", "/papers", query=f"limit={PAGE_LIMIT}&offset={req.offset}", tr=tr
            )
            return check_page(req, status, rows, n_papers), dt
        status, payload, dt = call(app, "POST", "/query", {"question": req.question}, tr=tr)
        problem = check_ask(req, status, payload)
        if problem is None and con is not None:
            got = [c["chunk_id"] for c in payload["citations"]]
            want = duck_top5(con, req.question)
            problem = None if got == want else f"top-5 {got} != DuckDB {want}"
        return problem, dt
    except Exception as e:
        return f"{type(e).__name__}: {e}", time.perf_counter() - t0


# --- DuckDB oracle -----------------------------------------------------------


def duck_top5(con, question: str) -> list[str]:
    """Top-5 chunk ids for ``question``, as the ``agent_search_papers``
    oracle computes them."""
    from cs_5542_lab_6_spark.functions.embedding import duck_embedding_cte, duck_qvec_sql
    from cs_5542_lab_6_spark.pipeline.corpus import _DEFAULT_CHUNKS_SQL

    rows = con.sql(
        f"""
        WITH {_DEFAULT_CHUNKS_SQL}, {duck_embedding_cte()}
        SELECT c.chunk_id,
               round(list_dot_product(e.embedding::DOUBLE[], {duck_qvec_sql(question)}), 4) AS score
        FROM chunks c JOIN emb e USING (chunk_id)
        ORDER BY score DESC, c.chunk_id LIMIT 5
        """
    ).fetchall()
    return [r[0] for r in rows]


# --- tracing patches ---------------------------------------------------------


def tracing_patches(agent, tr: Tracer, jobs: JobCounter) -> Patches:
    """Wrap each layer's public functions under the names their callers
    look up: agent_api and server import papers_build / chunks_source /
    embed_query by name; corpus.read_stage is looked up on the module."""
    from cs_5542_lab_6_spark import agent_api, server
    from cs_5542_lab_6_spark.pipeline import corpus

    patches = Patches()

    def spanned(name, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tr.span(name):
                return fn(*a, **kw)

        return wrapper

    def tool(name, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with jobs.group(name) as g, tr.span(f"agent_api.{name}.construct") as sp:
                df = fn(*a, **kw)
            sp.attrs["jobs"] = g["jobs"]
            collect = df.collect

            def traced_collect():
                with jobs.group(name) as cg, tr.span(f"agent_api.{name}.collect") as csp:
                    rows = collect()
                csp.attrs["jobs"] = cg["jobs"]
                return rows

            df.collect = traced_collect
            return df

        return wrapper

    for t in layers.TOOLS:
        patches.wrap(agent_api, t, functools.partial(tool, t))
    for obj, attr, span in (
        (agent_api, "summarize_context", "agent_api.summarize_context"),
        (agent_api, "embed_query", "embedding.embed_query"),
        (agent_api, "chunks_source", "corpus.chunks_source"),
        (agent_api, "papers_build", "corpus.papers_build"),
        (server, "papers_build", "corpus.papers_build"),
        (corpus, "read_stage", "corpus.read_stage"),
        (server, "save_to_history", "server.history_write"),
        (agent, "run", "agent_loop.run"),
        (agent, "_call_tool", "agent_loop.tool"),
    ):
        patches.wrap(obj, attr, functools.partial(spanned, span))
    return patches


# --- the run -----------------------------------------------------------------


def _tree(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def build_warehouse(spark, sf: str, wh: str, con, out: Outcome, jobs: JobCounter) -> dict:
    """One from-scratch build of the server's stages through
    build_corpus, checked; returns the ingest.* layer facts."""
    from cs_5542_lab_6_spark.pipeline import ingest
    from cs_5542_lab_6_spark.pipeline.corpus import _DEFAULT_CHUNKS_SQL

    all_stages = ingest.STAGES
    ingest.STAGES = tuple(s for s in all_stages if s[0] in layers.SERVER_STAGES)
    tracker = spark.sparkContext.statusTracker()
    ungrouped_before = len(tracker.getJobIdsForGroup(None))
    try:
        t0 = time.perf_counter()
        with jobs.group("ingest") as g:
            report = ingest.build_corpus(spark, sf, wh, resume=False)
        build_s = time.perf_counter() - t0
    finally:
        ingest.STAGES = all_stages
    # build_corpus submits each stage from a pool thread, which does not
    # inherit the caller's job group: count the ungrouped jobs as well
    ungrouped = len(tracker.getJobIdsForGroup(None)) - ungrouped_before
    t0 = time.perf_counter()
    orphans = ingest.verify_corpus(spark, wh)
    verify_s = time.perf_counter() - t0

    problems = [f"{k}: {v['status']}" for k, v in report.items() if v["status"] != "OK"]
    problems += [
        f"{k}: observed {v.get('rows_written')} rows, {v['rows']} on disk"
        for k, v in report.items()
        if v.get("rows_written") != v["rows"]
    ]
    problems += [f"{k} = {v}" for k, v in orphans.items() if v != 0]
    n_chunks = con.sql(f"WITH {_DEFAULT_CHUNKS_SQL} SELECT count(*) FROM chunks").fetchone()[0]
    if report["papers"]["rows"] != datagen.N_DOCS:
        problems.append(f"papers rows {report['papers']['rows']} != {datagen.N_DOCS}")
    if report["chunks"]["rows"] != n_chunks:
        problems.append(f"chunks rows {report['chunks']['rows']} != DuckDB {n_chunks}")
    out.op(not problems, "build: " + "; ".join(problems))

    files, size = _tree(wh)
    facts = {
        "ingest.build_s": build_s,
        "ingest.verify_s": verify_s,
        "ingest.jobs": g["jobs"] + ungrouped,
        "ingest.files": files,
        "ingest.bytes": size,
        "ingest.rows": sum(v["rows"] for v in report.values()),
        **{f"ingest.{k}_s": v["seconds"] for k, v in report.items()},
    }
    out.detail["build"] = {
        "rows": {k: v["rows"] for k, v in report.items()},
        "jobs_in_caller_group": g["jobs"],
        "jobs_ungrouped": ungrouped,
    }
    return facts


def run(spark, *, run_dir, seed, seconds, trace, t_start, session_start_s) -> Outcome:
    import duckdb

    from cs_5542_lab_6_spark import server
    from cs_5542_lab_6_spark.agent_loop import ResearchAgent
    from cs_5542_lab_6_spark.pipeline.corpus import WAREHOUSE_ENV, warehouse_dir

    out = Outcome()
    jobs = JobCounter(spark.sparkContext)
    sf = os.path.join(run_dir, "in", SF_NAME)
    input_bytes = datagen.write_inputs(sf, seed, ("documents", "embeddings"))
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    os.environ[WAREHOUSE_ENV] = os.path.join(run_dir, "warehouse")
    wh = warehouse_dir(sf)
    facts = build_warehouse(spark, sf, wh, con, out, jobs)
    facts["ingest.bytes_per_input_byte"] = facts["ingest.bytes"] / input_bytes

    passes = request_passes(seed, N_PASSES, datagen.N_DOCS)
    warm = [r for p in request_passes(seed + 1_000_003, WARMUP_PASSES, datagen.N_DOCS) for r in p]
    agent = ResearchAgent(spark, sf, policy=seeded_policy())
    history = os.path.join(run_dir, "history.json")
    app = server.create_app(spark, sf, agent=agent, history_path=history)

    # warm-up: passes of the same mix, the first asks' top-5 against DuckDB
    t0 = time.perf_counter()
    oracle_asks = [r for r in warm if r.kind == "ask"][:N_ORACLE_ASKS]
    for req in warm:
        problem, _ = send(app, req, datagen.N_DOCS, con if req in oracle_asks else None)
        out.op(problem is None, f"warm-up {req}: {problem}")
    warmup_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - t_start

    tr = Tracer()
    patches = tracing_patches(agent, tr, jobs) if trace else None

    def run_pass(i: int, traced: bool) -> list[float]:
        # a traced run alternates traced and untraced passes; the
        # difference between them is the tracing overhead
        if traced:
            patches.apply()
        op_s = []
        for req in passes[i]:
            tr.request = i * len(passes[i]) + len(op_s)
            problem, dt = send(app, req, datagen.N_DOCS, tr=tr if traced else None)
            out.op(problem is None, f"{req}: {problem}")
            op_s.append(dt)
        if traced:
            patches.restore()
        return op_s

    w = timed_window(run_pass, TIMED_PASSES, seconds, trace)
    con.close()

    out.end_to_end = {"setup_s": (setup_s, "s"), "op_cpu_ms": (w.op_cpu_ms(), "ms")}
    layer = {
        "session.start_s": session_start_s,
        "session.warmup_s": warmup_s,
        "server.history_bytes": os.path.getsize(history),
        **facts,
    }
    if trace:
        layer.update(layers.serving_metrics(tr))
        layer.update(layers.client_metrics(w))
        tr.write_jsonl(os.path.join(run_dir, "spans.jsonl"))
    out.layer = layers.complete(layer) if trace else {}
    out.detail["layers"] = layer
    out.detail.update(
        {
            "input_bytes": input_bytes,
            **layers.window_record(w),
        }
    )
    return out
