"""HTTP API layer round trips (reference backend/app.py:16-139), driven
through the WSGI interface directly (no socket) plus one real
localhost server round trip."""

from __future__ import annotations

import io
import json

import pytest

from cs_5542_lab_6_spark.agent_loop import ResearchAgent
from cs_5542_lab_6_spark.server import create_app


class Client:
    """Minimal WSGI test client (TestClient analogue)."""

    def __init__(self, app):
        self.app = app

    def request_raw(self, method: str, path: str, body: dict | None = None):
        raw = json.dumps(body).encode() if body is not None else b""
        path, _, qs = path.partition("?")
        environ = {
            "REQUEST_METHOD": method,
            "PATH_INFO": path,
            "QUERY_STRING": qs,
            "CONTENT_LENGTH": str(len(raw)),
            "wsgi.input": io.BytesIO(raw),
        }
        captured: dict = {}

        def start_response(status, headers):
            captured["status"] = int(status.split()[0])
            captured["headers"] = dict(headers)

        chunks = self.app(environ, start_response)
        return captured["status"], captured["headers"], b"".join(chunks)

    def request(self, method: str, path: str, body: dict | None = None):
        status, _, raw = self.request_raw(method, path, body)
        return status, json.loads(raw.decode())


@pytest.fixture(scope="module")
def client(spark, sf_dir, tmp_path_factory):
    hist = str(tmp_path_factory.mktemp("hist") / "history.json")
    agent = ResearchAgent(spark, sf_dir)
    return Client(create_app(spark, sf_dir, agent=agent, history_path=hist)), agent, hist


def test_root_and_health(client):
    c, _, _ = client
    status, body = c.request("GET", "/")
    assert status == 200
    assert body == {"message": "Welcome to the Research Assistant API"}
    status, body = c.request("GET", "/health")
    assert status == 200 and body == {"status": "ok"}


def test_query_response_shape(client):
    """POST /query returns the frontend contract of backend/app.py:100-108:
    answer/citations/confidence/retrieval_mode/latency_ms/tools_used/
    steps_taken, confidence = round(top score, 3)."""
    c, _, _ = client
    status, body = c.request(
        "POST", "/query", {"question": "distributed join performance", "top_k": 5}
    )
    assert status == 200
    assert set(body) == {
        "answer",
        "citations",
        "confidence",
        "retrieval_mode",
        "latency_ms",
        "tools_used",
        "steps_taken",
    }
    assert body["retrieval_mode"] == "agentic"
    assert body["citations"] and len(body["citations"]) <= 5
    assert body["confidence"] == round(float(body["citations"][0]["score"]), 3)
    assert body["tools_used"][0] == "search_papers"
    assert body["steps_taken"] >= 2
    assert isinstance(body["latency_ms"], int)


def test_query_requires_question(client):
    c, _, _ = client
    status, body = c.request("POST", "/query", {})
    assert status == 400 and "error" in body


def test_history_log_appends(client):
    """Every successful /query appends one history.json entry with the
    timestamp/query/answer/chunks shape (backend/app.py:42-71)."""
    c, _, hist = client
    with open(hist, encoding="utf-8") as f:
        before = len(json.load(f))
    c.request("POST", "/query", {"question": "entity graphs"})
    with open(hist, encoding="utf-8") as f:
        entries = json.load(f)
    assert len(entries) == before + 1
    assert set(entries[-1]) == {"timestamp", "query", "answer", "chunks"}
    assert entries[-1]["query"] == "entity graphs"


def test_reset_clears_agent_history(client):
    c, agent, _ = client
    c.request("POST", "/query", {"question": "anything at all"})
    assert agent.history
    status, body = c.request("POST", "/reset")
    assert status == 200
    assert body == {"status": "success", "message": "Agent history cleared."}
    assert agent.history == []


def test_papers_default_capped_and_full_dump_explicit(client, spark, sf_dir):
    """GET /papers with no params serves at most PAPERS_DEFAULT_LIMIT
    rows (VERDICT r6 item 5 — an unbounded driver collect is the wrong
    HTTP default at scale); the reference's SELECT * full dump
    (backend/app.py:131-136) stays reachable explicitly via limit=0."""
    from cs_5542_lab_6_spark.pipeline.corpus import papers_build
    from cs_5542_lab_6_spark.server import PAPERS_DEFAULT_LIMIT

    c, _, _ = client
    total = papers_build(spark, sf_dir).count()
    status, rows = c.request("GET", "/papers")
    assert status == 200
    assert len(rows) == min(total, PAPERS_DEFAULT_LIMIT)
    assert {"paper_id", "title"} <= set(rows[0])
    status, rows = c.request("GET", "/papers?limit=0")
    assert status == 200
    assert len(rows) == total


def test_papers_pagination(client, spark, sf_dir):
    """limit/offset page the papers dump deterministically (VERDICT r5
    item 7): pages are disjoint, ordered by paper_id, cover the table,
    and bad params are a 400."""
    from cs_5542_lab_6_spark.pipeline.corpus import papers_build

    c, _, _ = client
    total = papers_build(spark, sf_dir).count()
    status, page1 = c.request("GET", "/papers?limit=3&offset=0")
    assert status == 200 and len(page1) == 3
    status, page2 = c.request("GET", "/papers?limit=3&offset=3")
    assert status == 200 and len(page2) == 3
    ids1 = [r["paper_id"] for r in page1]
    ids2 = [r["paper_id"] for r in page2]
    assert ids1 == sorted(ids1) and ids2 == sorted(ids2)
    assert not set(ids1) & set(ids2)
    assert ids1[-1] < ids2[0]
    # tail page past the end is the remainder; offset beyond is empty
    status, tail = c.request("GET", f"/papers?limit=10&offset={total - 2}")
    assert status == 200 and len(tail) == 2
    status, empty = c.request("GET", f"/papers?offset={total}")
    assert status == 200 and empty == []
    status, body = c.request("GET", "/papers?limit=abc")
    assert status == 400 and "error" in body
    # negative limit must NOT fall through to the unbounded full dump
    # (ADVICE r7): only limit=0 explicitly requests it
    status, body = c.request("GET", "/papers?limit=-1")
    assert status == 400 and "error" in body
    status, body = c.request("GET", "/papers?offset=-5")
    assert status == 400 and "error" in body


def test_ui_page_serves_chat_contract(client):
    """GET /ui returns the browser chat page (reference
    frontend/app.py:40-106 surface): HTML that posts the page's question
    to /query as {"question": ...}, renders the answer plus a citations
    expander with the reference's fields, and wires the reset control to
    POST /reset. The test then POSTs a query following the page's JS
    contract and asserts the response carries every field the page
    renders."""
    c, _, _ = client
    status, headers, raw = c.request_raw("GET", "/ui")
    page = raw.decode("utf-8")
    assert status == 200
    assert headers["Content-Type"].startswith("text/html")
    # the JS contract the page ships
    assert "fetch('/query'" in page
    assert "JSON.stringify({question: q})" in page
    assert "fetch('/reset'" in page
    assert "View Citations &amp; Tools Used" in page
    for field in ("r.answer", "r.citations", "r.tools_used",
                  "c.title", "c.section", "c.score", "c.chunk_id",
                  "c.paper_id", "c.text"):
        assert field in page, f"UI page no longer renders {field}"
    # follow the page's own contract end-to-end
    status, body = c.request(
        "POST", "/query", {"question": "graph neural networks"}
    )
    assert status == 200
    assert body["answer"]
    assert body["citations"]
    for cit in body["citations"]:
        assert {"title", "section", "score", "chunk_id", "paper_id", "text"} <= set(cit)


def test_unknown_route_404(client):
    c, _, _ = client
    status, body = c.request("GET", "/nope")
    assert status == 404 and "error" in body


def test_real_server_round_trip(spark, sf_dir, tmp_path):
    """One actual HTTP request through wsgiref on an ephemeral localhost
    port — proves the app is a valid WSGI citizen, not just callable."""
    import threading
    import urllib.request
    from wsgiref.simple_server import make_server

    app = create_app(
        spark, sf_dir, history_path=str(tmp_path / "history.json")
    )
    httpd = make_server("127.0.0.1", 0, app)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.handle_request, daemon=True)
    t.start()
    with urllib.request.urlopen(f"http://127.0.0.1:{port}/health", timeout=10) as resp:
        assert resp.status == 200
        assert json.loads(resp.read()) == {"status": "ok"}
    t.join(timeout=10)
    httpd.server_close()


def test_warm_papers_refresh_on_stage_recommit(spark, sf_dir, tmp_path, monkeypatch):
    """The serving cache follows the warehouse: another writer rewrites
    the warm ``papers`` stage in place (new files, a changed title, an
    extra column, a new _SUCCESS), and the next request serves the new
    row. The old commit's cached relation is unpersisted, the stage
    schema is inferred again, and answers stay correct after
    ``clear_caches``."""
    import os

    import pyarrow.parquet as pq

    from cs_5542_lab_6_spark.pipeline import corpus as C
    from cs_5542_lab_6_spark.pipeline import ingest as I
    from cs_5542_lab_6_spark.session import clear_caches

    root = tmp_path / "wh"
    stage = root / os.path.basename(sf_dir.rstrip("/")) / "papers"
    monkeypatch.setattr(I, "STAGES", tuple(s for s in I.STAGES if s[0] == "papers"))
    I.build_corpus(spark, sf_dir, str(stage.parent), resume=False)
    monkeypatch.setenv(C.WAREHOUSE_ENV, str(root))
    c = Client(create_app(spark, sf_dir, history_path=str(tmp_path / "h.json")))

    def titles() -> dict[str, str]:
        status, rows = c.request("GET", "/papers?limit=0")
        assert status == 200
        return {r["paper_id"]: r["title"] for r in rows}

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    assert titles()["doc_1"] == "Document 1"
    first_commit = persisted() - before
    assert first_commit, "the warm papers relation was not cached"

    # another writer: rewrite every data file under a new name, with one
    # changed title and an extra column, then commit a new _SUCCESS
    for d, _, names in os.walk(stage):
        for n in names:
            if not n.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(d, n), partitioning=None)
            col = t.column("title").to_pylist()
            ids = t.column("paper_id").to_pylist()
            t = t.set_column(
                t.schema.get_field_index("title"),
                "title",
                [[("Rewritten 1" if i == "doc_1" else v) for i, v in zip(ids, col)]],
            ).append_column("rewritten_by", [["pyarrow"] * len(ids)])
            # drop Spark's serialized schema so readers see the new column
            t = t.replace_schema_metadata(None)
            os.remove(os.path.join(d, n))
            pq.write_table(  # INT96 timestamps, as Spark writes them
                t, os.path.join(d, "rewritten-" + n), use_deprecated_int96_timestamps=True
            )
    os.remove(stage / "_SUCCESS")
    (stage / "_SUCCESS").write_bytes(b"")

    got = titles()
    assert got["doc_1"] == "Rewritten 1"
    assert got["doc_2"] == "Document 2"
    assert not first_commit & persisted(), "the old commit is still cached"
    assert "rewritten_by" in C.read_stage(spark, str(stage)).columns

    clear_caches(spark)
    assert titles()["doc_1"] == "Rewritten 1"
    (papers,) = C._SERVING[(spark, (str(stage),))][1]
    assert papers.storageLevel.useMemory  # refilled after clear_caches
    clear_caches(spark)
