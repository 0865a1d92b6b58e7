"""HTTP API layer round trips (reference backend/app.py:16-139), driven
through the WSGI interface directly (no socket) plus one real
localhost server round trip."""

from __future__ import annotations

import io
import json
import os

import pytest

from cs_5542_lab_6_spark.agent_loop import ResearchAgent
from cs_5542_lab_6_spark.server import create_app, read_history, save_to_history


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
    """Every successful /query appends one history entry with the
    timestamp/query/answer/chunks shape (backend/app.py:42-71)."""
    c, _, hist = client
    before = len(read_history(hist))
    c.request("POST", "/query", {"question": "entity graphs"})
    entries = read_history(hist)
    assert len(entries) == before + 1
    assert set(entries[-1]) == {"timestamp", "query", "answer", "chunks"}
    assert entries[-1]["query"] == "entity graphs"


class _EchoAgent:
    """An agent that answers without Spark, citing one chunk of
    ``text_bytes`` characters, so a history line spans many write
    buffers."""

    def __init__(self, text_bytes: int):
        self.text = "x" * text_bytes

    def run(self, question: str) -> dict:
        cite = {"chunk_id": question, "score": 0.5, "text": self.text}
        return {"answer": question, "citations": [cite], "tools_used": [], "steps": 0}

    def reset_history(self) -> None:
        pass


def test_concurrent_queries_lose_no_history_lines(spark, sf_dir, tmp_path):
    """/query requests served from many threads at once each append
    their entry, whole: none is lost or interleaved with another."""
    from concurrent.futures import ThreadPoolExecutor

    hist = str(tmp_path / "history.jsonl")
    agent = _EchoAgent(text_bytes=40_000)
    c = Client(create_app(spark, sf_dir, agent=agent, history_path=hist))
    questions = [f"question {i}" for i in range(64)]
    with ThreadPoolExecutor(max_workers=8) as pool:
        statuses = list(pool.map(lambda q: c.request("POST", "/query", {"question": q})[0], questions))
    assert statuses == [200] * len(questions)
    entries = read_history(hist)
    assert sorted(e["query"] for e in entries) == sorted(questions)
    assert all(e["chunks"][0]["text"] == agent.text for e in entries)


def test_history_survives_a_torn_line(tmp_path):
    """A crash mid-append leaves a last line without its newline (here
    cut inside a multi-byte character): the reader skips it, and the
    next append starts a line of its own, so the complete entries before
    and after the fragment all read back."""
    hist = str(tmp_path / "history.jsonl")
    save_to_history(hist, "first", "a1", [])
    save_to_history(hist, "second", "a2", [{"chunk_id": "c1"}])
    with open(hist, "ab") as f:
        f.write('{"timestamp": "2026-01-01T00:00:00", "query": "thé'.encode()[:-1])
    assert [e["query"] for e in read_history(hist)] == ["first", "second"]
    save_to_history(hist, "third", "a3", [])
    save_to_history(hist, "fourth", "a4", [])
    assert [e["query"] for e in read_history(hist)] == ["first", "second", "third", "fourth"]
    assert read_history(str(tmp_path / "absent.jsonl")) == []


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


def _set_where(table, col: str, key: str, match: str, value):
    """``table`` with ``col`` set to ``value`` on rows whose ``key`` is
    ``match``."""
    keys = table.column(key).to_pylist()
    vals = table.column(col).to_pylist()
    return table.set_column(
        table.schema.get_field_index(col),
        col,
        [[value if k == match else v for k, v in zip(keys, vals)]],
    )


def _recommit_stage(stage, rewrite) -> None:
    """Another writer: rewrite every data file of a warehouse stage under
    a new name through ``rewrite`` (a pyarrow Table -> Table), then
    commit a new _SUCCESS."""
    import pyarrow.parquet as pq

    for d, _, names in os.walk(stage):
        for n in names:
            if not n.endswith(".parquet"):
                continue
            t = rewrite(pq.read_table(os.path.join(d, n), partitioning=None))
            os.remove(os.path.join(d, n))
            pq.write_table(  # INT96 timestamps, as Spark writes them
                t, os.path.join(d, "rewritten-" + n), use_deprecated_int96_timestamps=True
            )
    os.remove(stage / "_SUCCESS")
    (stage / "_SUCCESS").write_bytes(b"")


def test_warm_papers_refresh_on_stage_recommit(spark, sf_dir, tmp_path, monkeypatch):
    """The serving cache follows the warehouse: another writer rewrites
    the warm ``papers`` stage in place (new files, a changed title, an
    extra column, a new _SUCCESS), and the next request serves the new
    row. The old commit's cached relation is unpersisted, the stage
    still reads under its declared columns (the extra one is not part
    of the stage), and answers stay correct after ``clear_caches``."""
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

    # one changed title and an extra column
    _recommit_stage(
        stage,
        lambda t: _set_where(t, "title", "paper_id", "doc_1", "Rewritten 1")
        .append_column("rewritten_by", [["pyarrow"] * t.num_rows])
        # drop Spark's serialized schema so readers see the new column
        .replace_schema_metadata(None),
    )

    got = titles()
    assert got["doc_1"] == "Rewritten 1"
    assert got["doc_2"] == "Document 2"
    assert not first_commit & persisted(), "the old commit is still cached"
    assert C.read_stage(spark, str(stage)).columns == C.declared_columns("papers")

    clear_caches(spark)
    assert titles()["doc_1"] == "Rewritten 1"
    (papers,) = C._SERVING[(spark, (str(stage),))][1]
    assert papers.storageLevel.useMemory  # refilled after clear_caches
    clear_caches(spark)


def test_warm_entities_refresh_on_chunks_recommit(spark, sf_dir, tmp_path, monkeypatch):
    """The entity mentions the KG queries share follow the warm ``chunks``
    stage: after another writer rewrites a chunk's text, the next warm
    KG query sees the new entity, not the old commit's cached ones."""
    from cs_5542_lab_6_spark.pipeline import corpus as C
    from cs_5542_lab_6_spark.pipeline import ingest as I
    from cs_5542_lab_6_spark.session import clear_caches

    root = tmp_path / "wh"
    stage = root / os.path.basename(sf_dir.rstrip("/")) / "chunks"
    monkeypatch.setattr(I, "STAGES", tuple(s for s in I.STAGES if s[0] == "chunks"))
    I.build_corpus(spark, sf_dir, str(stage.parent), resume=False)
    monkeypatch.setenv(C.WAREHOUSE_ENV, str(root))

    def nodes_of(chunk_id: str) -> set[str]:
        rows = C.kg_map_build(spark, sf_dir).where(f"chunk_id = '{chunk_id}'").collect()
        return {r.node_id for r in rows}

    chunk_id = C.read_stage(spark, str(stage)).first().chunk_id
    assert "node_zyzzyva" not in nodes_of(chunk_id)

    _recommit_stage(
        stage,
        lambda t: _set_where(t, "text_content", "chunk_id", chunk_id, "zyzzyva"),
    )

    assert nodes_of(chunk_id) == {"node_zyzzyva"}
    clear_caches(spark)


@pytest.fixture(scope="module")
def built_papers(spark, sf_dir, tmp_path_factory):
    """A committed warm ``papers`` stage, built once; tests copy it."""
    from cs_5542_lab_6_spark.pipeline import ingest as I

    out = tmp_path_factory.mktemp("papers_wh")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(I, "STAGES", tuple(s for s in I.STAGES if s[0] == "papers"))
        I.build_corpus(spark, sf_dir, str(out), resume=False)
    return out / "papers"


def _copy_stage(src, tmp_path):
    import shutil

    stage = tmp_path / "wh" / "papers"
    shutil.copytree(src, stage)
    return stage


def test_read_stage_runs_no_job(spark, built_papers, tmp_path):
    """The first read of a freshly committed stage runs no Spark job:
    its schema is declared, not inferred from parquet footers."""
    from cs_5542_lab_6_spark.pipeline import corpus as C

    stage = _copy_stage(built_papers, tmp_path)
    sc = spark.sparkContext
    sc.setJobGroup("read_stage_jobs", "read_stage_jobs")
    try:
        df = C.read_stage(spark, str(stage))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("read_stage_jobs") == []
    assert df.columns == C.declared_columns("papers")


def test_read_stage_names_a_dropped_column(spark, built_papers, tmp_path):
    """Another writer drops ``title`` from the committed stage: the next
    warm read fails naming the stage and the column, instead of reading
    the column as NULLs."""
    from cs_5542_lab_6_spark.pipeline import corpus as C

    stage = _copy_stage(built_papers, tmp_path)
    _recommit_stage(stage, lambda t: t.drop(["title"]).replace_schema_metadata(None))
    with pytest.raises(ValueError, match=r"'papers'.*'title'"):
        C.read_stage(spark, str(stage))


def test_read_stage_names_a_changed_type(spark, built_papers, tmp_path):
    """Another writer changes ``title`` to an integer: the warm read
    fails, and the error names the column and the stage's files."""
    import pyarrow as pa
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from cs_5542_lab_6_spark.pipeline import corpus as C

    stage = _copy_stage(built_papers, tmp_path)
    _recommit_stage(
        stage,
        lambda t: t.set_column(
            t.schema.get_field_index("title"),
            "title",
            pa.array(range(t.num_rows), pa.int32()),
        ).replace_schema_metadata(None),
    )
    with pytest.raises((PySparkException, Py4JJavaError)) as err:
        C.read_stage(spark, str(stage)).collect()
    assert "title" in str(err.value)
    assert str(stage) in str(err.value)


@pytest.fixture(scope="module")
def tool_warehouse(spark, sf_dir, tmp_path_factory):
    """A warehouse root holding the committed stages the agent tools
    read, built once."""
    from cs_5542_lab_6_spark.pipeline import ingest as I

    root = tmp_path_factory.mktemp("tools_wh")
    stages = ("papers", "chunks", "kg_nodes", "kg_edges")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(I, "STAGES", tuple(s for s in I.STAGES if s[0] in stages))
        I.build_corpus(spark, sf_dir, str(root / os.path.basename(sf_dir.rstrip("/"))), resume=False)
    return root


def test_warm_tool_call_runs_one_job(spark, sf_dir, tool_warehouse, monkeypatch):
    """Once a warm tool's relation is cached, each further call is one
    Spark job of one task: the scored top-k of search_papers, a
    get_paper_details lookup whether the paper exists or not, and the
    filtered top-k of search_knowledge_graph. One task because the
    fixture's stages are far below ``spark.sql.files.maxPartitionBytes``,
    so each cached relation holds one partition."""
    from cs_5542_lab_6_spark import agent_api as A
    from cs_5542_lab_6_spark.pipeline import corpus as C
    from cs_5542_lab_6_spark.session import clear_caches

    monkeypatch.setenv(C.WAREHOUSE_ENV, str(tool_warehouse))
    calls = {
        "search_papers": (lambda: A.search_papers(spark, sf_dir, "distributed join performance"), 5),
        "details_hit": (lambda: A.get_paper_details(spark, sf_dir, "doc_42"), 1),
        "details_miss": (lambda: A.get_paper_details(spark, sf_dir, "doc_none"), 0),
        "search_knowledge_graph": (
            lambda: A.search_knowledge_graph(spark, sf_dir, ["spark", "join"], top_k=10),
            10,
        ),
    }
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs, tasks, rows = {}, {}, {}
    try:
        for name, (call, _) in calls.items():
            call().collect()  # derives and caches the tool's relation
            group = f"warm_tool_{name}"
            sc.setJobGroup(group, group)
            try:
                rows[name] = len(call().collect())
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            ids = tracker.getJobIdsForGroup(group)
            jobs[name] = len(ids)
            # tasks run, not the stages' numTasks: a job over a cached
            # relation also lists the stages that filled the cache, skipped
            tasks[name] = sum(
                tracker.getStageInfo(s).numCompletedTasks
                for j in ids
                for s in tracker.getJobInfo(j).stageIds
            )
    finally:
        clear_caches(spark)
    assert rows == {name: n for name, (_, n) in calls.items()}
    assert jobs == {name: 1 for name in calls}
    assert tasks == {name: 1 for name in calls}


def test_serving_partitions_follow_stage_bytes(spark, sf_dir, built_papers, tmp_path, monkeypatch):
    """The serving cache's one-partition relations are a consequence of
    stage size, not a cap: a stage larger than
    ``spark.sql.files.maxPartitionBytes`` is served from one partition
    per that many bytes of its data files, and serves every row."""
    import shutil

    from cs_5542_lab_6_spark.pipeline import corpus as C
    from cs_5542_lab_6_spark.session import clear_caches

    root = tmp_path / "wh"
    stage = root / os.path.basename(sf_dir.rstrip("/")) / "papers"
    shutil.copytree(built_papers, stage)
    size = sum(
        f.stat().st_size
        for f in stage.rglob("*")
        if f.is_file() and not f.name.startswith(("_", "."))
    )
    monkeypatch.setenv(C.WAREHOUSE_ENV, str(root))
    conf = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, str(-(-size // 3)))  # the stage is 3 splits
    try:
        papers = C.papers_source(spark, sf_dir)
        parts = papers.rdd.getNumPartitions()
        served = papers.count()
    finally:
        spark.conf.set(conf, saved)
        clear_caches(spark)
    assert parts == 3
    assert served == C.read_stage(spark, str(stage)).count()


def test_kg_serving_relations_do_not_alias(spark, sf_dir, tool_warehouse, monkeypatch):
    """The KG tool's neighbor relation (over kg_nodes and kg_edges) and
    the node names ``_kg_names`` serves evaluation (over kg_nodes) are
    cached apart: in one warm session each returns its own columns, and
    the warm neighborhood equals the cold one."""
    from cs_5542_lab_6_spark.pipeline import corpus as C
    from cs_5542_lab_6_spark.session import clear_caches

    monkeypatch.setenv(C.WAREHOUSE_ENV, str(tool_warehouse))
    cols = ["entity_name", "neighbor_name", "relation_type", "weight", "direction"]
    try:
        first = C.kg_neighborhood_for(spark, sf_dir, ["Spark", "filter"], limit=40)
        names = C._kg_names(spark, sf_dir)
        again = C.kg_neighborhood_for(spark, sf_dir, ["Spark", "filter"], limit=40)
        assert names.columns == ["node_id", "name_normalized", "name"]
        assert first.columns == again.columns == cols
        warm = again.collect()
        assert warm == first.collect()
        assert {r.entity_name.lower() for r in warm} == {"spark", "filter"}
    finally:
        clear_caches(spark)
    monkeypatch.delenv(C.WAREHOUSE_ENV)
    assert C.kg_neighborhood_for(spark, sf_dir, ["Spark", "filter"], limit=40).collect() == warm
