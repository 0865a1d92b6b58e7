"""Ingestion driver tests: staged checkpoint build, resume skipping,
partitioned layout, FK verification (reference lifecycle
data/ingestion.py:558-603 distributed)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from cs_5542_lab_6_spark.pipeline.corpus import chunks_build, papers_build
from cs_5542_lab_6_spark.pipeline.ingest import (
    build_corpus,
    load_checkpoint,
    verify_corpus,
    write_warehouse_table,
    year_partition_count,
)


def test_warehouse_writer_uppercases_and_stamps(spark, sf_dir, tmp_path):
    path = str(tmp_path / "RAW_PAPERS")
    write_warehouse_table(papers_build(spark, sf_dir), path)
    wh = spark.read.parquet(path)
    assert all(c == c.upper() for c in wh.columns)
    assert "INGESTED_AT" in wh.columns
    row = wh.select("PAPER_ID", "INGESTED_AT").first()
    assert row["INGESTED_AT"] is not None
    assert wh.count() == papers_build(spark, sf_dir).count()


def test_build_checkpoint_resume_verify(spark, sf_dir, tmp_path):
    out = str(tmp_path / "corpus")

    report = build_corpus(spark, sf_dir, out, resume=True)
    assert set(report) == {
        "papers",
        "chunks",
        "kg_nodes",
        "kg_edges",
        "kg_map",
        "doc_shingles",
        "doc_minhash",
        "doc_simhash",
        "dedup_clusters",
        "ivf_centroids",
        "lsh_codes",
        "pq_codes",
        "kmeans_assign",
        "bm25_postings",
        "bm25_doclen",
        "trigram_postings",
        "winnow_fps",
        "pq_codebook",
        "pq_codes_trained",
        "lm_counts",
    }
    assert all(v["status"] == "OK" for v in report.values())
    assert not any(v["skipped"] for v in report.values())

    # checkpointed row counts match the live builders
    assert report["papers"]["rows"] == papers_build(spark, sf_dir).count()
    assert report["chunks"]["rows"] == chunks_build(spark, sf_dir).count()

    # resume run touches nothing
    report2 = build_corpus(spark, sf_dir, out, resume=True)
    assert all(v["skipped"] for v in report2.values())
    assert {k: v["rows"] for k, v in report2.items()} == {
        k: v["rows"] for k, v in report.items()
    }

    # papers checkpoint is hive-partitioned by year → pruning is real
    parts = [p for p in os.listdir(os.path.join(out, "papers"))
             if p.startswith("publication_year=")]
    assert len(parts) == 5
    assert year_partition_count(spark, out, 2021) > 0

    # embedding column survived the checkpoint round trip
    emb = load_checkpoint(spark, out, "chunks").select("embedding").first()[0]
    assert len(emb) == 64

    # FK integrity: zero orphans everywhere
    assert set(verify_corpus(spark, out).values()) == {0}


@pytest.mark.slow
def test_warm_warehouse_queries_equal_cold(spark, sf_dir, tmp_path, monkeypatch):
    """The query layer served from materialized checkpoints must be
    row-identical to the cold raw-text derivation — the warm path is a
    cache, never a semantic fork (reference chunk cache, agent.py:44-63).

    Cache hygiene: the cold and warm halves cache DISTINCT logical plans
    for the shared relations (raw-derived vs checkpoint-derived), so this
    test drains the session CacheManager on exit — otherwise a later
    module inheriting the session (the oracle-parity ledger sweep) would
    start over the documented shared-cache cap."""
    from cs_5542_lab_6_spark.pipeline import corpus as C
    from cs_5542_lab_6_spark.registry import all_queries
    from cs_5542_lab_6_spark.session import clear_caches

    names = [
        "chunk_vector_topk",
        "kg_neighborhood",
        "kg_two_hop",
        # adjacency + node universe from kg_edges/kg_nodes when warm
        "kg_pagerank",
        # dedup family: served from the materialized signature stages
        # (doc_shingles/doc_minhash/doc_simhash) when warm
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "dedup_clusters",
        "dedup_simhash",
        "contamination_scan",
        # index-artifact stages (r8): served from the materialized
        # dedup_clusters / ivf_centroids / bm25_postings+doclen
        # checkpoints when warm
        "dedup_rate_by_source",
        "ann_ivf_topk",
        # LSH-code vector-index stage (r8): the whole similarity family
        # starts from the warm coded collection when available
        "ann_brute_force_topk",
        "ann_lsh_topk",
        "ann_lsh_multiprobe_topk",
        # PQ family: ADC served from the materialized pq_codes stage
        "ann_pq_adc_topk",
        # trained-codebook branch served from the pq_codebook stage (r11)
        "ann_pq_recall_eval",
        # sparse-KG shadow edges come from the kg_edges checkpoint (r11)
        "kg_link_prediction",
        "kg_degree_assortativity",
        # tf-idf keywords served from bm25_postings/doclen (r11)
        "doc_tfidf_keywords",
        # IVF-PQ composes both index stages (ivf_centroids + pq_codes)
        "ann_ivf_pq_topk",
        # SemDeDup family: cluster assignment from the kmeans_assign stage
        "semantic_dedup",
        "ann_recall_eval",
        "contrastive_pair_mining",
        "bm25_doc_topk",
        "bm25_rerank_topk",
        "hybrid_rrf_topk",
        # KG builders: entity extraction starts from the warm chunks
        # checkpoint (r8) — must stay row-identical to the raw derive
        "kg_nodes_build",
        "kg_edges_build",
        "kg_map_build",
        # trigram index: LIKE search candidates from the warm postings
        "doc_substring_search",
        # winnowing: both the report and the overlap join read the
        # materialized winnow_fps stage when warm (r10)
        "doc_winnowing_fingerprints",
        "doc_winnowing_overlap",
        # corpus bigram-LM: perplexity scoring and the DoReMi weight
        # derivation join the materialized lm_counts stage when warm (r15)
        "doc_lm_perplexity",
        "corpus_doremi_weights",
        # RAG eval comparison reads chunks + kg_nodes/kg_edges + kg_map
        # warm (r10)
        "eval_rag_comparison",
        # verification/audit queries count the checkpoints when warm
        "corpus_verify",
        "corpus_delete_cascade",
        # agent tools: served from the warm serving cache (warm_cached)
        "agent_search_papers",
        "agent_paper_details",
    ]
    qs = all_queries()

    try:
        monkeypatch.delenv(C.WAREHOUSE_ENV, raising=False)
        cold = {
            n: sorted(map(tuple, qs[n](spark, sf_dir).collect())) for n in names
        }
        cold_served = _served_responses(spark, sf_dir, tmp_path / "cold")

        root = tmp_path / "wh"
        out = str(root / os.path.basename(sf_dir.rstrip("/")))
        build_corpus(spark, sf_dir, out, resume=False)
        monkeypatch.setenv(C.WAREHOUSE_ENV, str(root))
        assert C._warm_path(sf_dir, "chunks") is not None  # warm path engaged
        assert C._warm_path(sf_dir, "dedup_clusters") is not None
        assert C._warm_path(sf_dir, "ivf_centroids") is not None
        assert C._warm_path(sf_dir, "lsh_codes") is not None
        assert C._warm_path(sf_dir, "pq_codes") is not None
        assert C._warm_path(sf_dir, "pq_codebook") is not None
        assert C._warm_path(sf_dir, "pq_codes_trained") is not None
        assert C._warm_path(sf_dir, "kmeans_assign") is not None
        assert C._warm_path(sf_dir, "winnow_fps") is not None
        assert C._warm_path(sf_dir, "lm_counts") is not None
        warm = {
            n: sorted(map(tuple, qs[n](spark, sf_dir).collect())) for n in names
        }
        warm_served = _served_responses(spark, sf_dir, tmp_path / "warm")

        assert warm == cold
        assert warm_served == cold_served
    finally:
        clear_caches(spark)


_DEEP_QUESTION = "spark join filter performance"


def _served_responses(spark, sf_dir, work) -> dict:
    """A deep ``POST /query`` (search_papers, then get_paper_details on the
    top hit and search_knowledge_graph on the question) and a ``GET
    /papers`` page through a fresh ``create_app``, with every tool result
    the policy saw — the serving surface the warm cache answers."""
    import io
    import json

    from cs_5542_lab_6_spark.agent_loop import ResearchAgent
    from cs_5542_lab_6_spark.server import create_app

    tool_results: list = []

    def policy(messages):
        called = [
            tc["name"]
            for m in messages
            if m["role"] == "assistant"
            for tc in m.get("tool_calls", ())
        ]
        last = next((m["content"] for m in reversed(messages) if m["role"] == "tool"), "")
        if "search_papers" not in called:
            return {"tool_calls": [{"name": "search_papers",
                                    "arguments": {"query": _DEEP_QUESTION, "top_k": 5}}]}
        if "get_paper_details" not in called:
            top = json.loads(last)[0]["paper_id"]
            return {"tool_calls": [
                {"name": "get_paper_details", "arguments": {"paper_id": top}},
                {"name": "search_knowledge_graph", "arguments": {"query": _DEEP_QUESTION}},
            ]}
        if "summarize_context" not in called:
            return {"tool_calls": [{"name": "summarize_context",
                                    "arguments": {"question": _DEEP_QUESTION}}]}
        tool_results.extend(m["content"] for m in messages if m["role"] == "tool")
        return {"content": json.loads(last)}

    work.mkdir()
    app = create_app(
        spark,
        sf_dir,
        agent=ResearchAgent(spark, sf_dir, policy=policy),
        history_path=str(work / "history.json"),
    )

    def call(method, path, query="", body=None):
        raw = json.dumps(body).encode() if body is not None else b""
        status = []
        out = b"".join(app({
            "REQUEST_METHOD": method,
            "PATH_INFO": path,
            "QUERY_STRING": query,
            "CONTENT_LENGTH": str(len(raw)),
            "wsgi.input": io.BytesIO(raw),
        }, lambda s, h: status.append(s)))
        assert status == ["200 OK"], (path, status, out[:300])
        return json.loads(out)

    ask = call("POST", "/query", body={"question": _DEEP_QUESTION})
    ask.pop("latency_ms")
    # hits, paper details and KG neighbors all non-empty
    assert all(json.loads(t) for t in tool_results[:3]), tool_results
    assert ask["tools_used"] == [
        "search_papers", "get_paper_details", "search_knowledge_graph", "summarize_context"
    ]
    page = call("GET", "/papers", query="limit=20&offset=40")
    assert len(page) == 20
    return {"ask": ask, "tools": tool_results, "page": page}


def test_partitioned_checkpoint_scan_prunes_directories(spark, sf_dir, tmp_path):
    """The hive-partitioned papers checkpoint must prune at the DIRECTORY
    level: a publication_year predicate shows up in the scan's
    PartitionFilters (one directory read), never as a post-scan Filter
    over all years — the time-partitioned-table pattern every 100 TB
    event/corpus table relies on."""
    import re

    from cs_5542_lab_6_spark.pipeline.ingest import build_corpus, load_checkpoint
    from cs_5542_lab_6_spark.plans.inspect import formatted_plan

    out = str(tmp_path / "wh")
    build_corpus(spark, sf_dir, out, resume=False)
    df = load_checkpoint(spark, out, "papers").filter(
        F.col("publication_year") == 2021
    )
    plan = formatted_plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "publication_year" in m.group(1), plan[:2000]
    # and the partition predicate must NOT degrade into a data filter
    data_filters = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    if data_filters:
        assert "publication_year" not in data_filters.group(1)


def test_build_report_carries_observed_metrics(spark, sf_dir, tmp_path):
    """Fresh stages carry Observation-API metrics captured during the
    write pass: observed row count equals the on-disk count, leading
    keys are never null, and the approximate cardinality is sane.
    Resumed stages (second build) skip the pass and carry none.

    The observed metrics are ADVISORY (ingest.py): on a real cluster
    task retries / speculation can overcount them, so production code
    treats the on-disk count as authoritative. local[*] never retries,
    so exact equality is a valid assertion HERE — it pins that the
    observation covers every row of the write pass exactly once."""
    out = str(tmp_path / "wh_obs")
    report = build_corpus(spark, sf_dir, out, resume=False)
    for name, entry in report.items():
        assert entry["skipped"] is False
        assert entry["rows_written"] == entry["rows"], name
        assert entry["null_keys"] == 0, name
        assert entry["approx_keys"] >= 1, name

    again = build_corpus(spark, sf_dir, out, resume=True)
    for name, entry in again.items():
        assert entry["skipped"] is True
        assert "rows_written" not in entry, name


def test_parallel_build_failure_propagates_and_resume_completes(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A failing stage must fail the DAG build loudly (no swallowed
    futures), while independent stages that already ran keep their
    checkpoints — so a resume after the fix finishes only the missing
    work. This is the operational contract of the parallel scheduler:
    crash-then-resume never rebuilds completed stages."""
    import pytest

    from cs_5542_lab_6_spark.pipeline import ingest as I

    out = str(tmp_path / "corpus")
    boom = RuntimeError("stage exploded")

    def failing_builder(spark, sf_dir):
        raise boom

    # sabotage a LATE, depended-upon stage so upstreams land first
    stages = tuple(
        (n, failing_builder if n == "bm25_postings" else b, p)
        for n, b, p in I.STAGES
    )
    monkeypatch.setattr(I, "STAGES", stages)
    with pytest.raises(RuntimeError, match="stage exploded"):
        build_corpus(spark, sf_dir, out, resume=False)

    # stages with no path through the failure still checkpointed
    assert I._has_checkpoint(os.path.join(out, "papers"))
    assert not I._has_checkpoint(os.path.join(out, "bm25_postings"))

    # un-sabotage; resume completes only the missing stages
    monkeypatch.undo()
    report = build_corpus(spark, sf_dir, out, resume=True)
    assert all(v["status"] == "OK" for v in report.values())
    assert report["papers"]["skipped"] is True
    assert report["bm25_postings"]["skipped"] is False


@pytest.mark.slow
def test_stage_deps_cover_every_warm_read(spark, sf_dir, tmp_path, monkeypatch):
    """STAGE_DEPS is the parallel scheduler's only overwrite-race guard,
    and it is hand-maintained (r10 advice): cross-reference it against
    what each builder ACTUALLY reads. With a fully-built warm warehouse
    configured, constructing every stage's plan through a spying
    _warm_path must request only stages declared in STAGE_DEPS — an
    undeclared warm read fails here instead of racing a concurrent
    overwrite in build_corpus."""
    from cs_5542_lab_6_spark.pipeline import corpus as C
    from cs_5542_lab_6_spark.pipeline import ingest as I
    from cs_5542_lab_6_spark.session import clear_caches

    root = tmp_path / "wh"
    out = str(root / os.path.basename(sf_dir.rstrip("/")))
    I.build_corpus(spark, sf_dir, out, resume=False)
    monkeypatch.setenv(C.WAREHOUSE_ENV, str(root))

    real = C._warm_path
    requested: list[str] = []

    def spy(sf, stage, spark_=None):
        requested.append(stage)
        return real(sf, stage, spark_)

    monkeypatch.setattr(C, "_warm_path", spy)
    try:
        for name, builder, _ in I.STAGES:
            requested.clear()
            builder(spark, sf_dir)  # plan construction resolves warm reads
            undeclared = set(requested) - set(I.STAGE_DEPS.get(name, ()))
            assert not undeclared, (
                f"stage {name!r} reads warm checkpoint(s) {sorted(undeclared)} "
                f"not declared in STAGE_DEPS — the parallel build can race"
            )
    finally:
        clear_caches(spark)
