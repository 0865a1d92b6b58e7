"""Agent tool façade tests (M8): the 4-tool surface composes over the
engine and the summarizer renders the reference's context-block shape
(the dispatch loop is pinned in tests/test_agent_loop.py)."""

from __future__ import annotations

import pytest

from cs_5542_lab_6_spark.agent_api import (
    search_knowledge_graph,
    search_papers,
    summarize_context,
)
from cs_5542_lab_6_spark.functions.text import normalize_entity_py


@pytest.mark.slow
def test_search_knowledge_graph_honors_entities(spark, sf_dir):
    """Tool-3 contract: the passed entity list drives the target filter
    (normalized with the ingestion rules), not a fixed set."""
    spark_rows = search_knowledge_graph(spark, sf_dir, ["Spark!"], top_k=10).collect()
    assert spark_rows
    assert {normalize_entity_py(r["entity_name"]) for r in spark_rows} == {"spark"}
    join_rows = search_knowledge_graph(spark, sf_dir, ["join"], top_k=10).collect()
    assert {normalize_entity_py(r["entity_name"]) for r in join_rows} == {"join"}
    # sub-min-length entities are filtered, not matched
    assert search_knowledge_graph(spark, sf_dir, ["a"], top_k=10).count() == 0


def test_search_papers_tool(spark, sf_dir):
    hits = search_papers(spark, sf_dir, "spark join performance", top_k=3).collect()
    assert len(hits) == 3
    scores = [r["score"] for r in hits]
    assert scores == sorted(scores, reverse=True)


def test_cosine_score_sequence_query_matches_column_query(spark):
    """A constant query passed as a sequence (one split-and-cast literal,
    what search_papers, chunk_vector_topk and late_interaction_for use)
    scores bit for bit like the same float-rounded query built as an
    array column, including components whose ``repr`` is in exponent
    form or a negative zero."""
    import random

    from pyspark.sql import functions as F

    from cs_5542_lab_6_spark.functions.vectors import cosine_score

    rng = random.Random(5)
    q = [rng.uniform(-1, 1) for _ in range(60)] + [1e-05, -3.5e-07, -0.0, 2.5e20]
    df = spark.createDataFrame(
        [([rng.uniform(-1, 1) for _ in q],) for _ in range(40)], "embedding ARRAY<FLOAT>"
    )
    qcol = F.array(*[F.lit(x) for x in q]).cast("array<float>")
    for d in (4, 12):
        got = df.select(
            cosine_score("embedding", q, d).alias("a"),
            cosine_score(F.col("embedding"), qcol, d).alias("b"),
        ).collect()
        assert [r.a for r in got] == [r.b for r in got]


def test_summarize_context_deterministic():
    chunks = [
        {"chunk_id": "c1", "paper_id": "doc_1", "title": "Document 1",
         "section": "body", "text": "alpha " * 50, "score": 0.91},
        {"chunk_id": "c2", "paper_id": "doc_2", "title": "Document 2",
         "section": "abstract", "text": "beta", "score": 0.44},
    ]
    a = summarize_context("what is alpha?", chunks)
    b = summarize_context("what is alpha?", chunks)
    assert a == b
    # reference context-block format (tools.py:249)
    assert "[1] Title: Document 1 | Section: body" in a
    assert "score=0.91" in a
    assert summarize_context("q", []).endswith("No relevant context retrieved.")
