"""Agent tool façade (SURVEY §2.9 M8–M9, §7.1 step 7).

The reference exposes its engine as four named, parameterized tools
dispatched by an LLM loop (tool_schemas.py:11-118, agent.py:65-92):
``search_papers(query, top_k)``, ``get_paper_details(paper_id)``,
``search_knowledge_graph(query, top_k)``, ``summarize_context(question,
chunks)``. This module is the same public API as thin wrappers over the
engine's single-implementation operators (fixing the reference's 3×
vector-search duplication, docs/AGENT_ARCHITECTURE_ANALYSIS.md:37):
every tool call is one parameterized DataFrame query.

Serving cache: with a warm warehouse the tools read Spark-cached
relations instead of re-deriving them per call (pipeline/corpus.py,
``warm_cached``): the retrieval relation (chunks joined with paper
titles, with embeddings; about one copy of the chunk table in memory),
the papers table and the KG neighbor relation (every node's named
1-hop neighbors in both directions, ``kg_neighbors_source``). Each
refreshes when a stage it reads is recommitted, and holds one partition
per ``spark.sql.files.maxPartitionBytes`` of the stages it reads (one at
the benchmark's sizes). A warm tool call is then one Spark job of one
task over one cached relation: a scored top-k, a top-1 key lookup, or
an IN-list filtered top-k. The cold path is never served from this
cache: cold, every call derives its relations anew. The query vector is
one literal (``functions.vectors.cosine_score``), whatever its
dimension.

The LLM pieces are deliberately outside the engine (SURVEY §7.3): answer
synthesis is a *deterministic template renderer* over the collected
top-k rows (M8's prompt-assembly shape, tools.py:244-258, minus the
chat-completion call). The dispatch loop (M9) that calls these tools
is ``agent_loop.ResearchAgent``, which the server, the CLI and the
benchmark drive.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .functions.embedding import duck_embedding_cte, duck_qvec_sql, embed_query
from .functions.vectors import cosine_score
from .pipeline.corpus import (
    _DEFAULT_CHUNKS_SQL,
    chunks_source,
    chunks_view,
    kg_neighborhood_for,
    papers_build,
    papers_source,
    warm_cached,
)
from .registry import query

DEFAULT_TOP_K = 5
CITATION_CAP = 5  # agent.py:209-211 citations[:5]


def _retrieval(chunks: DataFrame, papers: DataFrame) -> DataFrame:
    """Embedded chunks in the tool contract's shape (tools.py:80-85):
    chunk_id, paper_id, title, section, text, plus the embedding the
    score is computed from — the CHUNKS_V shape the frontend renders,
    with title from the papers dim (broadcast join; papers is the small
    side at any corpus scale)."""
    titles = papers.select("paper_id", "title")
    return chunks.join(F.broadcast(titles), "paper_id").select(
        "chunk_id",
        "paper_id",
        "title",
        F.col("section_name").alias("section"),
        F.col("text_content").alias("text"),
        "embedding",
    )


def retrieval_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The relation search_papers scores: from the serving cache over the
    warm chunks and papers stages (corpus.warm_cached — the reference's
    chunk-cache idiom, agent.py:44-63), derived uncached otherwise."""
    return warm_cached(
        spark,
        sf_dir,
        ("chunks", "papers"),
        _retrieval,
        lambda: _retrieval(chunks_source(spark, sf_dir), papers_build(spark, sf_dir)),
    )


def search_papers(
    spark: SparkSession, sf_dir: str, question: str, top_k: int = DEFAULT_TOP_K
) -> DataFrame:
    """Tool 1 (tools.py:45-92): embed the question driver-side (M3),
    score every chunk of ``retrieval_source`` JVM-side against the query
    as one vector literal, top-k with deterministic tiebreak. Result keys are
    the reference tool contract (tools.py:80-85): chunk_id, paper_id,
    title, section, text, score."""
    return (
        retrieval_source(spark, sf_dir)
        .select(
            "chunk_id",
            "paper_id",
            "title",
            "section",
            "text",
            cosine_score("embedding", embed_query(question)).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("chunk_id"))
        .limit(top_k)
    )


def get_paper_details(spark: SparkSession, sf_dir: str, paper_id: str) -> DataFrame:
    """Tool 2 (tools.py:116-125): point lookup by primary key over
    ``papers_source`` (the serving cache when warm; cold, an equality
    predicate pushed into the derivation). Ordered by the key, so the
    lookup plans as a top-1 sort — one job over every partition, hit or
    miss — rather than a limit that scans one partition and then scales
    up; cold, the sort replaces ``papers_build``'s own."""
    return (
        papers_source(spark, sf_dir)
        .filter(F.col("paper_id") == paper_id)
        .orderBy("paper_id")
        .limit(1)
    )


def search_knowledge_graph(
    spark: SparkSession, sf_dir: str, entities: list[str], top_k: int = 10
) -> DataFrame:
    """Tool 3 (tools.py:164-217): the passed entities are normalized with
    the ingestion contract (lowercase, strip non-alnum, min length 3) and
    drive the IN-list target filter of the bidirectional 1-hop
    neighborhood — the documented tool-3 contract, not a fixed entity
    set."""
    return kg_neighborhood_for(spark, sf_dir, entities, limit=top_k)


def summarize_context(question: str, chunks: list[dict[str, Any]]) -> str:
    """Tool 4 (tools.py:224-273) with the LLM call replaced by the
    deterministic prompt-template renderer — identical context-block
    assembly (``[i] Title: {title} | Section: {section}\\n{text}``,
    tools.py:244-251, over the tool contract's title/section/text
    keys), so the engine-side contract is exercised without a network
    boundary."""
    if not chunks:
        return f"Q: {question}\nNo relevant context retrieved."
    blocks = [
        f"[{i + 1}] Title: {c.get('title', 'Unknown')} | "
        f"Section: {c.get('section', '')}\n"
        f"{str(c.get('text', ''))[:200]}"
        for i, c in enumerate(chunks[:CITATION_CAP])
    ]
    context = "\n\n".join(blocks)
    top = chunks[0]
    return (
        f"Q: {question}\n"
        f"Context ({min(len(chunks), CITATION_CAP)} chunks):\n{context}\n"
        f"A: Based on [1] ({top.get('chunk_id', '?')}, "
        f"score={top.get('score', 0)}), see cited context."
    )


# ---------------------------------------------------------------------------
# Registry entries: the tool surface as driver-checkable queries
# ---------------------------------------------------------------------------


_ASP_QUESTION = "distributed join performance"


@query(
    "agent_search_papers",
    oracle=f"""
    WITH {_DEFAULT_CHUNKS_SQL},
    {duck_embedding_cte()},
    papers AS (
      SELECT 'doc_' || doc_id AS paper_id, 'Document ' || doc_id AS title
      FROM documents
    )
    SELECT c.chunk_id, c.paper_id, p.title,
           c.section_name AS section, c.text_content AS text,
           round(list_dot_product(e.embedding::DOUBLE[],
                                  {duck_qvec_sql(_ASP_QUESTION)}), 4) AS score
    FROM chunks c
    JOIN emb e USING (chunk_id)
    JOIN papers p USING (paper_id)
    ORDER BY score DESC, c.chunk_id
    LIMIT 5
    """,
)
def agent_search_papers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """search_papers with a fixed question — the flagship M5 retrieval
    through the public tool API, value-hash checked end to end thanks to
    the exact-integer embedder (functions/embedding.py)."""
    return search_papers(spark, sf_dir, _ASP_QUESTION, top_k=5)


@query(
    "agent_paper_details",
    oracle="""
    WITH cleaned AS (
      SELECT doc_id, 'doc_' || doc_id AS paper_id, lang, source FROM documents
    )
    SELECT paper_id, 'Document ' || doc_id AS title,
           CAST(2020 + doc_id % 5 AS INTEGER) AS publication_year, source
    FROM cleaned WHERE paper_id = 'doc_42'
    """,
)
def agent_paper_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_paper_details through the tool API (S6 point lookup)."""
    return get_paper_details(spark, sf_dir, "doc_42").select(
        "paper_id", "title", "publication_year", "source"
    )


@query(
    "agent_chunk_context",
    oracle=f"""
    WITH {_DEFAULT_CHUNKS_SQL},
    ranked AS (
      SELECT paper_id, chunk_id, section_name, word_count,
             row_number() OVER (
               PARTITION BY paper_id ORDER BY word_count DESC, chunk_id) AS rn
      FROM chunks
    )
    SELECT paper_id, chunk_id, section_name, word_count
    FROM ranked WHERE rn <= 2
    ORDER BY paper_id, chunk_id
    """,
)
def agent_chunk_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-paper top-2 longest chunks from the CHUNKS_V analogue — the
    context-assembly query shape behind summarize_context (§2.5's
    stronger per-group top-k vs the reference's global top-k)."""
    v = chunks_view(spark, sf_dir)
    rn = F.row_number().over(
        W.partitionBy("paper_id").orderBy(F.desc("word_count"), F.asc("chunk_id"))
    )
    return (
        v.withColumn("rn", rn)
        .filter(F.col("rn") <= 2)
        .select("paper_id", "chunk_id", "section_name", "word_count")
        .orderBy("paper_id", "chunk_id")
    )
