"""Retrieval operators — the reference's flagship query surface.

The reference implements brute-force cosine top-k retrieval *three times*
(tools.py:45-92, agent.py:94-125, backend/retrieval.py:48-69): full scan
of APP.CHUNKS_V, per-row ``np.dot`` in a Python loop, sort desc, slice k.
Here there is exactly ONE implementation (SURVEY §3.2 calls out the
duplication), expressed as a declarative plan:

    scan (column-pruned) → broadcast the query vector → codegen'd dot
    product → TakeOrderedAndProject (distributed top-k, no full sort)

At 100 TB the plan is scan-bound and embarrassingly parallel: no
driver-side collect, no Python in the hot path, and ``orderBy+limit``
plans as a per-partition top-k + single small merge rather than a global
sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import cosine_score
from ..registry import query
from ..sources import load_table

TOP_K = 5
QUERY_VEC_ID = 0  # deterministic stand-in for an encoded query (SURVEY M3)


def cosine_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = QUERY_VEC_ID,
    k: int = TOP_K,
) -> DataFrame:
    """Score every document against a query vector; return top-k.

    Mirrors M5 (tools.py:45-92): the ``documents ⋈ embeddings`` join plays
    the role of APP.CHUNKS_V (chunks ⋈ papers, sql/01_create_schema.sql:92-93).
    The query vector is itself drawn from the embeddings table so the whole
    query is deterministic and oracle-checkable.

    Determinism contract (SURVEY §4.4): scores rounded to 4 decimals
    (reference rounds too, tools.py:85) and ordering carries a ``doc_id``
    tiebreaker so the selected top-k set is engine-independent.

    Join strategy: only the 1-row query vector carries an explicit
    broadcast hint. documents has the same cardinality as embeddings, so
    hinting it broadcast would OOM the build side at scale — the planner
    picks broadcast vs sort-merge from size stats (auto-broadcast under
    the threshold locally, shuffle join beyond it), and AQE re-plans at
    runtime. Asserted in tests/test_plans.py both ways.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    qvec = (
        emb.filter(F.col("vec_id") == query_vec_id)
        .select(F.col("embedding").cast("array<double>").alias("qvec"))
    )
    scored = (
        emb.crossJoin(F.broadcast(qvec))  # 1-row dim side: broadcast, no shuffle
        .join(docs, emb.vec_id == docs.doc_id, "inner")
        .select(
            "doc_id",
            "lang",
            "source",
            cosine_score("embedding", "qvec").alias("score"),
        )
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


@query(
    "vector_topk",
    oracle=f"""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
    )
    SELECT d.doc_id, d.lang, d.source,
           round(list_dot_product(e.embedding::DOUBLE[], q.qvec), 4) AS score
    FROM embeddings e CROSS JOIN q
    JOIN documents d ON d.doc_id = e.vec_id
    ORDER BY score DESC, d.doc_id
    LIMIT {TOP_K}
    """,
)
def vector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_topk(spark, sf_dir)


@query(
    "vector_topk_filtered",
    oracle=f"""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
    )
    SELECT d.doc_id, e.label,
           round(list_dot_product(e.embedding::DOUBLE[], q.qvec), 4) AS score
    FROM embeddings e CROSS JOIN q
    JOIN documents d ON d.doc_id = e.vec_id
    WHERE e.label IN (1, 2, 3) AND d.lang = 'en'
    ORDER BY score DESC, d.doc_id
    LIMIT 10
    """,
)
def vector_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 + P5: retrieval restricted by an IN-list predicate, the shape of
    the reference's entity-filtered KG retrieval (tools.py:185-191). The
    label/lang filters push down to the parquet scans."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("label").isin(1, 2, 3))
    docs = load_table(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    qvec = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("embedding").cast("array<double>").alias("qvec"))
    )
    return (
        emb.crossJoin(F.broadcast(qvec))
        .join(docs, emb.vec_id == docs.doc_id, "inner")  # size-based strategy
        .select("doc_id", "label", cosine_score("embedding", "qvec").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


@query(
    "doc_lookup",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars
    FROM documents WHERE doc_id = 42
    """,
)
def doc_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 point lookup (tools.py:116-125 ``WHERE PAPER_ID = %s``): an
    equality predicate pushed into the parquet scan; with a sorted /
    partitioned layout this prunes to a single row group."""
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") == 42)
        .select("doc_id", "text", "lang", "source", "n_chars")
    )


# ---------------------------------------------------------------------------
# Trigram-indexed substring search (beyond ref — the pg_trgm shape)
# ---------------------------------------------------------------------------

SUBSTR_PATTERN = "hash value"  # constant query pattern (no LIKE wildcards)


def _pattern_trigrams(pattern: str) -> list[str]:
    return sorted({pattern[i : i + 3] for i in range(len(pattern) - 2)})


def trigram_postings_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold trigram-index stage (warehouse stage ``trigram_postings``):
    one (gram, doc_id) row per distinct lowercase character 3-gram per
    document — the pg_trgm/Lucene-ngram shape that turns LIKE
    '%pattern%' from a full corpus scan into an equi-join on the
    pattern's grams. Repartitioned by gram at write so a pattern's gram
    IN-list prunes parquet row groups. Built once at ingest; size is
    O(total chars) before dedup, O(distinct grams per doc) after."""
    from ..sources import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    grams = F.expr(
        "transform(sequence(1, length(lower(text)) - 2),"
        " i -> substring(lower(text), i, 3))"
    )
    return (
        # the length guard matters: sequence(1, 0) DESCENDS in Spark, so
        # a <3-char document would emit junk sub-3-char "grams"
        docs.filter(F.length("text") >= 3)
        .select("doc_id", F.explode(F.array_distinct(grams)).alias("gram"))
        .repartition(F.col("gram"))
        .sortWithinPartitions("gram", "doc_id")
    )


@query(
    "doc_substring_search",
    oracle=f"""
    SELECT doc_id, source,
           CAST(strpos(lower(text), '{SUBSTR_PATTERN}') AS INTEGER) AS match_pos
    FROM documents
    WHERE strpos(lower(text), '{SUBSTR_PATTERN}') > 0
    ORDER BY doc_id
    """,
)
def doc_substring_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring search ('%{SUBSTR_PATTERN}%') via trigram candidate
    pruning — the index-backed shape every warehouse needs for LIKE at
    100 TB, where a raw contains() scan reads every byte of text:

    1. candidate generation: a document qualifies only if its trigram
       set contains EVERY trigram of the pattern (a superset of the
       true matches, never a miss) — an equi-join between the postings
       relation and the broadcast pattern-gram list, counted per doc;
    2. verification: ``instr`` runs only on the candidates' text (a
       doc_id equi-join back to documents), never the corpus.

    Warm, the postings come from the ``trigram_postings`` index stage
    (gram-pruned parquet scan); cold they derive inline — same relation,
    same result (warm ≡ cold in tests/test_ingest.py). The DuckDB
    oracle is the plain full-scan strpos filter: candidate pruning must
    be output-invisible, exactly like the MinHash-banding dedup
    contract (operators/dedup.py)."""
    from ..pipeline.corpus import _stage_or

    grams = _pattern_trigrams(SUBSTR_PATTERN)
    postings = _stage_or(spark, sf_dir, "trigram_postings", trigram_postings_build)
    gset = spark.createDataFrame([(g,) for g in grams], "gram string")
    cand = (
        postings.filter(F.col("gram").isin(*grams))
        .join(F.broadcast(gset), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("_ng"))
        .filter(F.col("_ng") == len(grams))
        .select("doc_id")
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    pos = F.instr(F.lower(F.col("text")), SUBSTR_PATTERN)
    return (
        docs.join(cand, "doc_id")
        .select("doc_id", "source", pos.cast("int").alias("match_pos"))
        .filter(F.col("match_pos") > 0)
        .orderBy("doc_id")
    )
