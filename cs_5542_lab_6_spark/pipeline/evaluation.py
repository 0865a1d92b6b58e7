"""Vector-RAG vs Graph-RAG retrieval evaluation (reference
evaluation/evaluate.py:3-13).

The reference ships ``run_ragas_evaluation`` as an EMPTY stub — "Run
baseline Vector RAG vs Graph-RAG evaluation via Answer Relevance and
Faithfulness metrics" with no body. RAGAS itself needs an LLM judge, so
a faithful port cannot be hash-checked; what CAN be deterministic — and
is the part a retrieval engine owns — is the retrieval-side comparison:
for a fixture question set, run BOTH retrieval modes the agent exposes
(vector cosine top-k, tools.py:45-92; KG entity-neighborhood chunks,
tools.py:182-217), and report per question

- the overlap between the two retrieved chunk sets (Jaccard),
- per-mode *citation coverage*: the fraction of the question's entities
  whose KG node appears in the mode's retrieved chunks — the
  deterministic analogue of RAGAS context-relevance.

Everything derives from the engine's own deterministic seams (hash
embedder, ingestion entity normalization), so the whole report is
oracle-checked end to end — strictly more than the reference ever
implemented.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.embedding import duck_embedding_cte, duck_qvec_sql, embed_query_f32
from ..functions.text import normalize_entity
from ..functions.vectors import cosine_score
from ..registry import query
from .corpus import (
    _CORPUS_CTES,
    KG_MIN_NAME_LENGTH,
    _kg_names,
    _kg_und_occurrences,
    _stage_or,
    chunk_entities_df,
    chunks_source,
)

EVAL_K = 5  # per-mode retrieval depth (reference DEFAULT_TOP_K, tools.py)

# Fixture question set: mixes corpus-vocabulary terms with
# out-of-vocabulary ones so coverage is a real signal, not constant 1.0.
EVAL_QUESTIONS: tuple[str, ...] = (
    "spark hash join performance",
    "window sort order in a fast scan",
    "vector search quality",
)


def _questions_sql() -> str:
    vals = ", ".join(
        f"({i + 1}, '{q}')" for i, q in enumerate(EVAL_QUESTIONS)
    )
    return f"questions(qid, question) AS (VALUES {vals})"


def _qvecs_sql() -> str:
    vals = ", ".join(
        f"({i + 1}, {duck_qvec_sql(q)})" for i, q in enumerate(EVAL_QUESTIONS)
    )
    return f"qvecs(qid, qv) AS (VALUES {vals})"


@query(
    "eval_rag_comparison",
    oracle=f"""
    WITH {_CORPUS_CTES},
    {duck_embedding_cte()},
    {_questions_sql()},
    {_qvecs_sql()},
    toks AS (
      SELECT q.qid,
             trim(regexp_replace(lower(t.tok), '[^a-z0-9 ]', '', 'g'))
               AS name_normalized
      FROM questions q,
           unnest(regexp_split_to_array(q.question, '\\s+')) AS t(tok)
    ),
    seeds AS (
      SELECT DISTINCT qid, name_normalized FROM toks
      WHERE length(name_normalized) >= {KG_MIN_NAME_LENGTH}
    ),
    nseed AS (SELECT qid, COUNT(*) AS n_seed FROM seeds GROUP BY qid),
    nodes AS (SELECT DISTINCT node_id, name_normalized FROM ents),
    seed_nodes AS (
      SELECT DISTINCT s.qid, n.node_id
      FROM seeds s JOIN nodes n USING (name_normalized)
    ),
    pairs AS (
      SELECT DISTINCT a.node_id AS source_node_id, b.node_id AS target_node_id
      FROM ents a JOIN ents b
        ON a.chunk_id = b.chunk_id AND a.node_id < b.node_id
    ),
    related AS (
      SELECT qid, node_id FROM seed_nodes
      UNION
      SELECT sn.qid, p.target_node_id
      FROM seed_nodes sn JOIN pairs p ON p.source_node_id = sn.node_id
      UNION
      SELECT sn.qid, p.source_node_id
      FROM seed_nodes sn JOIN pairs p ON p.target_node_id = sn.node_id
    ),
    bridge AS (SELECT DISTINCT chunk_id, node_id FROM ents),
    gtop AS (
      SELECT qid, chunk_id FROM (
        SELECT r.qid, b.chunk_id,
               row_number() OVER (PARTITION BY r.qid
                                  ORDER BY COUNT(*) DESC, b.chunk_id) AS rn
        FROM related r JOIN bridge b USING (node_id)
        GROUP BY r.qid, b.chunk_id
      ) WHERE rn <= {EVAL_K}
    ),
    vtop AS (
      SELECT qid, chunk_id FROM (
        SELECT v.qid, c.chunk_id,
               row_number() OVER (
                 PARTITION BY v.qid
                 ORDER BY round(list_dot_product(e.embedding::DOUBLE[], v.qv), 4)
                            DESC,
                          c.chunk_id) AS rn
        FROM chunks c JOIN emb e USING (chunk_id), qvecs v
      ) WHERE rn <= {EVAL_K}
    ),
    counts AS (
      SELECT q.qid,
             (SELECT COUNT(*) FROM vtop v WHERE v.qid = q.qid) AS n_vector,
             (SELECT COUNT(*) FROM gtop g WHERE g.qid = q.qid) AS n_graph,
             (SELECT COUNT(*) FROM vtop v JOIN gtop g
               ON v.qid = g.qid AND v.chunk_id = g.chunk_id
               WHERE v.qid = q.qid) AS n_overlap
      FROM questions q
    ),
    cov AS (
      SELECT q.qid,
             (SELECT COUNT(DISTINCT sn.node_id)
              FROM seed_nodes sn JOIN bridge b USING (node_id)
              JOIN vtop v ON v.qid = sn.qid AND v.chunk_id = b.chunk_id
              WHERE sn.qid = q.qid) AS v_cov,
             (SELECT COUNT(DISTINCT sn.node_id)
              FROM seed_nodes sn JOIN bridge b USING (node_id)
              JOIN gtop g ON g.qid = sn.qid AND g.chunk_id = b.chunk_id
              WHERE sn.qid = q.qid) AS g_cov
      FROM questions q
    )
    SELECT sha256(q.question) AS log_id,
           CAST(q.qid AS INTEGER) AS qid,
           q.question,
           CAST(ns.n_seed AS BIGINT) AS n_seed_entities,
           CAST(c.n_vector AS BIGINT) AS n_vector,
           CAST(c.n_graph AS BIGINT) AS n_graph,
           CAST(c.n_overlap AS BIGINT) AS n_overlap,
           round(CAST(c.n_overlap AS DOUBLE)
                 / (c.n_vector + c.n_graph - c.n_overlap), 4) AS jaccard,
           round(CAST(cv.v_cov AS DOUBLE) / ns.n_seed, 4)
             AS vector_coverage,
           round(CAST(cv.g_cov AS DOUBLE) / ns.n_seed, 4)
             AS graph_coverage
    FROM questions q
    JOIN nseed ns USING (qid)
    JOIN counts c USING (qid)
    JOIN cov cv USING (qid)
    ORDER BY qid
    """,
)
def eval_rag_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-RAG vs Graph-RAG comparison over the fixture question set
    (the deterministic half of reference evaluation/evaluate.py:3-13).
    One row per question: retrieved-set sizes, overlap Jaccard between
    the two modes, and per-mode citation coverage (fraction of the
    question's normalized entities whose KG node occurs in the mode's
    retrieved chunks), with a sha-derived log_id in the
    ``eval_metrics_log`` sink shape.

    Scale shape: the question set is a literal broadcast (|Q| = 3 here,
    bounded small always) — vector scoring is ONE chunk scan crossed
    with the broadcast question vectors (the multi-query batch-scoring
    shape; window top-k per question), the graph side joins the tiny
    seed/neighbor node sets against the kg_map bridge (broadcast), and
    every aggregate is question-keyed over ≤|Q|·k rows. All corpus-scale
    relations come from the warm warehouse stages when available
    (chunks, kg_edges, kg_map)."""
    qdf = spark.createDataFrame(
        [(i + 1, q, embed_query_f32(q)) for i, q in enumerate(EVAL_QUESTIONS)],
        schema="qid int, question string, qvec array<float>",
    )

    # --- vector mode: one scan, broadcast multi-query scoring, top-k ---
    chunks = chunks_source(spark, sf_dir).select("chunk_id", "embedding")
    vw = W.partitionBy("qid").orderBy(F.desc("score"), F.asc("chunk_id"))
    vtop = (
        chunks.crossJoin(F.broadcast(qdf.select("qid", "qvec")))
        .select(
            "qid",
            "chunk_id",
            cosine_score(F.col("embedding"), F.col("qvec")).alias("score"),
        )
        .withColumn("rn", F.row_number().over(vw))
        .filter(F.col("rn") <= EVAL_K)
        .select("qid", "chunk_id")
    )

    # --- graph mode: seeds -> 1-hop related nodes -> bridge chunks -----
    seeds = (
        qdf.select(
            "qid",
            F.explode(
                F.array_distinct(
                    F.split(F.col("question"), r"\s+")
                )
            ).alias("token"),
        )
        .select("qid", normalize_entity("token").alias("name_normalized"))
        .filter(F.length("name_normalized") >= KG_MIN_NAME_LENGTH)
        .distinct()
    )
    nseed = seeds.groupBy("qid").agg(F.count("*").alias("n_seed"))
    firsts = _kg_names(spark, sf_dir)
    seed_nodes = (
        F.broadcast(seeds)
        .join(firsts, "name_normalized")
        .select("qid", "node_id")
        .distinct()
    )
    # 1-hop neighbors from the UNAGGREGATED both-orientation occurrence
    # relation (one kg_edges scan via map-side orientation explode, r16):
    # `related` only needs DISTINCT neighbor ids, so a per-(src,tgt)
    # weight aggregation — twice, once per orientation branch — would be
    # a pure extra shuffle; the final .distinct() below is the only
    # dedup the semantics need.
    und = _kg_und_occurrences(spark, sf_dir)
    related = (
        seed_nodes.unionAll(
            F.broadcast(seed_nodes)
            .join(und, seed_nodes.node_id == und.src)
            .select("qid", F.col("tgt").alias("node_id"))
        )
        .distinct()
    )
    # no .distinct(): (chunk_id, node_id) is UNIQUE by construction in
    # both sources (chunk_entities_df's per-chunk first-seen dedup is
    # what kg_map materializes), so deduping here was a pure extra
    # shuffle of the bridge relation — the r11 plan audit removed it.
    bridge = _stage_or(spark, sf_dir, "kg_map", chunk_entities_df).select(
        "chunk_id", "node_id"
    )
    gw = W.partitionBy("qid").orderBy(F.desc("n_matched"), F.asc("chunk_id"))
    gtop = (
        bridge.join(F.broadcast(related), "node_id")
        .groupBy("qid", "chunk_id")
        .agg(F.count("*").alias("n_matched"))
        .withColumn("rn", F.row_number().over(gw))
        .filter(F.col("rn") <= EVAL_K)
        .select("qid", "chunk_id")
    )

    # --- per-question report in ONE aggregation pass (r16, guide §2.4) --
    # The old report instantiated each top-k subtree THREE times (its
    # count, the overlap join, its coverage join — six heavy subtrees,
    # seven small joins, relying on ReusedExchange to dedupe the work).
    # Instead: tag the two retrieved sets, left-join the seed-node/bridge
    # match once, and compute every metric in a single grouped pass —
    # the overlap via the set identity |V∩G| = |V| + |G| − |V∪G|. Each
    # retrieved set is distinct (qid, chunk_id) by construction
    # (row_number ≤ k), so the per-mode distinct chunk counts equal the
    # old per-mode row counts exactly.
    modes = vtop.withColumn("mode", F.lit("v")).unionByName(
        gtop.withColumn("mode", F.lit("g"))
    )
    match = bridge.join(F.broadcast(seed_nodes), "node_id").select(
        "qid", "chunk_id", "node_id"
    )
    rep = (
        modes.join(F.broadcast(match), ["qid", "chunk_id"], "left")
        .groupBy("qid")
        .agg(
            F.countDistinct(
                F.when(F.col("mode") == "v", F.col("chunk_id"))
            ).alias("n_vector"),
            F.countDistinct(
                F.when(F.col("mode") == "g", F.col("chunk_id"))
            ).alias("n_graph"),
            F.countDistinct("chunk_id").alias("n_union"),
            F.countDistinct(
                F.when(F.col("mode") == "v", F.col("node_id"))
            ).alias("v_cov"),
            F.countDistinct(
                F.when(F.col("mode") == "g", F.col("node_id"))
            ).alias("g_cov"),
        )
    )

    out = (
        qdf.select("qid", "question")
        .join(nseed, "qid")
        .join(rep, "qid", "left")
        .na.fill(0, ["n_vector", "n_graph", "n_union", "v_cov", "g_cov"])
        .withColumn(
            "n_overlap",
            F.col("n_vector") + F.col("n_graph") - F.col("n_union"),
        )
    )
    union_sz = F.col("n_union")
    return out.select(
        F.sha2(F.col("question"), 256).alias("log_id"),
        "qid",
        "question",
        F.col("n_seed").cast("bigint").alias("n_seed_entities"),
        F.col("n_vector").cast("bigint").alias("n_vector"),
        F.col("n_graph").cast("bigint").alias("n_graph"),
        F.col("n_overlap").cast("bigint").alias("n_overlap"),
        F.round(F.col("n_overlap").cast("double") / union_sz, 4).alias("jaccard"),
        F.round(F.col("v_cov").cast("double") / F.col("n_seed"), 4).alias(
            "vector_coverage"
        ),
        F.round(F.col("g_cov").cast("double") / F.col("n_seed"), 4).alias(
            "graph_coverage"
        ),
    ).orderBy("qid")
