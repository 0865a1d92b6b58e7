"""Lexical ranking + dataset-splitting operators (training-data surface).

The reference retrieves by embedding cosine only (tools.py:45-92); a
corpus engine at scale also needs the lexical side — BM25 is the
standard keyword ranker (Robertson/Sparck Jones probabilistic relevance
framework) and the usual first stage of hybrid retrieval — plus
deterministic dataset splitting for training pipelines (every row must
land in the same split on every engine and every rerun, so the split key
is a content hash, never rand()).

Both operators are pure Catalyst over the ``documents`` fixture and
fully DuckDB-oracle-checked; BM25's floating-point score is computed
with the same operation ORDER in both engines (per-term score summed
over an ORDER BY term list) so the IEEE doubles agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import words
from ..registry import query
from ..sources import fan_out, load_table

# BM25 free parameters (the standard Okapi defaults).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = ("spark", "join", "performance")
BM25_TOP_K = 10

_TERMS_LIST = ", ".join(f"('{t}')" for t in sorted(BM25_QUERY_TERMS))


# The BM25 scoring chain as DuckDB CTEs ending in totals(doc_id, score,
# n_terms_hit) — shared by the bm25_doc_topk and hybrid_rrf_topk oracles.
_DUCK_BM25_CTES = f"""
toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(
           regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) AS token
  FROM documents
  WHERE length(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) > 0
),
doclen AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM doclen
),
qterms(term) AS (VALUES {_TERMS_LIST}),
tf AS (
  SELECT t.doc_id, q.term, COUNT(*) AS tf
  FROM toks t JOIN qterms q ON t.token = q.term
  GROUP BY t.doc_id, q.term
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
           * (tf.tf * ({BM25_K1} + 1.0))
           / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                + {BM25_B} * doclen.dl / stats.avgdl)) AS s,
         tf.term
  FROM tf
  JOIN df USING (term)
  JOIN doclen USING (doc_id)
  CROSS JOIN stats
),
totals AS (
  -- per-term scores summed in term order: the same fold order Spark
  -- uses, so the double total is bit-identical
  SELECT doc_id,
         SUM(s ORDER BY term) AS score,
         COUNT(*) AS n_terms_hit
  FROM scored GROUP BY doc_id
)
"""


@query(
    "bm25_doc_topk",
    oracle=f"""
    WITH {_DUCK_BM25_CTES}
    SELECT doc_id, round(score, 4) AS score, n_terms_hit
    FROM totals
    ORDER BY score DESC, doc_id
    LIMIT {BM25_TOP_K}
    """,
)
def bm25_doc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k for a fixed query — the lexical retrieval path
    (complement of M5's vector path; hybrid_rrf_topk fuses the two).

    Shape at scale: tf is an inverted-index build restricted to the query
    terms (the join against the tiny term list prunes before the
    aggregation, so the shuffle carries only matching postings); df and
    the corpus stats are broadcast scalars; scoring is one narrow
    projection; top-k is TakeOrderedAndProject. No full-corpus index is
    materialized for a single query — a standing index would be a
    bucketed (term → postings) table built once and range-scanned here.
    """
    totals = _bm25_scored(spark, sf_dir)
    return (
        totals.select("doc_id", F.round("score", 4).alias("score"), "n_terms_hit")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(BM25_TOP_K)
    )


def bm25_postings_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold inverted-index stage: (token, doc_id, tf) term frequencies
    over the whole corpus — the postings relation every text-retrieval
    system materializes ONCE at ingest (warehouse stage
    ``bm25_postings``). Repartitioned by token at write so a query-term
    predicate prunes parquet row groups instead of scanning the corpus;
    tf is an exact integer, so index-served scores are bit-identical to
    the cold tokenize-per-query derivation (r8 verdict item 1: indexes
    are build-once/query-many artifacts)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id", F.explode(words(F.lower(F.col("text")))).alias("token")
    )
    return (
        toks.groupBy("token", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"))
        .repartition(F.col("token"))
        .sortWithinPartitions("token", "doc_id")
    )


def bm25_doclen_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold doc-length stage (warehouse stage ``bm25_doclen``): one
    (doc_id, dl) row per document — the BM25 normalizer, kept separate
    from the postings so the per-query plan never scans full postings
    just to recover lengths."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id", F.explode(words(F.lower(F.col("text")))).alias("token")
    )
    return toks.groupBy("doc_id").agg(F.count("*").cast("long").alias("dl"))


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score, n_terms_hit) — raw BM25 totals for every document
    matching ≥1 query term (shared by bm25_doc_topk, hybrid_rrf_topk and
    bm25_rerank_topk).

    Warm: served from the ``bm25_postings`` / ``bm25_doclen`` index
    stages — the per-query work drops to a token-pruned postings scan +
    broadcast joins, never re-tokenizing the corpus (warm ≡ cold
    asserted in tests/test_ingest.py). Cold: the full derivation."""
    from ..pipeline.corpus import _warm_path, read_stage

    post_p = _warm_path(sf_dir, "bm25_postings")
    dl_p = _warm_path(sf_dir, "bm25_doclen")
    if post_p and dl_p:
        qterms = spark.createDataFrame(
            [(t,) for t in sorted(set(BM25_QUERY_TERMS))], "term string"
        )
        doclen = read_stage(spark, dl_p)
        stats = doclen.agg(
            F.count("*").alias("n_docs"),
            F.avg(F.col("dl").cast("double")).alias("avgdl"),
        )
        tf = (
            read_stage(spark, post_p)
            .filter(F.col("token").isin(*sorted(set(BM25_QUERY_TERMS))))
            .join(F.broadcast(qterms), F.col("token") == F.col("term"))
            .select("doc_id", "term", "tf")
        )
        df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
        idf = F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        )
        denom = F.col("tf") + BM25_K1 * (
            1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
        )
        scored = (
            tf.join(F.broadcast(df_), "term")
            .join(doclen, "doc_id")
            .crossJoin(F.broadcast(stats))
            .select(
                "doc_id",
                "term",
                (idf * (F.col("tf") * (BM25_K1 + 1.0)) / denom).alias("s"),
            )
        )
        return bm25_totals(scored)
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    return bm25_totals(bm25_scored_terms(spark, docs, BM25_QUERY_TERMS))


def bm25_scored_terms(
    spark: SparkSession, docs: DataFrame, query_terms: tuple[str, ...]
) -> DataFrame:
    """Per-(doc_id, term) BM25 contributions ``s`` for any (doc_id, text)
    frame — the injectable core behind ``_bm25_scored``, also driven
    directly by the Hypothesis replica suite (tests/test_properties.py)."""
    toks = docs.select(
        "doc_id", F.explode(words(F.lower(F.col("text")))).alias("token")
    )
    doclen = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = doclen.agg(
        F.count("*").alias("n_docs"), F.avg(F.col("dl").cast("double")).alias("avgdl")
    )
    qterms = spark.createDataFrame(
        [(t,) for t in sorted(set(query_terms))], "term string"
    )
    tf = (
        toks.join(F.broadcast(qterms), toks.token == qterms.term)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            (idf * (F.col("tf") * (BM25_K1 + 1.0)) / denom).alias("s"),
        )
    )


def bm25_totals(scored: DataFrame) -> DataFrame:
    """Ordered per-doc fold of the per-term contributions.

    Per-term scores are summed in TERM order (sorted struct array fold),
    so the floating-point total matches the oracle's ``SUM(s ORDER BY
    term)`` bit-for-bit regardless of partitioning."""
    return (
        scored.groupBy("doc_id")
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("term"), F.col("s")))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["s"],
            ).alias("score"),
            F.count("*").alias("n_terms_hit"),
        )
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal rank fusion of lexical + vector rankings
# ---------------------------------------------------------------------------

RRF_K = 60  # the standard RRF damping constant (Cormack et al. 2009)
RRF_CANDIDATES = 50  # per-retriever candidate list length
RRF_TOP_K = 10
_QUERY_VEC_ID = 0  # same deterministic query vector as vector_topk


@query(
    "hybrid_rrf_topk",
    oracle=f"""
    WITH {_DUCK_BM25_CTES},
    bm AS (
      SELECT doc_id, round(score, 4) AS s FROM totals
      ORDER BY s DESC, doc_id LIMIT {RRF_CANDIDATES}
    ),
    bmr AS (
      SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r FROM bm
    ),
    q AS (
      SELECT embedding::DOUBLE[] AS qvec FROM embeddings
      WHERE vec_id = {_QUERY_VEC_ID}
    ),
    vec AS (
      SELECT e.vec_id AS doc_id,
             round(list_dot_product(e.embedding::DOUBLE[], q.qvec), 4) AS s
      FROM embeddings e CROSS JOIN q
      ORDER BY s DESC, doc_id LIMIT {RRF_CANDIDATES}
    ),
    vr AS (
      SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r FROM vec
    ),
    fused AS (
      SELECT COALESCE(bmr.doc_id, vr.doc_id) AS doc_id,
             COALESCE(1.0 / ({RRF_K} + bmr.r), 0.0)
               + COALESCE(1.0 / ({RRF_K} + vr.r), 0.0) AS rrf,
             bmr.r AS bm25_rank, vr.r AS vector_rank
      FROM bmr FULL OUTER JOIN vr USING (doc_id)
    )
    SELECT doc_id, round(rrf, 6) AS rrf_score, bm25_rank, vector_rank
    FROM fused
    ORDER BY rrf_score DESC, doc_id
    LIMIT {RRF_TOP_K}
    """,
)
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal rank fusion of the BM25 and cosine
    candidate lists — score(d) = Σᵢ 1/(k + rankᵢ(d)) over the retrievers
    that returned d. The standard way real RAG engines combine lexical
    and semantic recall (the reference has only the vector path).

    Scale shape: each retriever produces its top-{RRF_CANDIDATES} via
    TakeOrderedAndProject (distributed top-k); ranking those candidate
    lists is a window over ≤{RRF_CANDIDATES} rows (post-limit, driver-
    sized — NOT a global window over the corpus), and the fusion is a
    full-outer join of two tiny relations. Ranks are assigned on scores
    rounded to 4 decimals with doc_id tiebreaks, so the rank lists —
    and therefore the fused scores — are engine-independent."""
    from .retrieval import cosine_topk

    bm = (
        _bm25_scored(spark, sf_dir)
        .select("doc_id", F.round("score", 4).alias("s"))
        .orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(RRF_CANDIDATES)
    )
    from pyspark.sql import Window as W

    rank_w = W.orderBy(F.desc("s"), F.asc("doc_id"))
    bmr = bm.select("doc_id", F.row_number().over(rank_w).alias("bm25_rank"))
    vec = (
        cosine_topk(spark, sf_dir, query_vec_id=_QUERY_VEC_ID, k=RRF_CANDIDATES)
        .select("doc_id", F.col("score").alias("s"))
    )
    vr = vec.select("doc_id", F.row_number().over(rank_w).alias("vector_rank"))
    fused = bmr.join(vr, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(1.0 / (RRF_K + F.col("bm25_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (RRF_K + F.col("vector_rank")), F.lit(0.0))
        ).alias("rrf"),
        "bm25_rank",
        "vector_rank",
    )
    return (
        fused.select(
            "doc_id",
            F.round("rrf", 6).alias("rrf_score"),
            "bm25_rank",
            "vector_rank",
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(RRF_TOP_K)
    )


# Split fractions: hash bucket ∈ [0, 100); < 80 → train, < 90 → valid.
SPLIT_BUCKETS = 100
TRAIN_UPPER = 80
VALID_UPPER = 90


def split_assignment(doc_id_col: str = "doc_id"):
    """The deterministic split label as a Column — THE split definition;
    every consumer (doc_train_test_split, contamination_scan) must use
    this so threshold changes can never fork the audited split."""
    from ..functions.text import token_hash60

    bucket = token_hash60(F.concat(F.lit("split|"), F.col(doc_id_col))) % SPLIT_BUCKETS
    return (
        F.when(bucket < TRAIN_UPPER, "train")
        .when(bucket < VALID_UPPER, "valid")
        .otherwise("test")
    )


# DuckDB twin of split_assignment (format with {id} = the id expression).
DUCK_SPLIT_CASE = (
    f"CASE WHEN CAST(concat('0x', substr(sha256('split|' || {{id}}), 1, 15)) AS BIGINT)"
    f" % {SPLIT_BUCKETS} < {TRAIN_UPPER} THEN 'train'"
    f" WHEN CAST(concat('0x', substr(sha256('split|' || {{id}}), 1, 15)) AS BIGINT)"
    f" % {SPLIT_BUCKETS} < {VALID_UPPER} THEN 'valid'"
    f" ELSE 'test' END"
)


@query(
    "doc_train_test_split",
    oracle=f"""
    WITH labeled AS (
      SELECT doc_id, lang, {DUCK_SPLIT_CASE.format(id="doc_id")} AS split
      FROM documents
    )
    SELECT lang, split, COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM labeled
    GROUP BY lang, split
    ORDER BY lang, split
    """,
)
def doc_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/valid/test assignment (80/10/10):
    the split key is sha256 of a salted row id, so membership is stable
    across engines, reruns, partitionings, and cluster sizes — the
    property rand()-based splits lack (a retry or re-partition must never
    move a document across the train/test boundary). Reported as per
    (lang, split) counts — the stratification report a data pipeline
    checks before training."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", "lang", split_assignment("doc_id").alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("lang", "split")
    )


# ---------------------------------------------------------------------------
# Two-stage retrieval: BM25 candidates → cross-encoder rerank
# ---------------------------------------------------------------------------

from ..functions.rerank import duck_rerank_score, rerank_score  # noqa: E402

RERANK_CANDIDATES = 25
RERANK_TOP_K = 10
RERANK_QUERY = " ".join(sorted(BM25_QUERY_TERMS))


@query(
    "bm25_rerank_topk",
    oracle=f"""
    WITH {_DUCK_BM25_CTES},
    cand AS (
      SELECT doc_id, bm25_rank FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY round(score, 4) DESC, doc_id)
                 AS bm25_rank
        FROM totals
      ) WHERE bm25_rank <= {RERANK_CANDIDATES}
    ),
    rescored AS (
      SELECT c.doc_id, c.bm25_rank,
             round({duck_rerank_score(RERANK_QUERY, "d.text")}, 6) AS rerank_score
      FROM cand c JOIN documents d ON c.doc_id = d.doc_id
    )
    SELECT doc_id, CAST(bm25_rank AS INTEGER) AS bm25_rank, rerank_score,
           CAST(final_rank AS INTEGER) AS final_rank
    FROM (
      SELECT *, row_number() OVER (ORDER BY rerank_score DESC, doc_id)
                  AS final_rank
      FROM rescored
    ) WHERE final_rank <= {RERANK_TOP_K}
    ORDER BY final_rank
    """,
)
def bm25_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: BM25 narrows the corpus to
    {RERANK_CANDIDATES} candidates, a cross-encoder seam
    (functions/rerank.py — deterministic sha pair-score by default, a
    real ``sentence_transformers`` CrossEncoder via
    $SPARK_GRAFT_RERANK_MODEL) rescores each (query, doc) pair jointly,
    and the final top-{RERANK_TOP_K} is ranked by the rerank score.

    Scale shape: the expensive model only ever sees k candidate rows per
    query — the whole point of the two-stage economy. Stage one is the
    unchanged BM25 plan (pruned postings join); the candidate list joins
    back to ``documents`` on doc_id to fetch text for exactly k rows
    (broadcast the k-row side, probe the corpus scan); the pandas UDF
    processes one Arrow batch. Ranks are computed on round(score, 4)
    with a doc_id tiebreak so candidate ordering is ulp-robust across
    engines."""
    from pyspark.sql import Window as W

    totals = _bm25_scored(spark, sf_dir)
    w = W.orderBy(F.desc(F.round(F.col("score"), 4)), F.asc("doc_id"))
    cand = (
        totals.withColumn("bm25_rank", F.row_number().over(w))
        .filter(F.col("bm25_rank") <= RERANK_CANDIDATES)
        .select("doc_id", "bm25_rank")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rescored = (
        docs.join(F.broadcast(cand), "doc_id")
        .select(
            "doc_id",
            "bm25_rank",
            F.round(rerank_score(F.lit(RERANK_QUERY), F.col("text")), 6).alias(
                "rerank_score"
            ),
        )
    )
    fw = W.orderBy(F.desc("rerank_score"), F.asc("doc_id"))
    return (
        rescored.withColumn("final_rank", F.row_number().over(fw))
        .filter(F.col("final_rank") <= RERANK_TOP_K)
        .select(
            "doc_id",
            F.col("bm25_rank").cast("int").alias("bm25_rank"),
            "rerank_score",
            F.col("final_rank").cast("int").alias("final_rank"),
        )
        .orderBy("final_rank")
    )


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction (document fingerprint for curation/labeling)
# ---------------------------------------------------------------------------

TFIDF_TOP = 3


@query(
    "doc_tfidf_keywords",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(
               regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) AS token
      FROM documents
      WHERE length(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) > 0
    ),
    doclen AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    n AS (SELECT COUNT(*) AS n_docs FROM doclen),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
    ),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    scored AS (
      SELECT t.doc_id, t.token, t.tf, d.df,
             t.tf * ln((n.n_docs + 1.0) / (d.df + 1.0)) AS raw
      FROM tf t JOIN df d USING (token) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id
        ORDER BY CAST(round(raw, 6) AS DECIMAL(18,6)) DESC, token) AS rank
      FROM scored
    )
    SELECT doc_id, CAST(rank AS INTEGER) AS rank, token, tf, df,
           round(raw, 4) AS tfidf
    FROM ranked WHERE rank <= {TFIDF_TOP}
    ORDER BY doc_id, rank
    """,
)
def doc_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered entry: ``tfidf_keywords_for`` at the fixed literal
    k=TFIDF_TOP the driver hashes; see that function for semantics."""
    return tfidf_keywords_for(spark, sf_dir)


def tfidf_keywords_for(
    spark: SparkSession, sf_dir: str, *, k: int = TFIDF_TOP
) -> DataFrame:
    """Top-``k`` TF-IDF keywords per document — the cheap document
    fingerprint curation and labeling pipelines attach to every row
    (cluster naming, topic drill-down, near-dup triage). idf uses the
    smoothed ln((N+1)/(df+1)) form, which keeps ranking meaningful even
    on this fixture's deliberately tiny vocabulary (31 distinct tokens,
    median df ~0.8N — a df-threshold stopword cut would empty the
    report; rarity weighting, not exclusion, is the robust rule).
    Ranking compares round(score, 6) as DECIMAL with a token tie-break,
    so order is engine-exact (cross-engine ln agreement on these inputs
    is the same contract the BM25 family already pins).

    Warm: served from the ``bm25_postings``/``bm25_doclen`` index stages
    (the postings relation IS the tf table); cold: one tokenize pass.
    Scale shape: df is a map-side-combinable aggregate over postings,
    the N scalar broadcasts, and the per-doc top-{TFIDF_TOP} is a
    window-group-limit over the postings scan — linear everywhere."""
    from ..pipeline.corpus import _stage_or

    if k < 1:
        raise ValueError(f"need k >= 1, got {k}")
    postings = _stage_or(spark, sf_dir, "bm25_postings", bm25_postings_build)
    doclen = _stage_or(spark, sf_dir, "bm25_doclen", bm25_doclen_build)
    n = doclen.agg(F.count("*").alias("n_docs"))
    df_ = postings.groupBy("token").agg(F.count("*").alias("df"))
    raw = F.col("tf") * F.log(
        (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
    )
    scored = (
        postings.join(df_, "token")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "token", "tf", "df", raw.alias("raw"))
    )
    from pyspark.sql import Window as W

    rank = F.row_number().over(
        W.partitionBy("doc_id").orderBy(
            F.round(F.col("raw"), 6).cast("decimal(18,6)").desc(), F.asc("token")
        )
    )
    return (
        scored.withColumn("rank", rank)
        .filter(F.col("rank") <= k)
        .select(
            "doc_id",
            F.col("rank").cast("int"),
            "token",
            "tf",
            "df",
            F.round("raw", 4).alias("tfidf"),
        )
        .orderBy("doc_id", "rank")
    )
