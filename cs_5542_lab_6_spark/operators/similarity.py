"""Similarity-search operators over the ``embeddings`` fixture.

Three tiers of the same capability (north-star extras, SURVEY §4.3-3):

1. ``ann_brute_force_topk`` — exact multi-query cosine top-k; the correct
   baseline and the reference's own retrieval shape (M5, tools.py:45-92)
   generalized from 1 query vector to a query *set*.
2. ``ann_lsh_topk`` — random-hyperplane (sign) LSH: 8 fixed hyperplanes
   bucket every vector into a 8-bit code; a query searches only its
   bucket. Sub-linear candidate sets, approximate recall.
3. ``ann_ivf_topk`` — IVF shape: coarse quantizer (per-``label`` centroid
   built with order-independent integer arithmetic), nprobe=2 nearest
   centroids per query, exact search inside the probed partitions only.

Scale design: brute force is one broadcast (queries) + narrow scan +
per-query TakeOrderedAndProject; LSH/IVF turn that scan into an equi-join
on bucket/partition keys, i.e. partition pruning for vectors. All three
are pure Catalyst — scoring via zip_with/aggregate folds inside codegen,
mirrored exactly by DuckDB list arithmetic (scores rounded to 4)."""

from __future__ import annotations

import hashlib
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import token_hash60
from ..functions.vectors import dot
from ..registry import query
from ..sources import load_table

QUERY_IDS = (0, 7, 42)  # deterministic query-vector set
TOP_K = 10
N_PLANES = 8
IVF_NPROBE = 2
EMBED_DIM = 64
_QUERY_IN = ", ".join(str(q) for q in QUERY_IDS)


def _plane_component(p: int, d: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-0.5, 0.5),
    sha256-derived — embedded as identical literals in Spark and DuckDB."""
    h = hashlib.sha256(f"plane:{p}:{d}".encode()).hexdigest()
    return round(int(h[:12], 16) / 16**12 - 0.5, 6)


PLANES: list[list[float]] = [
    [_plane_component(p, d) for d in range(EMBED_DIM)] for p in range(N_PLANES)
]


def _norm(v: Column) -> Column:
    return F.sqrt(dot(v, v))


def _cos(a: Column, b: Column, na: Column, nb: Column) -> Column:
    return F.round(dot(a, b) / (na * nb), 4)


_DUCK_EMB = """
e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM e WHERE vec_id IN (%s))
""" % _QUERY_IN


def lsh_codes_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold LSH vector-index stage (warehouse stage ``lsh_codes``): the
    embeddings table augmented with its L2 norm and {N_PLANES}-bit
    hyperplane bucket code, repartitioned by bucket at write so a
    probe's bucket predicate prunes parquet row groups instead of
    scanning and re-coding the whole collection per query. Codes are
    pure functions of the vector (sha-derived hyperplane literals), so
    index-served search is bit-identical to the cold per-query coding —
    the build-once/query-many vector-store shape (FAISS/SCaNN ingest
    side) 100 TB retrieval requires."""
    return (
        _coded_cold(spark, sf_dir)
        .repartition(F.col("bucket"))
        .sortWithinPartitions("bucket", "vec_id")
    )


def _coded_cold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``lsh_codes`` rows derived from the embeddings table, unclustered."""
    return (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
        )
        .withColumn("nrm", _norm(F.col("v")))
        .withColumn("bucket", _spark_bucket(F.col("v")))
    )


def _coded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, v, nrm, bucket) — the coded vector collection
    every similarity query starts from. Warm: one scan of the
    ``lsh_codes`` index stage (bucket-clustered, norm/code precomputed).
    Cold: derived in the scan projection, identical values."""
    from ..pipeline.corpus import _stage_or

    return _stage_or(spark, sf_dir, "lsh_codes", _coded_cold)


@query(
    "ann_brute_force_topk",
    oracle=f"""
    WITH {_DUCK_EMB},
    scored AS (
      SELECT q.qid, e.vec_id, e.label,
             round(list_dot_product(q.qv, e.v) / (q.qn * e.nrm), 4) AS cosine
      FROM q JOIN e ON e.vec_id <> q.qid
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    )
    SELECT qid, CAST(rank AS INTEGER) AS rank, vec_id, label, cosine
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY qid, rank
    """,
)
def ann_brute_force_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-{TOP_K} for each query vector: broadcast the tiny
    query set against the full collection, score JVM-side, one window
    ranking pass per query partition.

    At 100 TB the scan dominates and parallelizes perfectly; the shuffle
    moves only (qid, vec_id, score) triples — never the vectors."""
    e = _coded(spark, sf_dir).drop("bucket")
    qset = e.filter(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    scored = (
        e.crossJoin(F.broadcast(qset))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "label",
            _cos(F.col("qv"), F.col("v"), F.col("qn"), F.col("nrm")).alias("cosine"),
        )
    )
    rank = F.row_number().over(
        W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    )
    return (
        scored.withColumn("rank", rank)
        .filter(F.col("rank") <= TOP_K)
        .select("qid", "rank", "vec_id", "label", "cosine")
        .orderBy("qid", "rank")
    )


def _duck_plane_list(p: int) -> str:
    return "[" + ", ".join(repr(x) for x in PLANES[p]) + "]"


_DUCK_BUCKET = " + ".join(
    f"(CASE WHEN list_dot_product(v, {_duck_plane_list(p)}) >= 0 THEN {1 << p} ELSE 0 END)"
    for p in range(N_PLANES)
)


def _spark_bucket(v: Column) -> Column:
    bucket = F.lit(0)
    for p in range(N_PLANES):
        plane = F.array(*[F.lit(x) for x in PLANES[p]])
        bucket = bucket + F.when(dot(v, plane) >= 0, F.lit(1 << p)).otherwise(0)
    return bucket


@query(
    "ann_lsh_topk",
    oracle=f"""
    WITH {_DUCK_EMB},
    coded AS (SELECT vec_id, label, v, nrm, {_DUCK_BUCKET} AS bucket FROM e),
    qc AS (
      SELECT q.qid, q.qv, q.qn, c.bucket
      FROM q JOIN coded c ON c.vec_id = q.qid
    ),
    scored AS (
      SELECT qc.qid, c.vec_id, c.label, c.bucket,
             round(list_dot_product(qc.qv, c.v) / (qc.qn * c.nrm), 4) AS cosine
      FROM qc JOIN coded c ON c.bucket = qc.bucket AND c.vec_id <> qc.qid
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    )
    SELECT qid, CAST(rank AS INTEGER) AS rank, vec_id, label, bucket, cosine
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY qid, rank
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-{TOP_K} via random-hyperplane LSH: every vector gets
    an {N_PLANES}-bit sign code against fixed sha-derived hyperplanes;
    queries search only their own bucket (recall traded for a ~2^{N_PLANES}×
    smaller candidate set).

    Scale shape: the bucket code is computed in the scan (narrow); search
    becomes an equi-join on the bucket key — the vector analogue of
    partition pruning. More planes or multi-probe widen recall."""
    e = _coded(spark, sf_dir)
    qset = e.filter(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("bucket").alias("qbucket"),
    )
    scored = (
        e.join(
            F.broadcast(qset),
            (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("qid")),
        )
        .select(
            "qid",
            "vec_id",
            "label",
            "bucket",
            _cos(F.col("qv"), F.col("v"), F.col("qn"), F.col("nrm")).alias("cosine"),
        )
    )
    rank = F.row_number().over(
        W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    )
    return (
        scored.withColumn("rank", rank)
        .filter(F.col("rank") <= TOP_K)
        .select("qid", "rank", "vec_id", "label", "bucket", "cosine")
        .orderBy("qid", "rank")
    )


LSH_PROBE_HAMMING = 1  # probe the query bucket + all codes at Hamming distance 1


@query(
    "ann_lsh_multiprobe_topk",
    oracle=f"""
    WITH {_DUCK_EMB},
    coded AS (SELECT vec_id, label, v, nrm, {_DUCK_BUCKET} AS bucket FROM e),
    qc AS (
      SELECT q.qid, q.qv, q.qn, c.bucket AS qbucket
      FROM q JOIN coded c ON c.vec_id = q.qid
    ),
    probes AS (
      SELECT qid, qv, qn,
             CASE WHEN p = 0 THEN qbucket ELSE xor(qbucket, (1 << (p - 1))) END AS bucket
      FROM qc, unnest(range(0, {N_PLANES + 1})) AS t(p)
    ),
    scored AS (
      SELECT pr.qid, c.vec_id, c.label, c.bucket,
             round(list_dot_product(pr.qv, c.v) / (pr.qn * c.nrm), 4) AS cosine
      FROM probes pr JOIN coded c ON c.bucket = pr.bucket AND c.vec_id <> pr.qid
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    )
    SELECT qid, CAST(rank AS INTEGER) AS rank, vec_id, label, bucket, cosine
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY qid, rank
    """,
)
def ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH (Lv et al., VLDB'07 idea in its simplest form):
    each query searches its own bucket PLUS every bucket at Hamming
    distance {LSH_PROBE_HAMMING} ({N_PLANES}+1 probes total) — the
    recall dial that widens the candidate set WITHOUT rebuilding the
    index or adding hash tables. Single-probe LSH misses a true
    neighbor whenever one hyperplane splits the pair; flipping each bit
    in turn recovers exactly those one-plane misses.

    Scale shape: identical to ann_lsh_topk — codes computed in the
    narrow scan, candidates via an equi-join on the bucket key; the
    probe fan-out multiplies only the tiny broadcast query side
    ({N_PLANES}+1 rows per query), never the corpus."""
    e = _coded(spark, sf_dir)
    qset = e.filter(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("bucket").alias("qbucket"),
    )
    # probe list: the bucket itself plus each single-bit flip
    probe = F.explode(
        F.array(
            F.col("qbucket"),
            *[
                F.expr(f"qbucket ^ {1 << p}").cast("int")
                for p in range(N_PLANES)
            ],
        )
    )
    probes = qset.select("qid", "qv", "qn", probe.alias("pbucket"))
    scored = e.join(
        F.broadcast(probes),
        (F.col("bucket") == F.col("pbucket")) & (F.col("vec_id") != F.col("qid")),
    ).select(
        "qid",
        "vec_id",
        "label",
        "bucket",
        _cos(F.col("qv"), F.col("v"), F.col("qn"), F.col("nrm")).alias("cosine"),
    )
    rank = F.row_number().over(
        W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    )
    return (
        scored.withColumn("rank", rank)
        .filter(F.col("rank") <= TOP_K)
        .select("qid", "rank", "vec_id", "label", "bucket", "cosine")
        .orderBy("qid", "rank")
    )


def ivf_centroids_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold IVF coarse-quantizer stage: one (label, cv) centroid row per
    cluster, components quantized to 1/1000 integers before averaging so
    the result is order-independent and cross-engine exact. This is the
    warehouse-stage builder (``ingest.STAGES``): at 100 TB the centroid
    table is a tiny index artifact built ONCE at ingest — every
    ANN query then broadcasts a |nlist|-row parquet scan instead of
    re-aggregating the full vector corpus (r8 verdict item 1)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    comp = e.select(
        "label", F.posexplode("v").alias("d", "x")
    ).withColumn("xi", F.round(F.col("x") * 1000).cast("long"))
    return (
        comp.groupBy("label", "d")
        .agg((F.sum("xi").cast("double") / (1000.0 * F.count("*"))).alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "c"))), lambda s: s["c"]
            ).alias("cv")
        )
    )


def _ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, cv) centroids: the ``ivf_centroids`` warehouse checkpoint
    when warm, the corpus-wide aggregation otherwise."""
    from ..pipeline.corpus import _stage_or

    return _stage_or(spark, sf_dir, "ivf_centroids", ivf_centroids_build)


@query(
    "ann_ivf_topk",
    oracle=f"""
    WITH {_DUCK_EMB},
    comp AS (
      SELECT label, t.d, CAST(round(v[t.d] * 1000) AS BIGINT) AS xi
      FROM e, unnest(range(1, {EMBED_DIM} + 1)) AS t(d)
    ),
    cent AS (
      SELECT label, array_agg(c ORDER BY d) AS cv
      FROM (
        SELECT label, d, CAST(SUM(xi) AS DOUBLE) / (1000.0 * COUNT(*)) AS c
        FROM comp GROUP BY label, d
      ) GROUP BY label
    ),
    qdist AS (
      SELECT q.qid, c.label,
             round(list_sum(list_transform(range(1, {EMBED_DIM} + 1),
                   i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))), 4) AS dist
      FROM q CROSS JOIN cent c
    ),
    probes AS (
      SELECT qid, label FROM (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist, label) AS pr
        FROM qdist
      ) WHERE pr <= {IVF_NPROBE}
    ),
    scored AS (
      SELECT q.qid, e.vec_id, e.label,
             round(list_dot_product(q.qv, e.v) / (q.qn * e.nrm), 4) AS cosine
      FROM q
      JOIN probes p ON p.qid = q.qid
      JOIN e ON e.label = p.label AND e.vec_id <> q.qid
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    )
    SELECT qid, CAST(rank AS INTEGER) AS rank, vec_id, label, cosine
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY qid, rank
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: per-``label`` centroids act as the coarse quantizer
    (components quantized to 1/1000 integers before averaging, so the
    centroid is order-independent and cross-engine exact); each query
    probes its {IVF_NPROBE} nearest centroids and searches only those
    partitions exactly.

    Scale shape: with vectors written partitioned by cluster id, the probe
    list prunes the scan to nprobe/nlist of the data — IVF is literally
    partition pruning plus a small centroid broadcast."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("nrm", _norm(F.col("v")))
    )
    cent = _ivf_centroids(spark, sf_dir)
    qset = e.filter(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    sqdiff = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    qdist = F.broadcast(qset).crossJoin(F.broadcast(cent)).select(
        "qid", "qv", "qn", "label", F.round(sqdiff, 4).alias("dist")
    )
    pr = F.row_number().over(W.partitionBy("qid").orderBy(F.asc("dist"), F.asc("label")))
    probes = (
        qdist.withColumn("pr", pr)
        .filter(F.col("pr") <= IVF_NPROBE)
        .select("qid", "qv", "qn", "label")
    )
    scored = (
        e.join(F.broadcast(probes), "label")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "label",
            _cos(F.col("qv"), F.col("v"), F.col("qn"), F.col("nrm")).alias("cosine"),
        )
    )
    rank = F.row_number().over(
        W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    )
    return (
        scored.withColumn("rank", rank)
        .filter(F.col("rank") <= TOP_K)
        .select("qid", "rank", "vec_id", "label", "cosine")
        .orderBy("qid", "rank")
    )


# ---------------------------------------------------------------------------
# Scalar int8 quantization (embedding storage compression)
# ---------------------------------------------------------------------------


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e,
             list_aggregate(embedding::DOUBLE[], 'min') AS mn,
             list_aggregate(embedding::DOUBLE[], 'max') AS mx
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, label, e, mn, mx,
             list_transform(e, x ->
               CASE WHEN mx = mn THEN 0
                    ELSE least(255, CAST(floor((x - mn) * 255.0 / (mx - mn)) AS INTEGER))
               END) AS qv
      FROM v
    ),
    r AS (
      SELECT vec_id, label, mn, mx, qv,
             list_transform(qv, qi -> mn + qi * (mx - mn) / 255.0) AS rec,
             e
      FROM q
    )
    SELECT vec_id, label,
           round(mn, 6) AS q_min, round(mx, 6) AS q_max,
           array_to_string(list_transform(qv, x -> CAST(x AS VARCHAR)), ',') AS q_sig,
           round(list_sum(list_transform(range(1, len(e) + 1),
                 i -> (e[i] - rec[i]) * (e[i] - rec[i]))) / len(e), 8) AS mse
    FROM r
    ORDER BY vec_id
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector scalar int8 quantization of the embedding column — the
    4x storage compression step an ANN index applies before sharding
    vectors at scale (float32 → uint8 with per-vector min/max range),
    reported with the reconstruction MSE per vector.

    Everything is basic IEEE double arithmetic (subtract/multiply/divide/
    floor) in array order, so the quantized codes AND the error metric
    are bit-identical cross-engine; the code vector is emitted as a
    comma-joined string (integer formatting is engine-independent, and
    the driver's canonicalizer can't hash array cells). Narrow per-row
    transform — scales exactly like the scan, no shuffle."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    mn, mx = F.array_min("e"), F.array_max("e")
    v = e.select("vec_id", "label", "e", mn.alias("mn"), mx.alias("mx"))
    qv = F.when(F.col("mx") == F.col("mn"), F.transform("e", lambda x: F.lit(0))).otherwise(
        F.transform(
            "e",
            lambda x: F.least(
                F.lit(255),
                F.floor((x - F.col("mn")) * 255.0 / (F.col("mx") - F.col("mn"))).cast(
                    "int"
                ),
            ),
        )
    )
    q = v.withColumn("qv", qv)
    rec = F.transform(
        "qv", lambda qi: F.col("mn") + qi * (F.col("mx") - F.col("mn")) / 255.0
    )
    r = q.withColumn("rec", rec)
    sq_err_sum = F.aggregate(
        F.zip_with("e", "rec", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return r.select(
        "vec_id",
        "label",
        F.round("mn", 6).alias("q_min"),
        F.round("mx", 6).alias("q_max"),
        F.array_join(F.transform("qv", lambda x: x.cast("string")), ",").alias("q_sig"),
        F.round(sq_err_sum / F.size("e"), 8).alias("mse"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# K-means clustering (semantic grouping / domain discovery)
# ---------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 2
KMEANS_SCALE = 1000  # fixed-point factor: exact-integer distance arithmetic

_DUCK_KMEANS_POINTS = f"""
pts AS (
  SELECT vec_id, t.i - 1 AS dim,
         CAST(round(embedding[t.i]::DOUBLE * {KMEANS_SCALE}) AS BIGINT) AS val
  FROM embeddings, unnest(range(1, {EMBED_DIM} + 1)) AS t(i)
)
"""


# The "today's ingest batch" cut is THE SAME constant the incremental
# and streaming dedup screens use — imported, not re-declared, so a
# retune can never silently fork the monitored cut from the dedup cut.
from .dedup import NEW_BATCH_MOD as EMB_DRIFT_MOD  # noqa: E402

# Industry-standard PSI alert bands (credit-scoring convention, e.g.
# Siddiqi "Credit Risk Scorecards"): < 0.1 stable, 0.1–0.25 moderate
# shift (investigate), >= 0.25 significant shift (block the refresh).
# The band is derived from the ROUNDED psi on both engines, so the
# hash-checked column pins the DECISION, not just the number.
PSI_STABLE_MAX = 0.1
PSI_MODERATE_MAX = 0.25


@query(
    "embedding_drift_psi",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    coded AS (
      SELECT vec_id, ({_DUCK_BUCKET}) AS bucket,
             CASE WHEN vec_id % {EMB_DRIFT_MOD} = 0
                  THEN 'incoming' ELSE 'reference' END AS side
      FROM e
    ),
    counts AS (SELECT side, bucket, COUNT(*) AS c FROM coded GROUP BY 1, 2),
    ref AS (SELECT bucket, c AS rc FROM counts WHERE side = 'reference'),
    inc AS (SELECT bucket, c AS ic FROM counts WHERE side = 'incoming'),
    rt AS (SELECT SUM(rc) AS rt FROM ref),
    it AS (SELECT SUM(ic) AS it FROM inc),
    joined AS (
      SELECT ref.bucket,
             CAST(ic AS DOUBLE) / it.it AS q,
             CAST(rc AS DOUBLE) / rt.rt AS p
      FROM ref JOIN inc USING (bucket) CROSS JOIN rt CROSS JOIN it
    ),
    psi AS (
      SELECT COUNT(*) AS n_common,
             COALESCE(round(SUM((q - p) * ln(q / p) ORDER BY bucket), 6), 0.0)
               AS psi
      FROM joined
    ),
    unseen AS (
      SELECT round(CAST((SELECT COALESCE(SUM(ic), 0)
                         FROM inc LEFT JOIN ref USING (bucket)
                         WHERE rc IS NULL) AS DOUBLE) / it.it, 6)
               AS unseen_share
      FROM it
    )
    SELECT CAST(rt.rt AS BIGINT) AS n_reference,
           CAST(it.it AS BIGINT) AS n_incoming,
           CAST(psi.n_common AS INTEGER) AS n_buckets_common,
           CAST((SELECT COUNT(*) FROM ref LEFT JOIN inc USING (bucket)
                 WHERE ic IS NULL) AS INTEGER) AS n_buckets_ref_only,
           CAST((SELECT COUNT(*) FROM inc LEFT JOIN ref USING (bucket)
                 WHERE rc IS NULL) AS INTEGER) AS n_buckets_incoming_only,
           unseen.unseen_share AS incoming_unseen_share,
           psi.psi,
           CASE WHEN psi.psi < {PSI_STABLE_MAX}
                 AND unseen.unseen_share < {PSI_STABLE_MAX} THEN 'stable'
                WHEN psi.psi < {PSI_MODERATE_MAX}
                 AND unseen.unseen_share < {PSI_MODERATE_MAX} THEN 'moderate'
                ELSE 'shifted' END AS drift_band
    FROM psi CROSS JOIN rt CROSS JOIN it CROSS JOIN unseen
    """,
)
def embedding_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor: Population Stability Index of the
    LSH hyperplane-bucket distribution, "today's ingest"
    (vec_id % EMB_DRIFT_MOD == 0, the incremental-dedup cut convention)
    vs the standing reference collection. The token-space twin is
    ``corpus_drift_psi`` (mixing.py); this is the vector-side check a
    100 TB pipeline runs on every embedding refresh — a retrained or
    misconfigured encoder moves vectors across hyperplane buckets long
    before any single cosine looks wrong, and a healthy same-encoder
    batch shows PSI ≈ 0.

    Buckets come from ``_coded`` — the warm ``lsh_codes`` index stage
    when available, so the monitor is an index SCAN plus a ≤2^N_PLANES
    histogram, one pass regardless of collection size. Buckets present
    on only one side cannot enter the (q−p)·ln(q/p) sum and are
    reported as ref-only / incoming-only counts (visible, not silently
    skipped); the sum folds in bucket order so the double total matches
    DuckDB's ordered SUM to the rounded digit (the corpus_drift_psi
    idiom). ``drift_band`` maps onto the standard 0.1 / 0.25 alert
    bands (stable / moderate / shifted) so the driver hash-checks the
    alert DECISION the pipeline would act on, not just the statistic —
    the events_quality_expectations idiom. The band escalates on
    ``incoming_unseen_share`` (incoming mass in buckets the reference
    never occupied) as well as on PSI: the common-bucket PSI alone
    reads a CATASTROPHIC full-bucket shift as 0.0/"stable" because no
    bucket survives the join — with smoothing those buckets would
    dominate the sum, and bounding their contribution by mass share is
    the deterministic proxy (pinned "shifted" on a rotated-encoder
    corpus in tests/test_corpus_invariants.py)."""
    coded = _coded(spark, sf_dir).select(
        "bucket",
        F.when(F.col("vec_id") % EMB_DRIFT_MOD == 0, F.lit("incoming"))
        .otherwise(F.lit("reference"))
        .alias("side"),
    )
    counts = coded.groupBy("side", "bucket").agg(F.count("*").alias("c"))
    ref = counts.filter(F.col("side") == "reference").select(
        "bucket", F.col("c").alias("rc")
    )
    inc = counts.filter(F.col("side") == "incoming").select(
        "bucket", F.col("c").alias("ic")
    )
    rt = ref.agg(F.sum("rc").alias("rt"))
    it = inc.agg(F.sum("ic").alias("it"))
    joined = (
        ref.join(inc, "bucket")
        .crossJoin(F.broadcast(rt))
        .crossJoin(F.broadcast(it))
        .select(
            "bucket",
            (F.col("ic").cast("double") / F.col("it")).alias("q"),
            (F.col("rc").cast("double") / F.col("rt")).alias("p"),
        )
    )
    psi_row = joined.agg(
        F.count("*").cast("int").alias("n_buckets_common"),
        F.round(
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "bucket",
                            (
                                (F.col("q") - F.col("p"))
                                * F.log(F.col("q") / F.col("p"))
                            ).alias("contrib"),
                        )
                    )
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["contrib"],
            ),
            6,
        ).alias("psi"),
    )
    ref_only = ref.join(inc, "bucket", "left_anti").agg(
        F.count("*").cast("int").alias("n_buckets_ref_only")
    )
    inc_only = inc.join(ref, "bucket", "left_anti").agg(
        F.count("*").cast("int").alias("n_buckets_incoming_only"),
        F.coalesce(F.sum("ic"), F.lit(0)).alias("unseen_ic"),
    )
    # five 1-row scalar broadcasts stitch the report row (whitelisted in
    # test_plans) — everything upstream is a single hash-agg histogram
    unseen_share = F.round(F.col("unseen_ic").cast("double") / F.col("it"), 6)
    return (
        rt.crossJoin(F.broadcast(it))
        .crossJoin(F.broadcast(psi_row))
        .crossJoin(F.broadcast(ref_only))
        .crossJoin(F.broadcast(inc_only))
        .select(
            F.col("rt").cast("long").alias("n_reference"),
            F.col("it").cast("long").alias("n_incoming"),
            "n_buckets_common",
            "n_buckets_ref_only",
            "n_buckets_incoming_only",
            unseen_share.alias("incoming_unseen_share"),
            "psi",
            F.when(
                (F.col("psi") < PSI_STABLE_MAX)
                & (unseen_share < PSI_STABLE_MAX),
                F.lit("stable"),
            )
            .when(
                (F.col("psi") < PSI_MODERATE_MAX)
                & (unseen_share < PSI_MODERATE_MAX),
                F.lit("moderate"),
            )
            .otherwise(F.lit("shifted"))
            .alias("drift_band"),
        )
    )


def _duck_kmeans_assign(cent: str, out: str) -> str:
    """One Lloyd assignment round in DuckDB SQL: integer squared distance
    in long form, argmin by (dist, cluster)."""
    return f"""
{out}_d AS (
  SELECT p.vec_id, c.cluster, SUM((p.val - c.cval) * (p.val - c.cval)) AS dist
  FROM pts p JOIN {cent} c ON p.dim = c.dim
  GROUP BY p.vec_id, c.cluster
),
{out} AS (
  SELECT vec_id, cluster, dist FROM (
    SELECT vec_id, cluster, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
    FROM {out}_d
  ) WHERE rn = 1
)
"""


@query(
    "embedding_kmeans",
    oracle=f"""
    WITH {_DUCK_KMEANS_POINTS},
    cent0 AS (
      SELECT CAST(vec_id AS INTEGER) AS cluster, dim, val AS cval
      FROM pts WHERE vec_id < {KMEANS_K}
    ),
    {_duck_kmeans_assign("cent0", "asg1")},
    cent1 AS (
      SELECT a.cluster, p.dim, SUM(p.val) // COUNT(*) AS cval
      FROM asg1 a JOIN pts p USING (vec_id)
      GROUP BY a.cluster, p.dim
    ),
    {_duck_kmeans_assign("cent1", "asg2")}
    SELECT CAST(cluster AS INTEGER) AS cluster,
           COUNT(*) AS n_points,
           CAST(SUM(dist) AS BIGINT) AS inertia,
           CAST(MIN(vec_id) AS BIGINT) AS min_vec_id,
           CAST(MAX(vec_id) AS BIGINT) AS max_vec_id
    FROM asg2
    GROUP BY cluster
    ORDER BY cluster
    """,
)
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means over the embedding corpus (KMEANS_K clusters, KMEANS_ITERS
    fixed Lloyd iterations) — the semantic-clustering primitive behind
    domain discovery and cluster-balanced sampling in training-data
    pipelines. Deterministic and engine-exact by construction: seeds are
    the first K vec_ids, coordinates are fixed-point integers
    (round(x*1000)), distances are exact integer sums, argmin tie-breaks
    on cluster id, and centroid updates use integer floor division — no
    float accumulation order anywhere, so the DuckDB twin matches
    bit-for-bit.

    Scale shape: each point is one row holding its fixed-point
    coordinate array ``va`` (``kmeans_points``). The assign step is
    in-row: the K centroids ride one broadcast row and every point
    computes its K distances and the argmin itself, with no shuffle
    (``kmeans_assign_lazy``). The update posexplodes ``va`` to
    (vec_id, dim, val) map-side and runs one partial agg per
    (cluster, dim). No step is quadratic in corpus size, and the
    KMEANS_ITERS rounds are that many linear passes (at 100 TB you
    cache the points once and reuse them)."""
    # try/finally cache hygiene (same idiom as dedup_clusters /
    # kg_pagerank): the long-form points cache backs every iteration,
    # the K-row result is eagerly cut so the cache is unreferenced, and
    # the cache always drops on return.
    pts = kmeans_points(load_table(spark, sf_dir, "embeddings")).cache()
    try:
        return kmeans_lazy(pts).localCheckpoint(eager=True)
    finally:
        pts.unpersist()


def kmeans_points(emb: DataFrame) -> DataFrame:
    """Fixed-point coordinate ARRAY per vector (vec_id, va) — element i
    is round(embedding[i] * KMEANS_SCALE) as a long, exactly the value
    the pre-r17 long form carried per (vec_id, dim) row. The assign step
    consumes the array in-row (see ``kmeans_assign_lazy``); the centroid
    update posexplodes it back to long form map-side."""
    return emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.round(x * KMEANS_SCALE).cast("long"),
        ).alias("va"),
    )


def _kmeans_cents_row(cent_long: DataFrame) -> DataFrame:
    """(cluster, dim, cval) -> ONE row holding every centroid as
    struct(cluster, ca) sorted by cluster id (deterministic: clusters
    are unique, sort_array orders the structs by their first field)."""
    arrs = (
        cent_long.groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cval"))).alias("dc"))
        .select("cluster", F.transform("dc", lambda s: s["cval"]).alias("ca"))
    )
    return arrs.agg(
        F.sort_array(F.collect_list(F.struct("cluster", "ca"))).alias("cents")
    )


def kmeans_assign_lazy(pts: DataFrame) -> DataFrame:
    """Final Lloyd assignment (vec_id, cluster, dist) after KMEANS_ITERS
    rounds, as a LAZY plan over ``pts`` — the shared primitive behind
    ``embedding_kmeans`` (summary) and ``semantic_dedup`` (row-level).

    r17 (guide §1.2/§2.4): the assign step is computed IN-ROW. The old
    long form joined points with centroids on ``dim`` — an n·d·K-row
    map-side expansion pushed through TWO aggregation exchanges (sum of
    squares per (vec, cluster), then the argmin) per Lloyd round. Now
    the K centroids ride ONE broadcast row (the scalar-subquery shape:
    a 1-row BroadcastNestedLoopJoin) and each vector computes all K
    exact integer distances with zip_with/aggregate and picks the argmin
    with array_min over struct(dist, cluster) — the same lexicographic
    (min dist, then min cluster) rule the old min(struct(...)) applied.
    Zero exchanges per assign; integer sums are order-independent, so
    every distance, tie-break and centroid value is bit-identical to the
    long form (oracle-pinned at two SFs)."""

    def assign(cents_row: DataFrame) -> DataFrame:
        best = F.array_min(
            F.transform(
                F.col("cents"),
                lambda c: F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col("va"),
                            c["ca"],
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    ).alias("dist"),
                    c["cluster"].alias("cluster"),
                ),
            )
        )
        return (
            pts.crossJoin(F.broadcast(cents_row))
            .select("vec_id", best.alias("b"))
            .select(
                "vec_id",
                F.col("b.cluster").alias("cluster"),
                F.col("b.dist").alias("dist"),
            )
        )

    cents = pts.filter(F.col("vec_id") < KMEANS_K).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("vec_id").cast("int").alias("cluster"),
                    F.col("va").alias("ca"),
                )
            )
        ).alias("cents")
    )
    asg = assign(cents)
    long_pts = pts.select("vec_id", F.posexplode("va").alias("dim", "val"))
    for _ in range(KMEANS_ITERS - 1):
        cent_long = (
            asg.join(long_pts, "vec_id")
            .groupBy("cluster", "dim")
            .agg(F.expr("sum(val) div count(*)").alias("cval"))
        )
        asg = assign(_kmeans_cents_row(cent_long))
    return asg


def kmeans_lazy(pts: DataFrame) -> DataFrame:
    """The full Lloyd iteration as a LAZY plan over ``pts`` — split out
    so tests can assert broadcast-join shape on the pre-checkpoint plan
    (embedding_kmeans eagerly cuts the K-row result, leaving only a
    Scan ExistingRDD behind)."""
    asg = kmeans_assign_lazy(pts)
    return (
            asg.groupBy("cluster")
            .agg(
                F.count("*").alias("n_points"),
                F.sum("dist").cast("long").alias("inertia"),
                F.min("vec_id").cast("long").alias("min_vec_id"),
                F.max("vec_id").cast("long").alias("max_vec_id"),
            )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDeDup shape): k-means partition + in-cluster
# cosine pruning — quadratic work bounded to one cluster, never the corpus
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.4  # in-cluster cosine above which the higher-id doc drops
SEMDEDUP_SALT = 8  # pair-join salt fan-out: cluster keys are few (K) and
                   # hot by construction, so the self-join is salted to
                   # K*SALT shuffle keys (deterministic vec_id % SALT split)


def kmeans_assign_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold k-means assignment stage (warehouse stage ``kmeans_assign``):
    (vec_id, cluster) after the exact-integer Lloyd rounds — the cluster
    partitioning the semantic-dedup family prunes with. At 100 TB the
    assignment is computed once at ingest and the corpus is written
    partitioned by cluster id; every SemDeDup-style query then runs
    partition-local, never re-iterating Lloyd."""
    # The eager cut MUST happen inside the try (the embedding_kmeans
    # idiom): returning the lazy plan would unpersist the points cache
    # before the ingest write / downstream checkpoint ever executes the
    # Lloyd rounds, silently re-deriving the posexplode scan per round.
    pts = kmeans_points(load_table(spark, sf_dir, "embeddings")).cache()
    try:
        return (
            kmeans_assign_lazy(pts)
            .select("vec_id", "cluster")
            .localCheckpoint(eager=True)
        )
    finally:
        pts.unpersist()


def _kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster): the ``kmeans_assign`` checkpoint when warm, the
    Lloyd derivation (eagerly cut — K-row-bounded rounds) otherwise."""
    from ..pipeline.corpus import _stage_or

    return _stage_or(spark, sf_dir, "kmeans_assign", kmeans_assign_build)


@query(
    "semantic_dedup",
    oracle=f"""
    WITH {_DUCK_KMEANS_POINTS},
    cent0 AS (
      SELECT CAST(vec_id AS INTEGER) AS cluster, dim, val AS cval
      FROM pts WHERE vec_id < {KMEANS_K}
    ),
    {_duck_kmeans_assign("cent0", "asg1")},
    cent1 AS (
      SELECT a.cluster, p.dim, SUM(p.val) // COUNT(*) AS cval
      FROM asg1 a JOIN pts p USING (vec_id)
      GROUP BY a.cluster, p.dim
    ),
    {_duck_kmeans_assign("cent1", "asg2")},
    e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ),
    pairs AS (
      SELECT a.cluster, a.vec_id AS keep_id, b.vec_id AS drop_id,
             round(list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm), 4) AS cosine
      FROM asg2 a
      JOIN asg2 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id
      WHERE round(list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm), 4)
            >= {SEMDEDUP_TAU}
    )
    SELECT CAST(drop_id AS BIGINT) AS vec_id,
           CAST(cluster AS INTEGER) AS cluster,
           CAST(keep_id AS BIGINT) AS dup_of,
           cosine
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY drop_id ORDER BY keep_id) AS rn
      FROM pairs
    ) WHERE rn = 1
    ORDER BY vec_id
    """,
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (Abbas et al. 2023): k-means
    partitions the embedding space ({KMEANS_K} clusters, same exact-integer
    Lloyd rounds as ``embedding_kmeans``), then cosine pruning runs ONLY
    within a cluster — a doc drops iff a lower-vec_id doc in its cluster
    scores cosine >= {SEMDEDUP_TAU} (lowest-id keeper wins; the paper
    orders by centroid distance, this engine uses vec_id so the decision
    is deterministic and engine-exact). Output: one row per dropped doc
    with its cluster, keeper, and the keeper cosine.

    The reference dedupes retrieval results only implicitly (first-writer
    registry, utils.py via corpus build); this is the corpus-curation
    generalization every LLM data pipeline runs before training.

    Scale shape — the whole point of SemDeDup: the O(n²) cosine scan is
    confined to a cluster, so cost is sum_c |c|² not (sum_c |c|)². The
    cluster key alone makes a BAD join key — only {KMEANS_K} distinct
    values, every one hot by construction, so the pair join would run on
    K tasks no matter how many cores exist. The join is therefore SALTED
    (the skew recipe events_salted_type_stats documents): the drop side
    carries a deterministic ``vec_id % {SEMDEDUP_SALT}`` salt, the keep
    side replicates {SEMDEDUP_SALT}× via explode, and the equi-join runs
    on (cluster, salt) — K·{SEMDEDUP_SALT} shuffle keys. Same pair set,
    same output; measured ~2× on local[32] (1.9s → 1.05s at sf0.1) and
    the win grows with cores at 100 TB (where the vectors are written
    partitioned by cluster id and the salt splits each partition-local
    scan). The assignment is the K-row-bounded iterative plan cached
    once and eagerly cut, so the self-join reads a |corpus|-row
    checkpoint, not two replays of the Lloyd rounds."""
    asg = _kmeans_assign(spark, sf_dir)
    e = _coded(spark, sf_dir).select("vec_id", "v", "nrm")
    ae = asg.join(e, "vec_id")
    a = ae.select(
        "cluster",
        F.col("vec_id").alias("keep_id"),
        F.col("v").alias("kv"),
        F.col("nrm").alias("kn"),
        F.explode(F.sequence(F.lit(0), F.lit(SEMDEDUP_SALT - 1))).alias("salt"),
    )
    b = ae.select(
        "cluster",
        F.col("vec_id").alias("drop_id"),
        F.col("v").alias("dv"),
        F.col("nrm").alias("dn"),
        (F.col("vec_id") % SEMDEDUP_SALT).cast("int").alias("salt"),
    )
    pairs = (
        a.join(b, ["cluster", "salt"])
        .filter(F.col("keep_id") < F.col("drop_id"))
        .select(
            "cluster",
            "keep_id",
            "drop_id",
            _cos(F.col("kv"), F.col("dv"), F.col("kn"), F.col("dn")).alias("cosine"),
        )
        .filter(F.col("cosine") >= SEMDEDUP_TAU)
    )
    first = pairs.groupBy("drop_id").agg(
        F.min(F.struct("keep_id", "cluster", "cosine")).alias("k")
    )
    return first.select(
        F.col("drop_id").cast("long").alias("vec_id"),
        F.col("k.cluster").cast("int").alias("cluster"),
        F.col("k.keep_id").cast("long").alias("dup_of"),
        F.col("k.cosine").alias("cosine"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Semantic (embedding-level) train/test decontamination
# ---------------------------------------------------------------------------

# THE split definition is ranking.py's — imported, never re-declared,
# so a threshold change there can never fork the split this scan
# audits (the contamination_scan discipline); the flag threshold is
# the SemDeDup pruning tau above.
from .ranking import DUCK_SPLIT_CASE, split_assignment  # noqa: E402


@query(
    "contamination_semantic_scan",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS nrm
      FROM embeddings
    ),
    coded AS (
      SELECT vec_id, v, nrm, ({_DUCK_BUCKET}) AS bucket,
             {DUCK_SPLIT_CASE.format(id="vec_id")} AS split
      FROM e
    ),
    pairs AS (
      SELECT t.vec_id AS test_vec_id, r.vec_id AS train_vec_id,
             round(list_dot_product(t.v, r.v) / (t.nrm * r.nrm), 4) AS cosine
      FROM coded t JOIN coded r ON t.bucket = r.bucket
      WHERE t.split = 'test' AND r.split = 'train'
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY test_vec_id ORDER BY cosine DESC, train_vec_id) AS rn
      FROM pairs
    )
    SELECT test_vec_id, train_vec_id, cosine,
           cosine >= {SEMDEDUP_TAU} AS contaminated
    FROM ranked WHERE rn = 1
    ORDER BY test_vec_id
    """,
)
def contamination_semantic_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-level) decontamination of the held-out split:
    for every test vector, its best same-LSH-bucket cosine match in the
    train split, flagged ``contaminated`` at the SemDeDup tau — the
    vector-space twin of the shingle-overlap ``contamination_scan``
    (dedup.py), catching paraphrased/re-encoded eval leakage that
    n-gram overlap misses. The split rule is ranking.split_assignment
    applied to vec_id (the same sha-bucket discipline as doc_id) and
    the flag threshold is the imported SemDeDup tau, so neither knob
    can fork from the operators this scan must agree with.

    Scale shape: the asymmetric decontamination join — the test side is
    ~10% of the collection and the candidate set is LSH-bucket-blocked
    (the warm ``lsh_codes`` index when built), so the shuffle is
    test-side-sized and bucket-local, never |train| x |test|; at 100 TB
    the planner broadcasts the eval side outright. The per-test-vec
    argmax is one window pass; every test vector with a same-bucket
    train candidate emits a row carrying the DECISION (``contaminated``
    boolean) per the hash-checked-decision idiom, not just the score.
    Recall caveat (documented, same as every banded screen here): a
    cross-bucket near-match is invisible — multiprobe
    (``ann_lsh_multiprobe_topk``) is the dial if the audit must trade
    cost for recall."""
    coded = _coded(spark, sf_dir).withColumn(
        "split", split_assignment("vec_id")
    )
    test = coded.filter(F.col("split") == "test").select(
        F.col("vec_id").alias("test_vec_id"),
        F.col("v").alias("tv"),
        F.col("nrm").alias("tn"),
        "bucket",
    )
    train = coded.filter(F.col("split") == "train").select(
        F.col("vec_id").alias("train_vec_id"),
        F.col("v").alias("rv"),
        F.col("nrm").alias("rn_"),
        "bucket",
    )
    pairs = test.join(train, "bucket").select(
        "test_vec_id",
        "train_vec_id",
        _cos(F.col("tv"), F.col("rv"), F.col("tn"), F.col("rn_")).alias("cosine"),
    )
    rank = F.row_number().over(
        W.partitionBy("test_vec_id").orderBy(
            F.desc("cosine"), F.asc("train_vec_id")
        )
    )
    return (
        pairs.withColumn("rn", rank)
        .filter(F.col("rn") == 1)
        .select(
            "test_vec_id",
            "train_vec_id",
            "cosine",
            (F.col("cosine") >= SEMDEDUP_TAU).alias("contaminated"),
        )
        .orderBy("test_vec_id")
    )


# ---------------------------------------------------------------------------
# MMR diversified re-ranking (relevance − redundancy greedy selection)
# ---------------------------------------------------------------------------

MMR_QID = 0  # the query vector
MMR_CAND = 10  # stage-one candidate pool (brute-force top-k)
MMR_K = 5  # diversified result size; λ = 0.5 fixed in the formula


def _mmr_round_sql(i: int) -> str:
    """Round i (≥2) of the unrolled greedy: among candidates not yet
    selected, argmax of 0.5*rel − 0.5*max-sim-to-selected."""
    prior = " UNION ALL ".join(f"SELECT vec_id FROM sel{j}" for j in range(1, i))
    return f"""
sel{i} AS (
  SELECT {i} AS rank, r.vec_id, r.rel,
         round(0.5 * r.rel - 0.5 * MAX(s.sim), 5) AS mmr
  FROM rel r
  JOIN sims s ON s.a_id = r.vec_id AND s.b_id IN ({prior})
  WHERE r.vec_id NOT IN ({prior})
  GROUP BY r.vec_id, r.rel
  ORDER BY mmr DESC, r.vec_id LIMIT 1
)"""


@query(
    "mmr_diversified_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ),
    q AS (SELECT v AS qv, nrm AS qn FROM e WHERE vec_id = {MMR_QID}),
    rel AS (
      SELECT e.vec_id,
             round(list_dot_product(e.v, q.qv) / (e.nrm * q.qn), 4) AS rel,
             e.v, e.nrm
      FROM e, q WHERE e.vec_id <> {MMR_QID}
      ORDER BY rel DESC, e.vec_id LIMIT {MMR_CAND}
    ),
    sims AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS sim
      FROM rel a JOIN rel b ON a.vec_id <> b.vec_id
    ),
    sel1 AS (
      SELECT 1 AS rank, vec_id, rel, round(0.5 * rel, 5) AS mmr
      FROM rel ORDER BY rel DESC, vec_id LIMIT 1
    ),
    {",".join(_mmr_round_sql(i) for i in range(2, MMR_K + 1))}
    SELECT CAST(rank AS INTEGER) AS rank, CAST(vec_id AS BIGINT) AS vec_id,
           rel, mmr
    FROM ({" UNION ALL ".join(f"SELECT * FROM sel{j}" for j in range(1, MMR_K + 1))})
    ORDER BY rank
    """,
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick {MMR_K} of the brute-force top-{MMR_CAND}
    candidates, each round maximizing 0.5·relevance − 0.5·(max cosine to
    the already-selected set) — the diversity pass RAG stacks run so the
    context window isn't {MMR_K} copies of the same passage (the
    reference returns raw top-k, tools.py:45-92; redundancy there is
    exactly what dedup/diversity post-processing exists to fix).

    The greedy recurrence is inherently sequential, but over a
    CANDIDATE-sized set: the corpus-scale work (scan + top-{MMR_CAND})
    is the stage-one ANN query; each round is then a constant-cost
    argmax plan over the eagerly-checkpointed {MMR_CAND}-row candidate
    relation and its {MMR_CAND}²-pair sim matrix, with the previously
    selected ids fed back as LITERALS (each round's single winner is
    collected to the driver — a tiny job over the checkpoint — so round
    i never re-executes rounds 1..i-1; cost stays linear in {MMR_K}).
    All scoring arithmetic stays in Spark (HALF_UP round, vec_id
    tiebreaks — engine-exact; the DuckDB twin unrolls the identical
    rounds as CTEs).

    NOTE (laziness contract): unlike every other registered query, this
    one is EAGER at DataFrame-construction time — merely building it
    runs the candidate checkpoint and the K greedy rounds, because each
    round's winner must be collected before the next round's filter can
    be formed as literals. Plan-only callers (EXPLAIN, registry sweeps)
    pay the K small jobs; returning a lazy union of round plans instead
    would re-execute every round on each downstream action, which is
    strictly worse. Parameterized access: mmr_topk_for (this entry is
    its fixed-literal wrapper, kept stable for driver hashing)."""
    return mmr_topk_for(
        spark, sf_dir, qid=MMR_QID, k=MMR_K, lam=0.5, n_cand=MMR_CAND
    )


def mmr_topk_for(
    spark: SparkSession,
    sf_dir: str,
    qvec: "list[float] | None" = None,
    *,
    qid: int | None = None,
    k: int = MMR_K,
    lam: float = 0.5,
    n_cand: int = MMR_CAND,
) -> DataFrame:
    """Parameterized MMR re-ranking — the public API behind the
    registered ``mmr_diversified_topk`` (which pins qid/k/λ/n_cand as
    fixed literals for driver hashing, the kg_neighborhood_for
    pattern). Pass EITHER an explicit query vector ``qvec`` (scored
    against the whole collection) OR a collection id ``qid`` (that
    vector is the query and is excluded from the candidate pool).
    λ weights relevance vs diversity: mmr = λ·rel − (1−λ)·max-sim.

    Same execution contract as the registered entry: EAGER at
    construction (stage-one candidate top-``n_cand`` is checkpointed,
    then k−1 constant-cost argmax rounds each collect one winner)."""
    if (qvec is None) == (qid is None):
        raise ValueError("pass exactly one of qvec / qid")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    if k < 1 or n_cand < k:
        raise ValueError(f"need 1 <= k <= n_cand, got k={k} n_cand={n_cand}")
    if qvec is not None:
        # zip_with pads a short/long vector with nulls and a zero vector
        # divides by norm 0 — either silently yields null cosines and a
        # garbage ranking, so both are argument errors (r10 advice)
        if len(qvec) != EMBED_DIM:
            raise ValueError(f"qvec must have {EMBED_DIM} dims, got {len(qvec)}")
        if not any(float(x) != 0.0 for x in qvec):
            raise ValueError("qvec must have non-zero norm")
    e = _coded(spark, sf_dir).drop("bucket")
    if qid is not None:
        q = e.filter(F.col("vec_id") == qid).select(
            F.col("v").alias("qv"), F.col("nrm").alias("qn")
        )
        pool = e.filter(F.col("vec_id") != qid)
    else:
        q = spark.range(1).select(
            F.array(*[F.lit(float(x)) for x in qvec])
            .cast("array<double>")
            .alias("qv")
        )
        q = q.select("qv", _norm(F.col("qv")).alias("qn"))
        pool = e
    rel = (
        pool.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "v",
            "nrm",
            _cos(F.col("v"), F.col("qv"), F.col("nrm"), F.col("qn")).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(n_cand)
        .localCheckpoint(eager=True)
    )
    a = rel.select(F.col("vec_id").alias("a_id"), F.col("v").alias("av"), F.col("nrm").alias("an"))
    b = rel.select(F.col("vec_id").alias("b_id"), F.col("v").alias("bv"), F.col("nrm").alias("bn"))
    sims = a.join(b, F.col("a_id") != F.col("b_id")).select(
        "a_id",
        "b_id",
        _cos(F.col("av"), F.col("bv"), F.col("an"), F.col("bn")).alias("sim"),
    )
    cand = rel.select("vec_id", "rel")
    first = cand.orderBy(F.desc("rel"), F.asc("vec_id")).limit(1).select(
        F.lit(1).alias("rank"),
        "vec_id",
        "rel",
        F.round(F.lit(lam) * F.col("rel"), 5).alias("mmr"),
    )
    # prior selections as collected literals: round i's anti-filter and
    # max-sim penalty reference a tiny IN-list, not the union of rounds
    # 1..i-1's plans, so each round executes in constant time. Each
    # round's single winner is collected ONCE, and the final relation is
    # built from those already-collected rows — returning a union of the
    # K lazy argmax plans would re-run every round when the caller acts.
    won = first.collect()
    ids = [r["vec_id"] for r in won]
    for i in range(2, k + 1):
        rem = cand.filter(~F.col("vec_id").isin(ids))
        pen = (
            sims.filter(F.col("b_id").isin(ids))
            .groupBy("a_id")
            .agg(F.max("sim").alias("max_sim"))
        )
        nxt = (
            rem.join(pen, rem["vec_id"] == pen["a_id"])
            .select(
                "vec_id",
                "rel",
                F.round(
                    F.lit(lam) * F.col("rel")
                    - F.lit(1.0 - lam) * F.col("max_sim"),
                    5,
                ).alias("mmr"),
            )
            .orderBy(F.desc("mmr"), F.asc("vec_id"))
            .limit(1)
            .select(F.lit(i).alias("rank"), "vec_id", "rel", "mmr")
        )
        batch = nxt.collect()
        won.extend(batch)
        ids.extend(r["vec_id"] for r in batch)
    return spark.createDataFrame(
        [(int(r["rank"]), int(r["vec_id"]), float(r["rel"]), float(r["mmr"]))
         for r in won],
        schema="rank int, vec_id long, rel double, mmr double",
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# ANN quality evaluation: recall@k of the approximate tiers vs brute force
# ---------------------------------------------------------------------------

from ..registry import all_oracles as _all_oracles  # noqa: E402


def _ann_sub(name: str) -> str:
    """The registered oracle of another ANN query, embeddable as a
    subquery (DuckDB allows WITH inside a derived table)."""
    return _all_oracles()[name]


@query(
    "ann_recall_eval",
    oracle=f"""
    WITH truth AS (SELECT qid, vec_id FROM ({_ann_sub("ann_brute_force_topk")}) t),
    lsh AS (SELECT qid, vec_id FROM ({_ann_sub("ann_lsh_topk")}) t),
    lshmp AS (SELECT qid, vec_id FROM ({_ann_sub("ann_lsh_multiprobe_topk")}) t),
    ivf AS (SELECT qid, vec_id FROM ({_ann_sub("ann_ivf_topk")}) t),
    hits AS (
      SELECT t.qid, 'ivf' AS method, COUNT(i.vec_id) AS n_hits
      FROM truth t LEFT JOIN ivf i ON t.qid = i.qid AND t.vec_id = i.vec_id
      GROUP BY t.qid
      UNION ALL
      SELECT t.qid, 'lsh' AS method, COUNT(l.vec_id) AS n_hits
      FROM truth t LEFT JOIN lsh l ON t.qid = l.qid AND t.vec_id = l.vec_id
      GROUP BY t.qid
      UNION ALL
      SELECT t.qid, 'lsh_mp' AS method, COUNT(m.vec_id) AS n_hits
      FROM truth t LEFT JOIN lshmp m ON t.qid = m.qid AND t.vec_id = m.vec_id
      GROUP BY t.qid
    )
    SELECT qid, method, CAST(n_hits AS BIGINT) AS n_hits,
           round(CAST(n_hits AS DOUBLE) / {TOP_K}, 4) AS recall_at_k
    FROM hits
    ORDER BY qid, method
    """,
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of each approximate tier (IVF, single-probe LSH,
    multi-probe LSH) against the exact brute-force ranking — the
    evaluation loop an ANN deployment runs
    before trading recall for candidate-set size (the FAISS/IVF tuning
    workflow, expressed as one query).

    Scale shape: the ground truth is computed on a SAMPLE of queries
    (here the fixed {len(QUERY_IDS)}-query set — at 100 TB you evaluate
    on hundreds of held-out queries, never the full corpus), so every
    relation in this query is tiny: top-k lists per method, joined on
    (qid, vec_id) and hash-aggregated. The expensive parts reuse the
    three tier queries unchanged — evaluation composes operators, it
    does not duplicate them. The truth subtree appears once per method
    branch in the logical plan, but NOT in execution: AQE's
    ReusedExchange dedupes the corpus-wide scoring shuffle across
    branches, and an interleaved A/B showed an explicit localCheckpoint
    cut is ~15% SLOWER (materialization barrier without saved work)."""
    truth = ann_brute_force_topk(spark, sf_dir).select("qid", "vec_id")
    approx = {
        "ivf": ann_ivf_topk(spark, sf_dir).select("qid", "vec_id"),
        "lsh": ann_lsh_topk(spark, sf_dir).select("qid", "vec_id"),
        "lsh_mp": ann_lsh_multiprobe_topk(spark, sf_dir).select("qid", "vec_id"),
    }
    # ONE pass (r16, the eval_rag_comparison pattern): the truth subtree
    # — a corpus-wide exact scoring — appeared once per method branch
    # and relied on ReusedExchange to execute once; instead left-join
    # the union-tagged method lists (each ≤ |Q|·k rows, broadcast) into
    # a SINGLE truth instantiation and count per-method matches
    # conditionally. Each method list is distinct (qid, vec_id) by
    # construction (row_number ≤ k), so a truth row fans out at most
    # once per method and the conditional counts equal the old per-
    # method join counts exactly; stack() re-emits one row per
    # (qid, method) including the n_hits = 0 ones the old left joins
    # produced.
    methods = sorted(approx)
    preds = reduce(
        lambda a, b: a.unionByName(b),
        [
            df.withColumn("method", F.lit(m))
            for m, df in sorted(approx.items())
        ],
    )
    per_qid = (
        truth.join(F.broadcast(preds), ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(
            *[
                F.count(F.when(F.col("method") == m, F.lit(1))).alias(
                    f"nh_{i}"
                )
                for i, m in enumerate(methods)
            ]
        )
    )
    stack_args = ", ".join(
        f"'{m}', nh_{i}" for i, m in enumerate(methods)
    )
    hits = per_qid.select(
        "qid",
        F.expr(
            f"stack({len(methods)}, {stack_args}) AS (method, n_hits)"
        ),
    )
    return hits.select(
        "qid",
        "method",
        F.col("n_hits").cast("long").alias("n_hits"),
        F.round(F.col("n_hits").cast("double") / TOP_K, 4).alias("recall_at_k"),
    ).orderBy("qid", "method")

# ---------------------------------------------------------------------------
# Contrastive training-pair mining: positives + hard/random negatives
# ---------------------------------------------------------------------------

CPM_POS = 2    # positives: exact top-P neighbors
CPM_HARD = 3   # hard negatives: same LSH bucket, outside the exact top-k
CPM_RAND = 3   # random negatives: hash-priority draw from other buckets

_DUCK_CPM_PRI = "CAST(concat('0x', substr(sha256('cpm|' || CAST(qc.qid AS VARCHAR) || '|' || CAST(c.vec_id AS VARCHAR)), 1, 15)) AS BIGINT)"


@query(
    "contrastive_pair_mining",
    oracle=f"""
    WITH {_DUCK_EMB},
    coded AS (SELECT vec_id, label, v, nrm, {_DUCK_BUCKET} AS bucket FROM e),
    qc AS (
      SELECT q.qid, q.qv, q.qn, c.bucket AS qbucket
      FROM q JOIN coded c ON c.vec_id = q.qid
    ),
    truth AS (SELECT qid, rank, vec_id, label, cosine
              FROM ({_ann_sub("ann_brute_force_topk")}) t),
    pos AS (
      SELECT qid, 'pos' AS role, CAST(rank AS INTEGER) AS role_rank,
             vec_id, label, cosine
      FROM truth WHERE rank <= {CPM_POS}
    ),
    hardc AS (
      SELECT qc.qid, c.vec_id, c.label,
             round(list_dot_product(qc.qv, c.v) / (qc.qn * c.nrm), 4) AS cosine
      FROM qc JOIN coded c ON c.bucket = qc.qbucket AND c.vec_id <> qc.qid
      WHERE NOT EXISTS (SELECT 1 FROM truth t
                        WHERE t.qid = qc.qid AND t.vec_id = c.vec_id)
    ),
    hard AS (
      SELECT qid, 'hard_neg' AS role,
             CAST(row_number() OVER (
               PARTITION BY qid ORDER BY cosine DESC, vec_id) AS INTEGER
             ) AS role_rank,
             vec_id, label, cosine
      FROM hardc
    ),
    randc AS (
      SELECT qc.qid, c.vec_id, c.label,
             round(list_dot_product(qc.qv, c.v) / (qc.qn * c.nrm), 4) AS cosine,
             {_DUCK_CPM_PRI} AS pri
      FROM qc JOIN coded c
        ON c.bucket <> qc.qbucket AND c.vec_id <> qc.qid
      WHERE NOT EXISTS (SELECT 1 FROM truth t
                        WHERE t.qid = qc.qid AND t.vec_id = c.vec_id)
    ),
    rnd AS (
      SELECT qid, 'rand_neg' AS role,
             CAST(row_number() OVER (
               PARTITION BY qid ORDER BY pri ASC, vec_id) AS INTEGER
             ) AS role_rank,
             vec_id, label, cosine
      FROM randc
    )
    SELECT * FROM pos
    UNION ALL
    SELECT * FROM hard WHERE role_rank <= {CPM_HARD}
    UNION ALL
    SELECT * FROM rnd WHERE role_rank <= {CPM_RAND}
    ORDER BY qid, role, role_rank
    """,
)
def contrastive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pair generator for contrastive embedding-model training
    (the DPR / E5 data shape): for each query vector emit
    {CPM_POS} positives (the exact nearest neighbors), {CPM_HARD} HARD
    negatives (same LSH bucket — geometrically close — but outside the
    exact top-{TOP_K}; the "near but not nearest" examples that teach
    the margin), and {CPM_RAND} random negatives drawn by deterministic
    hash priority from OTHER buckets (the easy in-batch-negative
    substitute, rand-free so reruns and engines agree).

    Scale shape: positives ride the already-indexed exact/ANN tier;
    hard negatives are the same bucket equi-join as ann_lsh_topk with a
    left-anti exclusion of the top-k (candidate-sized, never corpus²);
    random negatives are one linear scan scored against the tiny
    broadcast query set with a per-query top-R by hash priority — the
    priority-sampling idiom of corpus_weighted_sample, so no
    shuffle-the-corpus randomness anywhere. At 100 TB each piece is one
    narrow scan + a candidate-sized ranking. The exact top-k list feeds
    three branches (positives + both exclusion anti-joins) but costs one
    execution: ReusedExchange dedupes the scoring shuffle, measured
    equal to an explicit checkpoint cut."""
    bf = ann_brute_force_topk(spark, sf_dir)
    pos = bf.filter(F.col("rank") <= CPM_POS).select(
        "qid",
        F.lit("pos").alias("role"),
        F.col("rank").alias("role_rank"),
        "vec_id",
        "label",
        "cosine",
    )
    topk = bf.select("qid", "vec_id")

    e = _coded(spark, sf_dir)
    qset = e.filter(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("bucket").alias("qbucket"),
    )
    cos = _cos(F.col("qv"), F.col("v"), F.col("qn"), F.col("nrm"))

    hard_rank = F.row_number().over(
        W.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    )
    hard = (
        e.join(
            F.broadcast(qset),
            (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("qid")),
        )
        .join(topk, ["qid", "vec_id"], "left_anti")
        .select("qid", "vec_id", "label", cos.alias("cosine"))
        .withColumn("role_rank", hard_rank)
        .filter(F.col("role_rank") <= CPM_HARD)
        .select("qid", F.lit("hard_neg").alias("role"), "role_rank",
                "vec_id", "label", "cosine")
    )

    pri = token_hash60(
        F.concat(
            F.lit("cpm|"),
            F.col("qid").cast("string"),
            F.lit("|"),
            F.col("vec_id").cast("string"),
        )
    )
    rand_rank = F.row_number().over(
        W.partitionBy("qid").orderBy(F.asc("pri"), F.asc("vec_id"))
    )
    rnd = (
        e.join(
            F.broadcast(qset),
            (F.col("bucket") != F.col("qbucket")) & (F.col("vec_id") != F.col("qid")),
        )
        .join(topk, ["qid", "vec_id"], "left_anti")
        .select("qid", "vec_id", "label", cos.alias("cosine"), pri.alias("pri"))
        .withColumn("role_rank", rand_rank)
        .filter(F.col("role_rank") <= CPM_RAND)
        .select("qid", F.lit("rand_neg").alias("role"), "role_rank",
                "vec_id", "label", "cosine")
    )

    return (
        pos.unionByName(hard)
        .unionByName(rnd)
        .orderBy("qid", "role", "role_rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric distance computation (ADC)
# ---------------------------------------------------------------------------

PQ_M = 16                      # subspaces (4 dims each: finer
                               # quantization tripled recall vs M=4
                               # in the sampled-codebook experiment)
PQ_SUBDIM = EMBED_DIM // PQ_M  # dims per subspace
# PQ_K codebook entries per subspace, sampled deterministically from the
# collection (sampled codebooks are the standard cheap baseline; a
# trained codebook drops in via the same warehouse-stage seam as
# ivf_centroids). All ids exist at every fixture SF and avoid QUERY_IDS.
PQ_ANCHORS = (11, 23, 37, 53, 67, 89, 101, 113, 131, 149, 163, 179, 197, 211, 229, 241)
PQ_K = len(PQ_ANCHORS)
PQ_SCALE = 1000  # fixed-point factor for Lloyd training (KMEANS_SCALE twin)

_PQ_ANCHOR_VALUES = ", ".join(f"({a}, {j})" for j, a in enumerate(PQ_ANCHORS))
_PQ_MS = ", ".join(f"({m})" for m in range(PQ_M))


def _pq_sqdiff_duck(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, {PQ_SUBDIM} + 1), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


def _pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(m, j, c) — the {PQ_M}x{PQ_K} sub-space codebook, derived from the
    anchor vectors (a {PQ_K}-row pushdown scan; always cheap enough to
    re-derive, and the probe side needs it for the distance table)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    ms = F.array([F.lit(m) for m in range(PQ_M)])
    anchors = spark.createDataFrame(
        [(a, j) for j, a in enumerate(PQ_ANCHORS)], schema="anchor_id long, j int"
    )
    return (
        e.join(F.broadcast(anchors), e.vec_id == F.col("anchor_id"))
        .select("j", F.explode(ms).alias("m"), "v")
        .select(
            "m",
            "j",
            F.slice(F.col("v"), F.col("m") * PQ_SUBDIM + 1, PQ_SUBDIM).alias("c"),
        )
    )


def _pq_sqdiff(a: str, b: str) -> Column:
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_codes_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold PQ encode stage (warehouse stage ``pq_codes``): every vector
    reduced to its (vec_id, label, m, j) codebook assignments — the
    {PQ_M}-bytes-per-vector representation ADC queries scan instead of
    the full-dimensional collection. At 100 TB this is THE point of PQ:
    the index build runs once at ingest; query time never touches raw
    vectors except the {PQ_K} anchors and the query vector itself."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    ms = F.array([F.lit(m) for m in range(PQ_M)])
    sub = e.select(
        "vec_id", "label", F.explode(ms).alias("m"), "v"
    ).select(
        "vec_id",
        "label",
        "m",
        F.slice(F.col("v"), F.col("m") * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sv"),
    )
    cand = sub.join(F.broadcast(_pq_codebook(spark, sf_dir)), "m").select(
        "vec_id", "label", "m", "j", _pq_sqdiff("sv", "c").alias("d2")
    )
    rn = F.row_number().over(
        W.partitionBy("vec_id", "m").orderBy(F.asc("d2"), F.asc("j"))
    )
    return (
        cand.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "m", "j")
    )


def _pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, m, j): the ``pq_codes`` warehouse checkpoint when
    warm, the full encode otherwise — codes are a pure function of the
    vectors and the deterministic anchors, so both paths are
    row-identical."""
    from ..pipeline.corpus import _stage_or

    return _stage_or(spark, sf_dir, "pq_codes", pq_codes_build)


# --- trained PQ codebook (per-subspace Lloyd, exact-integer arithmetic) ----

PQ_TRAIN_ROUNDS = 2  # Lloyd refinement rounds beyond the anchor seed
PQ_TRAIN_MOD = 10    # deterministic training sample: vec_id % MOD == 0


def pq_codes_for(spark: SparkSession, sf_dir: str, cb: DataFrame) -> DataFrame:
    """Encode the whole collection against an arbitrary (m, j, c)
    codebook relation — the parametrized core of ``pq_codes_build``
    (anchor-sampled codebook) reused by the trained-codebook branch of
    ``ann_pq_recall_eval``. One narrow explode + broadcast codebook
    join + per-(vec, m) argmin; identical tie-break (d2, then j) in the
    oracles."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    ms = F.array([F.lit(m) for m in range(PQ_M)])
    sub = e.select("vec_id", "label", F.explode(ms).alias("m"), "v").select(
        "vec_id",
        "label",
        "m",
        F.slice(F.col("v"), F.col("m") * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sv"),
    )
    cand = sub.join(F.broadcast(cb), "m").select(
        "vec_id", "label", "m", "j", _pq_sqdiff("sv", "c").alias("d2")
    )
    best = cand.groupBy("vec_id", "label", "m").agg(
        F.min(F.struct("d2", "j")).alias("b")
    )
    return best.select("vec_id", "label", "m", F.col("b.j").alias("j"))


def pq_codebook_train_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained PQ codebook (warehouse stage ``pq_codebook``): per-subspace
    Lloyd — PQ_TRAIN_ROUNDS exact-integer k-means rounds per subspace,
    seeded from the anchor codebook and trained on the deterministic
    ``vec_id % PQ_TRAIN_MOD == 0`` sample. Returns (m, j, c) with the
    same shape as the sampled ``_pq_codebook``, so it drops into every
    ADC consumer unchanged.

    Engine-exact by the ``embedding_kmeans`` recipe (similarity.py:555):
    fixed-point coordinates (round(x*1000) as BIGINT), integer squared
    distances, argmin tie-broken on j, centroid update by integer
    truncating division, empty clusters carrying the previous round's
    centroid — no float accumulation anywhere until the final /1000.0.

    Scale shape: training points live ARRAY-form (vec_id, m, sv) — one
    row per (vector, subspace), not per dimension — so each Lloyd round
    is ONE argmin shuffle (distance stays inside whole-stage codegen as
    a zip_with fold against the broadcast 256-row codebook) plus ONE
    elementwise centroid-mean shuffle. The earlier long-form
    (vec_id, m, dim, val) plan paid four shuffles a round over
    PQ_SUBDIM× the rows for identical integer arithmetic. Training cost
    is |sample|-bounded, never |collection| — at 100 TB you train on a
    fixed sample and only the one-off ENCODE pass touches every row."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    ms = F.array([F.lit(m) for m in range(PQ_M)])
    sub = e.select("vec_id", F.explode(ms).alias("m"), "v").select(
        "vec_id",
        "m",
        F.transform(
            F.slice(F.col("v"), F.col("m") * PQ_SUBDIM + 1, PQ_SUBDIM),
            lambda x: F.round(x * PQ_SCALE).cast("long"),
        ).alias("sv"),
    )
    tr = sub.filter(F.col("vec_id") % PQ_TRAIN_MOD == 0)
    anchors = spark.createDataFrame(
        [(a, j) for j, a in enumerate(PQ_ANCHORS)], schema="anchor_id long, j int"
    )
    cb = (
        sub.join(F.broadcast(anchors), sub.vec_id == F.col("anchor_id"))
        .select("m", "j", F.col("sv").alias("cv"))
    )
    # cut the shared training scan once; every round re-joins it
    tr = tr.localCheckpoint(eager=True)
    cb = cb.localCheckpoint(eager=True)
    d2 = F.aggregate(
        F.zip_with("sv", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    zero = F.array_repeat(F.lit(0).cast("long"), PQ_SUBDIM)
    for _ in range(PQ_TRAIN_ROUNDS):
        # sv is constant within a (vec_id, m) group (the 16 candidate
        # rows differ only in j), so first() carries it through the
        # argmin deterministically and no join-back is needed
        asg = (
            tr.join(F.broadcast(cb), "m")
            .select("vec_id", "m", "sv", "j", d2.alias("dist"))
            .groupBy("vec_id", "m")
            .agg(
                F.min(F.struct("dist", "j")).alias("b"),
                F.first("sv").alias("sv"),
            )
            .select("m", F.col("b.j").alias("j"), "sv")
        )
        upd = (
            asg.groupBy("m", "j")
            .agg(
                F.aggregate(
                    F.collect_list("sv"),
                    zero,
                    lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
                ).alias("s"),
                F.count("*").alias("n"),
            )
            # same integral division as the long-form plan (x div n)
            .select("m", "j", F.expr("transform(s, x -> x div n)").alias("ucv"))
        )
        cb = (
            cb.join(upd, ["m", "j"], "left")
            .select("m", "j", F.coalesce("ucv", "cv").alias("cv"))
            .localCheckpoint(eager=True)
        )
    return cb.select(
        "m",
        "j",
        F.transform("cv", lambda x: x / F.lit(float(PQ_SCALE))).alias("c"),
    )


def _pq_codebook_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(m, j, c): the ``pq_codebook`` warehouse checkpoint when warm, the
    per-subspace Lloyd training otherwise — deterministic either way."""
    from ..pipeline.corpus import _stage_or

    return _stage_or(spark, sf_dir, "pq_codebook", pq_codebook_train_build)


def pq_codes_trained_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold trained-codebook encode stage (warehouse stage
    ``pq_codes_trained``): the collection re-encoded against the Lloyd
    ``pq_codebook`` — the second index artifact a trained IVFPQ deploy
    materializes at ingest. Codes are a pure function of vectors +
    trained codebook, so warm reads are row-identical to the cold
    re-encode (the same build-once contract as ``pq_codes``)."""
    return pq_codes_for(spark, sf_dir, _pq_codebook_trained(spark, sf_dir))


def _pq_codes_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, m, j) under the trained codebook: warm stage scan
    or the full re-encode."""
    from ..pipeline.corpus import _stage_or

    return _stage_or(spark, sf_dir, "pq_codes_trained", pq_codes_trained_build)


def _duck_trained_codebook_ctes() -> str:
    """DuckDB twin of pq_codebook_train_build, ending in
    ``tcb(m, j, c)`` — PQ_TRAIN_ROUNDS unrolled Lloyd rounds over the
    fixed-point training sample, anchor-seeded, empty clusters carried."""
    rounds = []
    prev = "tcb0"
    for r in range(1, PQ_TRAIN_ROUNDS + 1):
        rounds.append(f"""
    asg{r}_d AS (
      SELECT p.vec_id, p.m, c.j, SUM((p.val - c.cval) * (p.val - c.cval)) AS dist
      FROM trn p JOIN {prev} c ON p.m = c.m AND p.dim = c.dim
      GROUP BY p.vec_id, p.m, c.j
    ),
    asg{r} AS (
      SELECT vec_id, m, j FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, j) AS rn
        FROM asg{r}_d
      ) WHERE rn = 1
    ),
    upd{r} AS (
      SELECT a.m, a.j, p.dim, SUM(p.val) // COUNT(*) AS ucval
      FROM asg{r} a JOIN trn p ON p.vec_id = a.vec_id AND p.m = a.m
      GROUP BY a.m, a.j, p.dim
    ),
    tcb{r} AS (
      SELECT c.m, c.j, c.dim, COALESCE(u.ucval, c.cval) AS cval
      FROM {prev} c LEFT JOIN upd{r} u
        ON u.m = c.m AND u.j = c.j AND u.dim = c.dim
    )""")
        prev = f"tcb{r}"
    return f"""
    subpts AS (
      SELECT vec_id, ms.m, t.i AS dim,
             CAST(round(v[ms.m * {PQ_SUBDIM} + t.i + 1] * {PQ_SCALE}) AS BIGINT) AS val
      FROM e CROSS JOIN ms, unnest(range(0, {PQ_SUBDIM})) AS t(i)
    ),
    trn AS (SELECT * FROM subpts WHERE vec_id % {PQ_TRAIN_MOD} = 0),
    tcb0 AS (
      SELECT s.m, a.j, s.dim, s.val AS cval
      FROM subpts s JOIN anchors a ON s.vec_id = a.anchor_id
    ),{",".join(rounds)},
    tcb AS (
      SELECT m, j, list_transform(array_agg(cval ORDER BY dim), x -> x / {PQ_SCALE}.0) AS c
      FROM {prev} GROUP BY m, j
    )"""


@query(
    "ann_pq_adc_topk",
    oracle=f"""
    WITH {_DUCK_EMB},
    anchors(anchor_id, j) AS (VALUES {_PQ_ANCHOR_VALUES}),
    ms(m) AS (VALUES {_PQ_MS}),
    cb AS (
      SELECT ms.m, a.j,
             list_slice(e.v, ms.m * {PQ_SUBDIM} + 1, (ms.m + 1) * {PQ_SUBDIM}) AS c
      FROM e JOIN anchors a ON e.vec_id = a.anchor_id CROSS JOIN ms
    ),
    sub AS (
      SELECT vec_id, label, ms.m,
             list_slice(v, ms.m * {PQ_SUBDIM} + 1, (ms.m + 1) * {PQ_SUBDIM}) AS sv
      FROM e CROSS JOIN ms
    ),
    cand AS (
      SELECT s.vec_id, s.label, s.m, cb.j, {_pq_sqdiff_duck('s.sv', 'cb.c')} AS d2
      FROM sub s JOIN cb ON cb.m = s.m
    ),
    codes AS (
      SELECT vec_id, label, m, j FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, j) AS rn
        FROM cand
      ) WHERE rn = 1
    ),
    qsub AS (
      SELECT qid, ms.m,
             list_slice(qv, ms.m * {PQ_SUBDIM} + 1, (ms.m + 1) * {PQ_SUBDIM}) AS sv
      FROM q CROSS JOIN ms
    ),
    qtab AS (
      SELECT qs.qid, cb.m, cb.j,
             CAST(round({_pq_sqdiff_duck('qs.sv', 'cb.c')}, 6) AS DECIMAL(18,6)) AS td
      FROM qsub qs JOIN cb ON cb.m = qs.m
    ),
    scored AS (
      SELECT t.qid, c.vec_id, c.label,
             round(CAST(SUM(t.td) AS DOUBLE), 4) AS approx_d2
      FROM codes c JOIN qtab t ON t.m = c.m AND t.j = c.j
      WHERE c.vec_id <> t.qid
      GROUP BY t.qid, c.vec_id, c.label
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY qid ORDER BY approx_d2, vec_id) AS rank
      FROM scored
    )
    SELECT qid, CAST(rank AS INTEGER) AS rank, vec_id, label, approx_d2
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY qid, rank
    """,
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (Jégou et al., PAMI 2011) — the memory-bounded ANN tier next to the
    LSH and IVF indexes: vectors are encoded as {PQ_M} sub-space
    codebook ids ({PQ_K} entries each, 4 bytes total instead of
    {EMBED_DIM}x8), and a query scores the WHOLE collection by summing
    {PQ_M} entries of a precomputed {PQ_M}x{PQ_K} distance table — no
    full-dimensional arithmetic per candidate at query time. Codebooks
    sample deterministic collection vectors (the cheap-baseline choice;
    a k-means-trained codebook drops in via the warehouse-stage seam).
    Per-subspace distances round to 6 decimals and sum through
    DECIMAL(18,6), so the ADC score is order-independent and
    engine-exact.

    Scale shape: encoding is a one-off index build (the 100 TB corpus
    becomes {PQ_M} bytes/vector of codes); the query-time plan joins the
    code table against a BROADCAST {PQ_M}x{PQ_K}-row distance table and
    hash-aggregates {PQ_M} rows per vector — a narrow shuffle-free scan
    of the codes plus one TakeOrdered. The codebook itself broadcasts
    at {PQ_M * PQ_K} rows."""
    return pq_adc_topk_for(
        spark, sf_dir, _pq_codebook(spark, sf_dir), _pq_codes(spark, sf_dir)
    )


def pq_adc_topk_for(
    spark: SparkSession, sf_dir: str, cb: DataFrame, codes: DataFrame
) -> DataFrame:
    """ADC top-k scoring parametrized over the (codebook, codes) pair —
    the registered ``ann_pq_adc_topk`` passes the anchor-sampled
    artifacts; ``ann_pq_recall_eval``'s trained branch passes the
    Lloyd-trained codebook plus its re-encode. Identical scoring plan
    either way (broadcast distance table, code-scan hash-agg)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    ms = F.array([F.lit(m) for m in range(PQ_M)])
    qsub = (
        e.filter(F.col("vec_id").isin(*QUERY_IDS))
        .select(F.col("vec_id").alias("qid"), F.explode(ms).alias("m"), "v")
        .select(
            "qid",
            "m",
            F.slice(F.col("v"), F.col("m") * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sv"),
        )
    )
    qtab = qsub.join(F.broadcast(cb), "m").select(
        "qid",
        "m",
        "j",
        F.round(_pq_sqdiff("sv", "c"), 6).cast("decimal(18,6)").alias("td"),
    )
    scored = (
        codes.join(F.broadcast(qtab), ["m", "j"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id", "label")
        .agg(F.round(F.sum("td").cast("double"), 4).alias("approx_d2"))
    )
    rank = F.row_number().over(
        W.partitionBy("qid").orderBy(F.asc("approx_d2"), F.asc("vec_id"))
    )
    return (
        scored.withColumn("rank", rank)
        .filter(F.col("rank") <= TOP_K)
        .select("qid", F.col("rank").cast("int"), "vec_id", "label", "approx_d2")
        .orderBy("qid", "rank")
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse partition pruning composed with ADC code scanning
# ---------------------------------------------------------------------------


@query(
    "ann_ivf_pq_topk",
    oracle=f"""
    WITH {_DUCK_EMB},
    comp AS (
      SELECT label, t.d, CAST(round(v[t.d] * 1000) AS BIGINT) AS xi
      FROM e, unnest(range(1, {EMBED_DIM} + 1)) AS t(d)
    ),
    cent AS (
      SELECT label, array_agg(c ORDER BY d) AS cv
      FROM (
        SELECT label, d, CAST(SUM(xi) AS DOUBLE) / (1000.0 * COUNT(*)) AS c
        FROM comp GROUP BY label, d
      ) GROUP BY label
    ),
    qdist AS (
      SELECT q.qid, c.label,
             round(list_sum(list_transform(range(1, {EMBED_DIM} + 1),
                   i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))), 4) AS dist
      FROM q CROSS JOIN cent c
    ),
    probes AS (
      SELECT qid, label FROM (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist, label) AS pr
        FROM qdist
      ) WHERE pr <= {IVF_NPROBE}
    ),
    anchors(anchor_id, j) AS (VALUES {_PQ_ANCHOR_VALUES}),
    ms(m) AS (VALUES {_PQ_MS}),
    cb AS (
      SELECT ms.m, a.j,
             list_slice(e.v, ms.m * {PQ_SUBDIM} + 1, (ms.m + 1) * {PQ_SUBDIM}) AS c
      FROM e JOIN anchors a ON e.vec_id = a.anchor_id CROSS JOIN ms
    ),
    sub AS (
      SELECT vec_id, label, ms.m,
             list_slice(v, ms.m * {PQ_SUBDIM} + 1, (ms.m + 1) * {PQ_SUBDIM}) AS sv
      FROM e CROSS JOIN ms
    ),
    cand AS (
      SELECT s.vec_id, s.label, s.m, cb.j, {_pq_sqdiff_duck('s.sv', 'cb.c')} AS d2
      FROM sub s JOIN cb ON cb.m = s.m
    ),
    codes AS (
      SELECT vec_id, label, m, j FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, j) AS rn
        FROM cand
      ) WHERE rn = 1
    ),
    qsub AS (
      SELECT qid, ms.m,
             list_slice(qv, ms.m * {PQ_SUBDIM} + 1, (ms.m + 1) * {PQ_SUBDIM}) AS sv
      FROM q CROSS JOIN ms
    ),
    qtab AS (
      SELECT qs.qid, cb.m, cb.j,
             CAST(round({_pq_sqdiff_duck('qs.sv', 'cb.c')}, 6) AS DECIMAL(18,6)) AS td
      FROM qsub qs JOIN cb ON cb.m = qs.m
    ),
    scored AS (
      SELECT t.qid, c.vec_id, c.label,
             round(CAST(SUM(t.td) AS DOUBLE), 4) AS approx_d2
      FROM codes c
      JOIN probes p ON p.label = c.label
      JOIN qtab t ON t.qid = p.qid AND t.m = c.m AND t.j = c.j
      WHERE c.vec_id <> t.qid
      GROUP BY t.qid, c.vec_id, c.label
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY qid ORDER BY approx_d2, vec_id) AS rank
      FROM scored
    )
    SELECT qid, CAST(rank AS INTEGER) AS rank, vec_id, label, approx_d2
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY qid, rank
    """,
)
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (Jégou et al., PAMI 2011 §V — the FAISS ``IVFPQ`` shape):
    the coarse quantizer prunes the collection to each query's
    {IVF_NPROBE} nearest partitions (ann_ivf_topk's probe selection),
    and ONLY those partitions' PQ codes are ADC-scored (ann_pq_adc_topk's
    table-lookup scan). The two index artifacts compose: ``ivf_centroids``
    answers WHERE to look, ``pq_codes`` answers HOW CHEAPLY to score —
    query cost drops from |collection|·{PQ_M} code lookups to
    (nprobe/nlist)·|collection|·{PQ_M}, the regime production
    billion-vector serving actually runs.

    Scale shape: with codes written partitioned by coarse cell (the
    pq_codes stage carries ``label``), the probe list is partition
    pruning on the CODE relation — the scan reads nprobe cells of
    4-byte codes, joins a broadcast {PQ_M}x{PQ_K} distance table, and
    hash-aggregates {PQ_M} rows per surviving candidate. Both stage
    seams are warm-served; cold derivation is row-identical."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    cent = _ivf_centroids(spark, sf_dir)
    qset = e.filter(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    sqdiff = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    qdist = F.broadcast(qset).crossJoin(F.broadcast(cent)).select(
        "qid", "qv", "label", F.round(sqdiff, 4).alias("dist")
    )
    pr = F.row_number().over(
        W.partitionBy("qid").orderBy(F.asc("dist"), F.asc("label"))
    )
    probes = (
        qdist.withColumn("pr", pr)
        .filter(F.col("pr") <= IVF_NPROBE)
        .select("qid", "label")
    )
    ms = F.array([F.lit(m) for m in range(PQ_M)])
    cb = _pq_codebook(spark, sf_dir)
    qsub = qset.select("qid", F.explode(ms).alias("m"), "qv").select(
        "qid",
        "m",
        F.slice(F.col("qv"), F.col("m") * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sv"),
    )
    qtab = qsub.join(F.broadcast(cb), "m").select(
        "qid",
        "m",
        "j",
        F.round(_pq_sqdiff("sv", "c"), 6).cast("decimal(18,6)").alias("td"),
    )
    scored = (
        _pq_codes(spark, sf_dir)
        .join(F.broadcast(probes), "label")
        .join(F.broadcast(qtab), ["qid", "m", "j"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id", "label")
        .agg(F.round(F.sum("td").cast("double"), 4).alias("approx_d2"))
    )
    rank = F.row_number().over(
        W.partitionBy("qid").orderBy(F.asc("approx_d2"), F.asc("vec_id"))
    )
    return (
        scored.withColumn("rank", rank)
        .filter(F.col("rank") <= TOP_K)
        .select("qid", F.col("rank").cast("int"), "vec_id", "label", "approx_d2")
        .orderBy("qid", "rank")
    )


# ---------------------------------------------------------------------------
# PQ recall against the exact L2 ranking (metric-matched truth) — sampled
# vs Lloyd-trained codebooks vs the composed IVF-PQ tier
# ---------------------------------------------------------------------------


@query(
    "ann_pq_recall_eval",
    oracle=f"""
    WITH {_DUCK_EMB},
    l2 AS (
      SELECT q.qid, e.vec_id,
             round(list_sum(list_transform(range(1, {EMBED_DIM} + 1),
                   i -> (q.qv[i] - e.v[i]) * (q.qv[i] - e.v[i]))), 4) AS d2
      FROM q JOIN e ON e.vec_id <> q.qid
    ),
    truth AS (
      SELECT qid, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS rank
        FROM l2
      ) WHERE rank <= {TOP_K}
    ),
    pq AS (SELECT qid, vec_id FROM ({_ann_sub("ann_pq_adc_topk")}) t),
    ivfpq AS (SELECT qid, vec_id FROM ({_ann_sub("ann_ivf_pq_topk")}) t),
    anchors(anchor_id, j) AS (VALUES {_PQ_ANCHOR_VALUES}),
    ms(m) AS (VALUES {_PQ_MS}),
    {_duck_trained_codebook_ctes()},
    tsub AS (
      SELECT vec_id, ms.m,
             list_slice(v, ms.m * {PQ_SUBDIM} + 1, (ms.m + 1) * {PQ_SUBDIM}) AS sv
      FROM e CROSS JOIN ms
    ),
    tcand AS (
      SELECT s.vec_id, s.m, cb.j, {_pq_sqdiff_duck('s.sv', 'cb.c')} AS d2
      FROM tsub s JOIN tcb cb ON cb.m = s.m
    ),
    tcodes AS (
      SELECT vec_id, m, j FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, j) AS rn
        FROM tcand
      ) WHERE rn = 1
    ),
    tqsub AS (
      SELECT qid, ms.m,
             list_slice(qv, ms.m * {PQ_SUBDIM} + 1, (ms.m + 1) * {PQ_SUBDIM}) AS sv
      FROM q CROSS JOIN ms
    ),
    tqtab AS (
      SELECT qs.qid, cb.m, cb.j,
             CAST(round({_pq_sqdiff_duck('qs.sv', 'cb.c')}, 6) AS DECIMAL(18,6)) AS td
      FROM tqsub qs JOIN tcb cb ON cb.m = qs.m
    ),
    tscored AS (
      SELECT t.qid, c.vec_id,
             round(CAST(SUM(t.td) AS DOUBLE), 4) AS approx_d2
      FROM tcodes c JOIN tqtab t ON t.m = c.m AND t.j = c.j
      WHERE c.vec_id <> t.qid
      GROUP BY t.qid, c.vec_id
    ),
    ttop AS (
      SELECT qid, vec_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY qid ORDER BY approx_d2, vec_id) AS rank
        FROM tscored
      ) WHERE rank <= {TOP_K}
    ),
    rows_ AS (
      SELECT t.qid, 'pq_adc' AS method,
             CAST(COUNT(p.vec_id) AS BIGINT) AS n_hits,
             round(CAST(COUNT(p.vec_id) AS DOUBLE) / {TOP_K}, 4) AS recall_at_k
      FROM truth t LEFT JOIN pq p ON t.qid = p.qid AND t.vec_id = p.vec_id
      GROUP BY t.qid
      UNION ALL
      SELECT t.qid, 'pq_adc_trained' AS method,
             CAST(COUNT(p.vec_id) AS BIGINT) AS n_hits,
             round(CAST(COUNT(p.vec_id) AS DOUBLE) / {TOP_K}, 4) AS recall_at_k
      FROM truth t LEFT JOIN ttop p ON t.qid = p.qid AND t.vec_id = p.vec_id
      GROUP BY t.qid
      UNION ALL
      SELECT t.qid, 'ivf_pq' AS method,
             CAST(COUNT(p.vec_id) AS BIGINT) AS n_hits,
             round(CAST(COUNT(p.vec_id) AS DOUBLE) / {TOP_K}, 4) AS recall_at_k
      FROM truth t LEFT JOIN ivfpq p ON t.qid = p.qid AND t.vec_id = p.vec_id
      GROUP BY t.qid
    )
    SELECT qid, method, n_hits, recall_at_k,
           SUM(CASE WHEN method = 'pq_adc_trained' THEN n_hits ELSE 0 END) OVER ()
             >= SUM(CASE WHEN method = 'pq_adc' THEN n_hits ELSE 0 END) OVER ()
             AS trained_ge_sampled
    FROM rows_
    ORDER BY qid, method
    """,
)
def ann_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} against the EXACT squared-L2 ranking for the three
    PQ-family tiers — metric-matched truth (ADC approximates L2, so
    scoring against the cosine truth of ann_recall_eval would conflate
    quantization error with the metric gap):

    - ``pq_adc``: the anchor-sampled codebook (the cheap baseline).
    - ``pq_adc_trained``: the same ADC scoring with the per-subspace
      Lloyd-trained ``pq_codebook`` stage (r10 verdict item 3) and its
      re-encode — the codebook-quality dial, measured honestly on the
      same truth. ``trained_ge_sampled`` pins training's value as an
      in-query envelope boolean (total hits across the query set; the
      oracle states the same rule, so a training regression flips the
      boolean in BOTH engines and fails the hash).
    - ``ivf_pq``: the composed coarse-probe + ADC tier, whose recall
      is bounded above by pq_adc's (probing prunes candidates).

    Scale shape: truth on the fixed query sample, fully LAZY — the three
    hit-join branches re-reference the same truth subtree and Catalyst's
    ReuseExchangeAndSubquery computes it once (measured FASTER than an
    eager localCheckpoint cut, the same result as eval_rag_comparison
    and dedup_method_eval: reuse beats blocking materialization); each
    tier's candidate list is TOP_K*|Q| rows; the envelope boolean is
    one global window over the 3*|Q|-row union."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qset = e.filter(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("v"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        e.crossJoin(F.broadcast(qset))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", F.round(d2, 4).alias("d2"))
    )
    rank = F.row_number().over(
        W.partitionBy("qid").orderBy(F.asc("d2"), F.asc("vec_id"))
    )
    truth = (
        scored.withColumn("rank", rank)
        .filter(F.col("rank") <= TOP_K)
        .select("qid", "vec_id")
    )
    tcb = _pq_codebook_trained(spark, sf_dir)
    trained = pq_adc_topk_for(spark, sf_dir, tcb, _pq_codes_trained(spark, sf_dir))
    tiers = (
        ("pq_adc", ann_pq_adc_topk(spark, sf_dir)),
        ("pq_adc_trained", trained),
        ("ivf_pq", ann_ivf_pq_topk(spark, sf_dir)),
    )

    # ONE pass over a single truth instantiation (r16, the
    # ann_recall_eval / eval_rag_comparison pattern): union-tag the tier
    # candidate lists (each ≤ |Q|·k rows, broadcast), left-join them
    # into truth once, count per-tier matches conditionally, and stack
    # back to one row per (qid, method) — including the n_hits = 0 rows
    # the old per-tier left joins produced. Each tier list is distinct
    # (qid, vec_id) by construction, so the conditional counts equal the
    # old per-tier join counts exactly.
    names = [t[0] for t in tiers]
    preds = reduce(
        lambda a, b: a.unionByName(b),
        [
            cand.select("qid", "vec_id").withColumn("method", F.lit(m))
            for m, cand in tiers
        ],
    )
    per_qid = (
        truth.join(F.broadcast(preds), ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(
            *[
                F.count(F.when(F.col("method") == m, F.lit(1))).alias(
                    f"nh_{i}"
                )
                for i, m in enumerate(names)
            ]
        )
    )
    stack_args = ", ".join(f"'{m}', nh_{i}" for i, m in enumerate(names))
    rows = per_qid.select(
        "qid",
        F.expr(f"stack({len(names)}, {stack_args}) AS (method, n_hits)"),
    ).select(
        "qid",
        "method",
        F.col("n_hits").cast("bigint").alias("n_hits"),
        F.round(F.col("n_hits").cast("double") / TOP_K, 4).alias(
            "recall_at_k"
        ),
    )
    w = W.partitionBy()  # 3*|Q| rows — a 9-row global window, never data
    tot_trained = F.sum(
        F.when(F.col("method") == "pq_adc_trained", F.col("n_hits")).otherwise(
            F.lit(0)
        )
    ).over(w)
    tot_sampled = F.sum(
        F.when(F.col("method") == "pq_adc", F.col("n_hits")).otherwise(F.lit(0))
    ).over(w)
    return rows.withColumn(
        "trained_ge_sampled", tot_trained >= tot_sampled
    ).orderBy("qid", "method")
