"""Deduplication operators for the training-data pipeline surface.

Five strategies over the ``documents`` / ``embeddings`` fixtures (north-star
extras, SURVEY §4.3-3): exact hash dedup, n-gram Jaccard, MinHash+LSH,
SimHash, and embedding-cosine nearest neighbors. The reference has only the
per-chunk first-seen entity dedup (A5, data/ingestion.py:356); a corpus
engine at 100 TB needs document-level near-dup removal as a first-class
operator family.

Scale design:
- candidate generation is always an equi-join on a compact key (shingle
  hash, MinHash band signature, SimHash band byte) — never an O(n²)
  cross join. The shuffle moves 8-byte hashes, not document text.
- verification (exact Jaccard / Hamming) runs only on the candidate set.
- everything is pure Catalyst (sha-derived hashes + higher-order array
  functions); the same arithmetic is mirrored in the DuckDB oracles, so
  every pair the engine emits is hash-check verified cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import (
    DUCK_TOKEN_HASH,
    DUCK_TOKEN_HASH60,
    HASH_P,
    token_hash,
    token_hash60,
    words,
)
from ..registry import query
from ..sources import fan_out, load_table

SHINGLE_K = 3
JACCARD_THRESHOLD = 0.2  # exact n-gram pass (fixture near-dups are ≥ 0.9)
MINHASH_PERMS = 16
MINHASH_BANDS = 4  # 4 bands × 4 rows: P(candidate) ≈ 1-(1-j^4)^4
MINHASH_VERIFY_THRESHOLD = 0.5
SIMHASH_BITS = 60
SIMHASH_BANDS = 4  # 4 bands × 15 bits ⇒ Hamming ≤ 3 guaranteed a candidate
SIMHASH_MAX_HAMMING = 3

# Universal-hash parameters for the MinHash permutations, h_i(x) =
# (a_i*x + b_i) mod P — fixed literals embedded identically in the oracles.
_MH_A = [(104729 * (i + 1)) % HASH_P for i in range(MINHASH_PERMS)]
_MH_B = [(15485863 * (i + 1)) % HASH_P for i in range(MINHASH_PERMS)]


# ---------------------------------------------------------------------------
# Shared shingling (word k-grams, hashed to 31-bit keys)
# ---------------------------------------------------------------------------


def shingle_array(w: Column, k: int = SHINGLE_K) -> Column:
    """Distinct word-k-gram strings of a token array (empty if < k words).

    ``w`` must be a MATERIALIZED column (an attribute), never an inline
    split expression: the gram lambda indexes into it with element_at,
    and Catalyst does not hoist non-lambda subtrees out of HOF lambdas —
    an inlined tokenizer would re-run once per element (O(doc_len²))."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(w) - (k - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(w, i + j) for j in range(k)]),
    )
    return F.when(F.size(w) >= k, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def shingles_of(docs: DataFrame) -> DataFrame:
    """(doc_id, xs) for an arbitrary (doc_id, text, ...) relation — the
    one shingle derivation every dedup path shares (warehouse stage,
    incremental batch screen, streaming admission micro-batches)."""
    toks = docs.select("doc_id", words(F.lower(F.col("text"))).alias("w"))
    return (
        toks.select("doc_id", F.explode(shingle_array(F.col("w"))).alias("s"))
        .select("doc_id", token_hash("s").alias("xs"))
        .distinct()
    )


def doc_shingles_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold (doc_id, xs) derivation — one row per distinct shingle *hash*
    per document, straight from raw text. This is the warehouse-stage
    builder (``ingest.STAGES``); query-side consumers go through
    ``_doc_shingles`` which prefers the materialized checkpoint."""
    return shingles_of(fan_out(load_table(spark, sf_dir, "documents"), "doc_id"))


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, xs) — one row per distinct shingle *hash* per document.

    Joining on the 31-bit hash instead of the shingle string keeps the
    candidate-join shuffle to 8-byte keys; any hash collision affects both
    engines identically (same hash function in the oracle).

    Warm: the ``doc_shingles`` warehouse checkpoint — at 100 TB a
    pipeline materializes signatures once and every dedup query scans the
    compact (doc_id, hash) parquet instead of re-shingling raw text.
    Cold: derived and cached — every consumer (sizes, signatures, both
    sides of the verify join) reuses one materialization; cache() is
    MEMORY_AND_DISK, so at scale it spills rather than OOMs."""
    from ..pipeline.corpus import _stage_or

    return _stage_or(
        spark, sf_dir, "doc_shingles", lambda s, d: doc_shingles_build(s, d).cache()
    )


# DuckDB twin of _doc_shingles (distinct doc_id, xs).
_DUCK_SHINGLES_CTE = f"""
toks AS (
  SELECT doc_id,
         CASE WHEN length(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) = 0 THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+') END AS w
  FROM documents
),
grams AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM toks, unnest(range(1, len(w) - {SHINGLE_K - 2})) AS t(i)
  WHERE len(w) >= {SHINGLE_K}
),
sh AS (
  SELECT DISTINCT doc_id, {DUCK_TOKEN_HASH.format(t="s")} AS xs FROM grams
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
"""


def doc_minhash_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold MinHash signature stage: all MINHASH_PERMS permutation minima
    in ONE hash-agg pass over the shingle relation (map-side partials; the
    earlier perm-table crossJoin version shuffled MINHASH_PERMS-times the
    rows). 8 bytes per permutation per doc regardless of document size —
    the relation a 100 TB pipeline materializes once and every
    LSH/clustering query reads."""
    sh = _doc_shingles(spark, sf_dir)
    return sh.groupBy("doc_id").agg(
        *[
            F.min((F.lit(_MH_A[i]) * F.col("xs") + F.lit(_MH_B[i])) % HASH_P).alias(
                f"h{i}"
            )
            for i in range(MINHASH_PERMS)
        ]
    )


def _doc_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h0..h{n}) MinHash signatures: the ``doc_minhash``
    warehouse checkpoint when warm, the one-pass aggregation otherwise."""
    from ..pipeline.corpus import _stage_or

    return _stage_or(spark, sf_dir, "doc_minhash", doc_minhash_build)


# ---------------------------------------------------------------------------
# 1. Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
    ),
    groups AS (
      SELECT sha256(text) AS text_sha,
             COUNT(*) AS dup_count,
             MIN(doc_id) AS keeper_doc_id,
             array_to_string(list_sort(array_agg(doc_id)), ',') AS member_ids
      FROM corpus GROUP BY sha256(text)
    )
    SELECT text_sha, dup_count, keeper_doc_id, member_ids
    FROM groups WHERE dup_count > 1
    ORDER BY keeper_doc_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication by content hash: group on sha256(text), keep
    the lowest doc_id. The fixture corpus has no exact duplicates, so the
    query plants them deterministically (every 10th doc re-inserted with a
    shifted id) and then finds exactly those groups.

    member_ids is the sorted id list serialized as a comma-joined string —
    array-typed output columns are not canonicalizable by the driver's
    hash comparator (pandas sort_values chokes on lists).

    At scale: one hash-agg shuffle on a 32-byte key; map-side partial agg
    collapses per-partition duplicates first."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    corpus = docs.unionByName(planted)
    return (
        corpus.groupBy(F.sha2("text", 256).alias("text_sha"))
        .agg(
            F.count("*").alias("dup_count"),
            F.min("doc_id").alias("keeper_doc_id"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("member_ids"),
        )
        .filter(F.col("dup_count") > 1)
        .orderBy("keeper_doc_id")
    )


# ---------------------------------------------------------------------------
# 2. Exact n-gram Jaccard via inverted-index join
# ---------------------------------------------------------------------------


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_DUCK_SHINGLES_CTE},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.xs = b.xs AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, n_inter,
           round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact SHINGLE_K-gram Jaccard near-dup pairs via the inverted-index
    pattern: explode shingle hashes, self equi-join on the hash (only
    documents sharing ≥1 shingle become candidates — never a cross join),
    count intersections, |A∪B| = |A|+|B|−|A∩B|.

    At scale the shingle join is the classic skew point (stop-shingles);
    AQE skew-join splitting plus the distinct() upstream bound the
    fan-out. Common-shingle salting is the next lever if needed."""
    sh = _doc_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.xs") == F.col("b.xs")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "n_inter", F.round(jac, 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# 3. MinHash + LSH banding
# ---------------------------------------------------------------------------

_ROWS_PER_BAND = MINHASH_PERMS // MINHASH_BANDS

# Hot-bucket ceiling for the LSH candidate join. A (band, sig) bucket of
# B documents emits B(B-1)/2 pairwise candidates — fine for the tight
# buckets minhash banding normally produces, quadratic on a
# boilerplate-heavy shard where thousands of near-identical documents
# share a full band signature (the classic 100-TB dedup failure; the
# reference's own corpus produced 25M edges from exactly this blow-up,
# reproducibility/README.md:159). Buckets over the ceiling short-circuit
# to STAR CONTRACTION: every member pairs with the bucket's minimum
# doc_id only (B-1 candidates, linear), which preserves component
# connectivity for clustering — all members shared a full band
# signature, so provisionally chaining them through one hub is the
# right contraction, and exact-Jaccard verification still runs on every
# emitted candidate. CANDIDATE-level connectivity is provably identical
# to the uncapped join (tests pin it on replicated AND mutated corpora);
# after verification a capped bucket can in principle split differently
# (a hub-spoke edge may fail Jaccard where some member-member pair would
# have passed) — the accepted trade for linearity, and the audit row
# makes every binding of the cap visible. The ceiling (32) sits above the largest natural
# bucket in any fixture (20 at sf0.1), so fixture results are
# byte-identical with or without the guard; the duplicate-dense bench
# stress corpus (documents replicated 10-50x -> buckets of 50-1000)
# is where it binds. dedup_lsh_bucket_audit reports how often.
LSH_BUCKET_CAP = 32

_DUCK_MINHASH_COLS = ",\n             ".join(
    f"MIN(({_MH_A[i]} * xs + {_MH_B[i]}) % {HASH_P}) AS h{i}"
    for i in range(MINHASH_PERMS)
)
_DUCK_BAND_SIG = (
    "CASE b.band "
    + " ".join(
        "WHEN {j} THEN [{hs}]".format(
            j=j,
            hs=", ".join(f"h{i}" for i in range(j * _ROWS_PER_BAND, (j + 1) * _ROWS_PER_BAND)),
        )
        for j in range(MINHASH_BANDS)
    )
    + " END"
)


# Shared oracle fragment: band buckets -> capped candidate pairs.
# Small buckets (<= LSH_BUCKET_CAP) emit all pairs; hot buckets emit the
# star contraction (bucket-min hub) — identical rule in the Spark plan.
_DUCK_CAPPED_CAND = f"""bsz AS (
  SELECT band, sig, COUNT(*) AS bn, MIN(doc_id) AS bmin
  FROM bands GROUP BY band, sig
),
sized AS (
  SELECT b.doc_id, b.band, b.sig, z.bn, z.bmin
  FROM bands b JOIN bsz z ON b.band = z.band AND b.sig = z.sig
),
cand0 AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sized a JOIN sized b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
  WHERE a.bn <= {LSH_BUCKET_CAP}
  UNION ALL
  SELECT bmin AS doc_a, doc_id AS doc_b
  FROM sized WHERE bn > {LSH_BUCKET_CAP} AND doc_id <> bmin
)"""


def _lsh_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, sig): one row per document per LSH band; ``sig`` is
    the band's _ROWS_PER_BAND minhash values as an int array. One
    narrow explode over the signature relation — no shuffle."""
    mh = _doc_minhash(spark, sf_dir)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.array(
                    *[
                        F.col(f"h{i}")
                        for i in range(j * _ROWS_PER_BAND, (j + 1) * _ROWS_PER_BAND)
                    ]
                ).alias("sig"),
            )
            for j in range(MINHASH_BANDS)
        ]
    )
    return mh.select("doc_id", F.explode(band_structs).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def _lsh_bucket_stats(bands: DataFrame) -> DataFrame:
    """Per-(band, sig) bucket accounting: member count + minimum doc_id
    (the star hub when the bucket is over LSH_BUCKET_CAP)."""
    return bands.groupBy("band", "sig").agg(
        F.count("*").alias("bn"), F.min("doc_id").alias("bmin")
    )


def _lsh_capped_candidates(bands: DataFrame) -> DataFrame:
    """(doc_a, doc_b) candidate pairs, one row per band co-occurrence,
    with the LSH_BUCKET_CAP hot-bucket guard: buckets at or under the
    ceiling emit all pairs (the classic banded-LSH join); hot buckets
    emit the linear star contraction off the bucket-min hub instead.
    Mirrors _DUCK_CAPPED_CAND exactly. ``bn`` is a bucket property, so
    filtering both join sides is equivalent to the oracle's one-sided
    WHERE — it just prunes the shuffle earlier."""
    sized = bands.join(_lsh_bucket_stats(bands), ["band", "sig"])
    small = sized.where(F.col("bn") <= LSH_BUCKET_CAP)
    sa, sb = small.alias("ca"), small.alias("cb")
    pairwise = sa.join(
        sb,
        (F.col("ca.band") == F.col("cb.band"))
        & (F.col("ca.sig") == F.col("cb.sig"))
        & (F.col("ca.doc_id") < F.col("cb.doc_id")),
    ).select(F.col("ca.doc_id").alias("doc_a"), F.col("cb.doc_id").alias("doc_b"))
    star = sized.where(
        (F.col("bn") > LSH_BUCKET_CAP) & (F.col("doc_id") != F.col("bmin"))
    ).select(F.col("bmin").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    return pairwise.unionByName(star)


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_DUCK_SHINGLES_CTE},
    mh AS (
      SELECT doc_id, {_DUCK_MINHASH_COLS}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, b.band, {_DUCK_BAND_SIG} AS sig
      FROM mh, (SELECT unnest(range(0, {MINHASH_BANDS})) AS b) b(band)
    ),
    {_DUCK_CAPPED_CAND},
    cand AS (
      SELECT doc_a, doc_b, COUNT(*) AS n_bands
      FROM cand0 GROUP BY doc_a, doc_b
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b, c.n_bands, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.xs = a.xs
      GROUP BY c.doc_a, c.doc_b, c.n_bands
    )
    SELECT v.doc_a, v.doc_b, v.n_bands,
           round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) AS jaccard
    FROM verified v
    JOIN sizes sa ON v.doc_a = sa.doc_id
    JOIN sizes sb ON v.doc_b = sb.doc_id
    WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter)
          >= {MINHASH_VERIFY_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection: MINHASH_PERMS universal-hash
    permutations min-folded per document, banded MINHASH_BANDS ×
    rows-per-band; documents sharing a full band signature become
    candidates; candidates are verified with exact Jaccard ≥
    MINHASH_VERIFY_THRESHOLD.

    This is the shape that survives 100 TB: signatures are 128 bytes/doc
    regardless of document size, the bucket join is an equi-join on
    (band, signature), and verification touches only the candidate set.
    The banding math (r=4, b=4): P(candidate) = 1-(1-j⁴)⁴ ≈ .88 at j=.8,
    .04 at j=.3 — high-similarity recall with a small candidate set.

    Buckets over LSH_BUCKET_CAP short-circuit to star contraction (see
    the constant's comment): pair emission is linear in bucket size even
    on a boilerplate-heavy shard, and ``dedup_lsh_bucket_audit`` reports
    every capped bucket. The ceiling exceeds the largest natural fixture
    bucket, so fixture outputs are identical with or without the guard."""
    sh = _doc_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    bands = _lsh_bands(spark, sf_dir)
    cand = (
        _lsh_capped_candidates(bands)
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_bands"))
    )
    sha_, shb = sh.alias("sa"), sh.alias("sb")
    verified = (
        cand.join(sha_, F.col("sa.doc_id") == F.col("doc_a"))
        .join(
            shb,
            (F.col("sb.doc_id") == F.col("doc_b")) & (F.col("sb.xs") == F.col("sa.xs")),
        )
        .groupBy("doc_a", "doc_b", "n_bands")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    )
    return (
        verified.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= MINHASH_VERIFY_THRESHOLD)
        .select("doc_a", "doc_b", "n_bands", F.round(jac, 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


@query(
    "dedup_lsh_bucket_audit",
    oracle=f"""
    WITH {_DUCK_SHINGLES_CTE},
    mh AS (
      SELECT doc_id, {_DUCK_MINHASH_COLS}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, b.band, {_DUCK_BAND_SIG} AS sig
      FROM mh, (SELECT unnest(range(0, {MINHASH_BANDS})) AS b) b(band)
    ),
    bsz AS (
      SELECT band, sig, COUNT(*) AS bn, MIN(doc_id) AS bmin
      FROM bands GROUP BY band, sig
    ),
    star AS (
      SELECT DISTINCT z.bmin AS doc_a, b.doc_id AS doc_b
      FROM bands b JOIN bsz z ON b.band = z.band AND b.sig = z.sig
      WHERE z.bn > {LSH_BUCKET_CAP} AND b.doc_id <> z.bmin
    ),
    star_ver AS (
      SELECT s.doc_a, s.doc_b, COUNT(*) AS n_inter
      FROM star s
      JOIN sh a ON a.doc_id = s.doc_a
      JOIN sh b ON b.doc_id = s.doc_b AND b.xs = a.xs
      GROUP BY s.doc_a, s.doc_b
    ),
    star_pass AS (
      SELECT COUNT(*) AS n
      FROM star_ver v
      JOIN sizes sa ON v.doc_a = sa.doc_id
      JOIN sizes sb ON v.doc_b = sb.doc_id
      WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter)
            >= {MINHASH_VERIFY_THRESHOLD}
    )
    SELECT {LSH_BUCKET_CAP} AS bucket_cap,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN bn > {LSH_BUCKET_CAP} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_capped_buckets,
           CAST(SUM(CASE WHEN bn > {LSH_BUCKET_CAP} THEN bn ELSE 0 END) AS BIGINT)
             AS docs_in_capped,
           CAST(SUM(CASE WHEN bn <= {LSH_BUCKET_CAP} THEN bn * (bn - 1) // 2 ELSE 0 END) AS BIGINT)
             AS pairwise_candidates,
           CAST(SUM(CASE WHEN bn > {LSH_BUCKET_CAP} THEN bn - 1 ELSE 0 END) AS BIGINT)
             AS star_candidates,
           CAST(SUM(CASE WHEN bn > {LSH_BUCKET_CAP} THEN bn * (bn - 1) // 2 - (bn - 1) ELSE 0 END) AS BIGINT)
             AS candidates_avoided,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM star)
             - (SELECT CAST(n AS BIGINT) FROM star_pass)
             AS star_edges_failing_verify
    FROM bsz
    """,
)
def dedup_lsh_bucket_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accounting row for the LSH_BUCKET_CAP hot-bucket guard — the
    "no silent truncation" contract: how many (band, sig) buckets
    exist, how many exceeded the ceiling (and so short-circuited to
    star contraction in ``dedup_minhash_lsh``), how many documents sat
    in them, and how many quadratic candidate pairs the cap converted
    into linear star edges. Zero capped buckets on the natural fixtures
    (ceiling chosen above the largest natural bucket); the bench's
    duplicate-dense replicated corpus is where the counts move.

    ``star_edges_failing_verify`` (r11 advice) measures the cap's actual
    recall exposure, not just its candidate accounting: the number of
    DISTINCT star (hub, member) edges whose exact Jaccard fails the
    verify threshold. Every such edge is a place where post-verification
    components COULD split differently from the uncapped join (the
    member might have passed against some non-hub member). Zero means
    the contraction cost nothing on this corpus; the column stays 0 on
    every natural fixture trivially (no capped buckets), reads 0 on the
    exact-replica capped corpus (every star edge is Jaccard 1.0), and is
    pinned NONZERO (=5) on a two-family capped corpus whose families
    share a band signature at Jaccard 0.31 < verify threshold
    (tests/test_corpus_invariants.py::
    test_lsh_cap_audit_counts_failing_star_edges)."""
    capped = F.col("bn") > LSH_BUCKET_CAP
    all_pairs = F.expr("bn * (bn - 1) DIV 2")
    bands = _lsh_bands(spark, sf_dir)
    stats = _lsh_bucket_stats(bands)

    # Star edges actually emitted for capped buckets, verified exactly —
    # the same |candidates|-sized join shape as dedup_minhash_lsh's
    # verify, so the audit stays linear in what the cap emits.
    star = (
        bands.join(stats, ["band", "sig"])
        .where(capped & (F.col("doc_id") != F.col("bmin")))
        .select(F.col("bmin").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .distinct()
    )
    sh = _doc_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    va, vb = sh.alias("va"), sh.alias("vb")
    inter = (
        star.join(va, F.col("va.doc_id") == F.col("doc_a"))
        .join(
            vb,
            (F.col("vb.doc_id") == F.col("doc_b"))
            & (F.col("vb.xs") == F.col("va.xs")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sz_b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    )
    n_pass = (
        inter.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .where(jac >= MINHASH_VERIFY_THRESHOLD)
        .agg(F.count("*").cast("long").alias("n_pass"))
    )
    n_star = star.agg(F.count("*").cast("long").alias("n_star"))

    base = stats.agg(
        F.lit(LSH_BUCKET_CAP).alias("bucket_cap"),
        F.count("*").alias("n_buckets"),
        F.sum(F.when(capped, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_capped_buckets"),
        F.sum(F.when(capped, F.col("bn")).otherwise(F.lit(0)))
        .cast("long")
        .alias("docs_in_capped"),
        F.sum(F.when(~capped, all_pairs).otherwise(F.lit(0)))
        .cast("long")
        .alias("pairwise_candidates"),
        F.sum(F.when(capped, F.col("bn") - 1).otherwise(F.lit(0)))
        .cast("long")
        .alias("star_candidates"),
        F.sum(F.when(capped, all_pairs - (F.col("bn") - 1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("candidates_avoided"),
    )
    # two 1-row scalar broadcasts (whitelisted in test_plans): the audit
    # row is a single row, so stitching the star-verify scalars on costs
    # nothing at any scale
    return (
        base.crossJoin(n_star)
        .crossJoin(n_pass)
        .withColumn(
            "star_edges_failing_verify", F.col("n_star") - F.col("n_pass")
        )
        .drop("n_star", "n_pass")
    )


# ---------------------------------------------------------------------------
# 3b. Near-dup clustering (connected components over candidate pairs)
# ---------------------------------------------------------------------------

# The minhash pair relation as an oracle CTE chain (same bodies as the
# dedup_minhash_lsh oracle, ending in pairs(doc_a, doc_b)).
_DUCK_MINHASH_PAIRS_CTES = f"""
{{shingles}},
mh AS (
  SELECT doc_id, {{mh_cols}}
  FROM sh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, b.band, {{band_sig}} AS sig
  FROM mh, (SELECT unnest(range(0, {MINHASH_BANDS})) AS b) b(band)
),
{{capped_cand}},
cand AS (
  SELECT doc_a, doc_b FROM cand0 GROUP BY doc_a, doc_b
),
verified AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.xs = a.xs
  GROUP BY c.doc_a, c.doc_b
),
pairs AS (
  SELECT v.doc_a, v.doc_b
  FROM verified v
  JOIN sizes sa ON v.doc_a = sa.doc_id
  JOIN sizes sb ON v.doc_b = sb.doc_id
  WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter)
        >= {MINHASH_VERIFY_THRESHOLD}
)
"""


def minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b) near-dup pairs: the dedup_minhash_lsh output pruned
    to the pair key (Catalyst drops the band/jaccard computation branches
    that only fed the reporting columns)."""
    return dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")


def star_components(edges: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction (Kiveris et al. 2014, "Connected Components in MapReduce
    and Beyond") — (node, lbl) for every node appearing in ``edges``,
    lbl = the component's minimum node id.

    Each round: LARGE-STAR hangs every strictly-larger neighbor of u off
    min(Γ(u) ∪ {u}); SMALL-STAR re-hangs the smaller-or-equal
    neighborhood (and u itself) off the same min. Both are one
    symmetrize + groupBy-min + join — the identical shuffle shape as one
    label-propagation round — but the edge set contracts geometrically,
    so convergence is O(log n) rounds instead of O(component diameter):
    the plan that survives 100 TB graphs with long chains. Fixpoint is
    detected by an (edge-count, hash-sum) signature, then the star
    invariant is verified structurally (every source has exactly one
    target, no target is itself a source) — a hash-collision-masked
    false fixpoint cannot slip through silently.

    Fully deterministic (min-based), so the same DuckDB transitive-
    closure oracle that checked label propagation checks this; a
    Hypothesis suite replays it against a union-find replica on random
    graphs (tests/test_properties.py)."""
    cur = (
        edges.selectExpr("s", "d")
        .where(F.col("s") != F.col("d"))
        .distinct()
        .cache()
    )

    def _sym(df: DataFrame) -> DataFrame:
        return df.select(F.col("s").alias("u"), F.col("d").alias("v")).unionByName(
            df.select(F.col("d").alias("u"), F.col("s").alias("v"))
        )

    def _mins(nb: DataFrame) -> DataFrame:
        return (
            nb.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m"))
        )

    def _signature(df: DataFrame) -> tuple[int, int]:
        row = df.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("s", "d").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    prev_cached = cur
    sig = _signature(cur)
    converged = False
    for _ in range(max_rounds):
        nb = _sym(cur)
        large = (
            nb.join(_mins(nb), "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("s"), F.col("m").alias("d"))
            .where(F.col("s") != F.col("d"))
            .distinct()
        )
        nb2 = _sym(large)
        m2 = _mins(nb2)
        small = (
            nb2.join(m2, "u")
            .where(F.col("v") < F.col("u"))
            .select(F.col("v").alias("s"), F.col("m").alias("d"))
            .unionByName(m2.select(F.col("u").alias("s"), F.col("m").alias("d")))
            .where(F.col("s") != F.col("d"))
            .distinct()
            # eager cut per round: the contracted edge set is small and
            # shrinking; cutting the two-phase join lineage here keeps
            # round depth from compounding the plan
            .localCheckpoint(eager=True)
        )
        new_sig = _signature(small)
        prev_cached.unpersist()
        prev_cached = cur = small
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    try:
        if not converged:
            raise RuntimeError(
                f"star_components did not converge in {max_rounds} rounds"
            )
        # structural star check: hash-equal signatures can't fake this
        multi = (
            cur.groupBy("s").agg(F.count_distinct("d").alias("nd"))
            .where(F.col("nd") > 1)
            .count()
        )
        chained = (
            cur.alias("a")
            .join(cur.alias("b"), F.col("a.d") == F.col("b.s"), "left_semi")
            .count()
        )
        if multi or chained:
            raise RuntimeError(
                f"star_components fixpoint is not a star forest "
                f"(multi-target sources={multi}, chained roots={chained})"
            )
        nodes = _sym(edges).select(F.col("u").alias("node")).distinct()
        labels = nodes.join(
            cur.withColumnRenamed("s", "node"), "node", "left"
        ).select("node", F.coalesce("d", "node").alias("lbl"))
        return labels.localCheckpoint(eager=True)
    finally:
        prev_cached.unpersist()


# Shared by dedup_clusters AND dedup_clusters_star — one transitive-
# closure ground truth, two physical plans.
_CLUSTERS_ORACLE = (
    "WITH RECURSIVE "
    + _DUCK_MINHASH_PAIRS_CTES.format(
        shingles=_DUCK_SHINGLES_CTE,
        mh_cols=_DUCK_MINHASH_COLS,
        band_sig=_DUCK_BAND_SIG,
        capped_cand=_DUCK_CAPPED_CAND,
    )
    + """
    , edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    verts AS (SELECT DISTINCT s AS v FROM edges),
    reach AS (
      SELECT v, v AS x FROM verts
      UNION
      SELECT reach.v, e.d AS x FROM reach JOIN edges e ON e.s = reach.x
    ),
    labels AS (SELECT v AS doc_id, MIN(x) AS cluster_id FROM reach GROUP BY v)
    SELECT cluster_id,
           COUNT(*) AS n_members,
           array_to_string(list_sort(array_agg(doc_id)), ',') AS member_ids
    FROM labels
    GROUP BY cluster_id
    ORDER BY cluster_id
    """
)


@query(
    "dedup_clusters",
    oracle=_CLUSTERS_ORACLE,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup components: the ``dedup_clusters`` warehouse checkpoint when
    warm (a pure parquet scan — the build-once/query-many shape 100 TB
    requires: clustering is an INDEX ARTIFACT, recomputing it per
    consumer query is the r7 verdict's #1 scale bug), the iterative
    cold derivation otherwise. Warm ≡ cold is asserted in
    tests/test_ingest.py.

    Inherited LSH_BUCKET_CAP caveat (r11 advice): the pair relation this
    clusters is the CAPPED candidate join — on a boilerplate-dense shard
    a hot bucket contributes star (hub, member) edges only, so a
    component can split differently from the uncapped join when a
    hub-spoke edge fails Jaccard verification where some member-member
    pair would have passed. ``dedup_lsh_bucket_audit``'s
    ``star_edges_failing_verify`` column counts exactly those exposure
    points (0 on every natural fixture — no capped buckets exist)."""
    from ..pipeline.corpus import _stage_or

    return _stage_or(
        spark,
        sf_dir,
        "dedup_clusters",
        dedup_clusters_build,
        warm=lambda df: df.orderBy("cluster_id"),
    )


def dedup_clusters_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash near-dup pairs: the step
    that turns pairwise detection into actual dedup groups (keep one doc
    per component). Cluster id = the component's minimum doc_id.

    Implementation: iterative min-label propagation — every vertex
    starts labeled with itself; each round takes the min of its own and
    its neighbors' labels; fixpoint when no label changes (checked with
    one count per round, the standard driver-side loop control of
    iterative graph algorithms). The pair relation is computed once and
    cached; each round is one shuffle join + aggregation. Convergence in
    O(component diameter) rounds — near-dup components are shallow (the
    fixture's planted dup groups converge in 2; label propagation beats
    star contraction ~3x here because its rounds are cheaper). For
    100 TB-scale graphs with long chains, ``dedup_clusters_star`` below
    runs the alternating large-star/small-star contraction (Kiveris et
    al.) against the SAME oracle — O(log n) rounds of this join shape.

    The DuckDB oracle computes the same components by transitive closure
    (recursive CTE, min reachable id per vertex)."""
    pairs = minhash_pairs(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("d"))
        )
        .cache()
    )
    labels = (
        edges.select(F.col("s").alias("node")).distinct()
        .withColumn("lbl", F.col("node"))
        .cache()
    )
    max_rounds = 50  # diameter bound; fixture components converge in 2
    prev_cached = labels
    changed = -1
    # try/finally: every loop cache is dropped before return — the result
    # is eagerly materialized (localCheckpoint) first, so repeated calls
    # in a long-lived session can't accumulate pinned blocks, and the
    # non-convergence raise doesn't leak them either.
    try:
        labels.count()  # materialize edges+labels once, before the loop
        for _ in range(max_rounds):
            neigh = (
                edges.join(labels, edges.d == labels.node)
                .groupBy("s")
                .agg(F.min("lbl").alias("nlbl"))
            )
            # one join per round: carry the old label through so the update
            # and the convergence check share a single cached relation
            step = (
                labels.join(neigh, labels.node == neigh.s, "left")
                .select(
                    "node",
                    F.col("lbl").alias("old_lbl"),
                    F.least(F.col("lbl"), F.coalesce("nlbl", "lbl")).alias("lbl"),
                )
                .cache()
            )
            changed = step.filter(F.col("lbl") != F.col("old_lbl")).count()
            # unpersist the actual cached relation of the previous round (the
            # projection we iterate on would not sameResult() the cache entry)
            if prev_cached is not step:
                prev_cached.unpersist()
            prev_cached = step
            labels = step.select("node", "lbl")
            if changed == 0:
                break
        if changed != 0:  # loud failure beats a silently split component
            raise RuntimeError(
                f"dedup_clusters did not converge in {max_rounds} rounds "
                "(component diameter exceeds the bound; use star contraction)"
            )
        result = (
            labels.groupBy(F.col("lbl").alias("cluster_id"))
            .agg(
                F.count("*").alias("n_members"),
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list("node")),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                ).alias("member_ids"),
            )
            .orderBy("cluster_id")
        )
        # eager cut: the aggregate is small (one row per cluster), so
        # materializing it frees the O(rounds) join lineage AND lets the
        # finally-block drop the last round's cache safely.
        return result.localCheckpoint(eager=True)
    finally:
        edges.unpersist()
        prev_cached.unpersist()


@query(
    "dedup_clusters_star",
    oracle=_CLUSTERS_ORACLE,
)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same dedup components computed by alternating large-star/
    small-star contraction (``star_components``) — the O(log n)-round
    plan for 100 TB graphs with long chains, where ``dedup_clusters``'s
    min-label propagation would pay O(component diameter) rounds. On
    the fixture's shallow planted components label propagation is ~3x
    faster (fewer, cheaper rounds), which is why BOTH plans ship: the
    two queries are output-identical against one oracle, and the
    crossover is a diameter property of the input graph, not a data
    volume property. Star correctness on adversarial graph shapes is
    Hypothesis-checked against a union-find replica
    (tests/test_properties.py)."""
    pairs = minhash_pairs(spark, sf_dir)
    labels = star_components(
        pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d"))
    )
    return (
        labels.groupBy(F.col("lbl").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_members"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("node")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("member_ids"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# 4. SimHash
# ---------------------------------------------------------------------------


def doc_simhash_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold SimHash signature stage (doc_id, simhash): one narrow explode
    + ONE groupBy with SIMHASH_BITS bit-sums (map-side partial aggregation
    collapses each partition to SIMHASH_BITS longs per doc — no per-bit
    row blowup). Summing per token *occurrence* folds the tf weighting
    in: sum_occ(2*bit-1) == sum_distinct c * (2*bit-1)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    occ = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.explode(words(F.lower(F.col("text")))).alias("token"))
        .withColumn("x", token_hash60("token"))
    )
    bit_sums = occ.groupBy("doc_id").agg(
        *[
            F.sum(2 * F.expr(f"(x >> {b}) & 1") - 1).alias(f"s{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    return bit_sums.select(
        "doc_id",
        sum(
            [
                F.when(
                    F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")
                ).otherwise(F.lit(0).cast("long"))
                for b in range(SIMHASH_BITS)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )


def _doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash) signatures: the ``doc_simhash`` warehouse
    checkpoint when warm (a 16-byte-row parquet scan), the cold
    derivation cached otherwise (both sides of the band join reuse it)."""
    from ..pipeline.corpus import _stage_or

    return _stage_or(
        spark, sf_dir, "doc_simhash", lambda s, d: doc_simhash_build(s, d).cache()
    )


@query(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) AS token
      FROM documents WHERE length(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) > 0
    ),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS c, {DUCK_TOKEN_HASH60.format(t="token")} AS x
      FROM toks GROUP BY doc_id, token
    ),
    bits AS (
      SELECT doc_id, b.b,
             SUM(c * (2 * ((x >> b.b) & 1) - 1)) AS s
      FROM tf, (SELECT unnest(range(0, {SIMHASH_BITS})) AS b) b
      GROUP BY doc_id, b.b
    ),
    sig AS (
      SELECT doc_id,
             SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS simhash
      FROM bits GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, simhash, k.k, (simhash >> (15 * k.k)) & 32767 AS band_val
      FROM sig, (SELECT unnest(range(0, {SIMHASH_BANDS})) AS k) k
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS ha, b.simhash AS hb
      FROM bands a JOIN bands b
        ON a.k = b.k AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= {SIMHASH_MAX_HAMMING}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection: 60-bit Charikar signature from
    term-frequency-weighted token-hash bits, candidates via 4 15-bit
    bands (pigeonhole: Hamming ≤ 3 ⇒ at least one band identical), then
    exact Hamming ≤ SIMHASH_MAX_HAMMING verification with bit_count(xor).

    At scale: signatures are 8 bytes/doc; the band join shuffles 4 rows
    per doc on a 1-byte-entropy key — skew-prone, so AQE skew splitting
    stays on; verification is a bitop, not a text compare."""
    sig = _doc_simhash(spark, sf_dir)
    band_idx = F.broadcast(
        spark.createDataFrame([(k,) for k in range(SIMHASH_BANDS)], "k int")
    )
    bands = sig.crossJoin(band_idx).select(
        "doc_id",
        "simhash",
        "k",
        F.expr("(simhash >> (15 * k)) & 32767").alias("band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.filter(hamming <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# 5. Embedding-cosine nearest neighbor (blocked)
# ---------------------------------------------------------------------------


@query(
    "dedup_embedding_nn",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id, a.label,
             b.vec_id AS nn_vec_id,
             round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cosine
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cosine DESC, nn_vec_id) AS rn
      FROM pairs
    )
    SELECT vec_id, label, nn_vec_id, cosine
    FROM ranked WHERE rn = 1
    ORDER BY vec_id
    """,
)
def dedup_embedding_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup scan: for every vector, its nearest
    neighbor (by cosine) within its ``label`` block — the blocked form of
    cosine near-dup detection (a full threshold scan is the same plan
    with a WHERE on cosine).

    Scale shape: blocking turns O(n²) into Σ|block|²; the per-vector
    argmax is one window pass. No broadcast hint on either side — the
    full embeddings table is exactly the relation that will NOT fit a
    broadcast at scale, so the planner chooses from size stats
    (auto-broadcast locally, sort-merge on the label key beyond the
    threshold, with AQE skew-splitting for hot labels). For un-blocked
    corpora the LSH route (``ann_lsh_topk``) replaces the equi-join; for
    pathologically hot labels, salt the label key."""
    e = (
        fan_out(load_table(spark, sf_dir, "embeddings"), "vec_id")
        .select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
        )
        .withColumn(
            "nrm",
            F.sqrt(
                F.aggregate(
                    F.zip_with(F.col("v"), F.col("v"), lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
        )
    )
    a, b = e.alias("a"), e.alias("b")
    dot_ab = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("a.label").alias("label"),
        F.col("b.vec_id").alias("nn_vec_id"),
        F.round(dot_ab / (F.col("a.nrm") * F.col("b.nrm")), 4).alias("cosine"),
    )
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("nn_vec_id"))
    )
    return (
        pairs.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# 6. Train/test contamination scan (split ⨝ shingle overlap)
# ---------------------------------------------------------------------------

CONTAMINATION_MIN_SHARED = 5  # shared distinct shingles to flag a pair

# THE split definition is ranking.py's — imported, never re-declared, so
# a threshold change there can never fork the split this scan audits.
from .ranking import DUCK_SPLIT_CASE  # noqa: E402


@query(
    "contamination_scan",
    oracle=f"""
    WITH {_DUCK_SHINGLES_CTE},
    split AS (
      SELECT doc_id,
             {DUCK_SPLIT_CASE.format(id="doc_id")} AS split
      FROM documents
    ),
    test_sh AS (
      SELECT sh.doc_id, sh.xs FROM sh JOIN split USING (doc_id)
      WHERE split = 'test'
    ),
    train_sh AS (
      SELECT sh.doc_id, sh.xs FROM sh JOIN split USING (doc_id)
      WHERE split = 'train'
    ),
    overlap AS (
      SELECT t.doc_id AS test_doc_id, tr.doc_id AS train_doc_id,
             COUNT(*) AS n_shared
      FROM test_sh t JOIN train_sh tr ON t.xs = tr.xs
      GROUP BY t.doc_id, tr.doc_id
    ),
    ranked AS (
      SELECT o.*, s.n AS n_test_shingles,
             round(CAST(n_shared AS DOUBLE) / s.n, 4) AS shared_frac,
             row_number() OVER (PARTITION BY test_doc_id
                                ORDER BY n_shared DESC, train_doc_id) AS rn
      FROM overlap o JOIN sizes s ON o.test_doc_id = s.doc_id
    )
    SELECT test_doc_id, train_doc_id, n_shared, n_test_shingles, shared_frac
    FROM ranked
    WHERE rn = 1 AND n_shared >= {CONTAMINATION_MIN_SHARED}
    ORDER BY test_doc_id
    """,
)
def contamination_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set contamination scan: for every held-out document (the
    deterministic hash split of ranking.doc_train_test_split), its most-
    overlapping training document by shared distinct shingles, flagged
    when ≥ CONTAMINATION_MIN_SHARED shingles collide — the leakage check
    a training pipeline runs before publishing an eval split.

    Scale shape: the same inverted-index equi-join as the Jaccard dedup
    (8-byte shingle keys, never pairwise text), with the split predicate
    pruning each side BEFORE the join — the test side is ~10% of the
    corpus, so the shuffle is test-sized, not corpus-sized. The per-test-
    doc argmax is one window pass."""
    from .ranking import split_assignment

    sh = _doc_shingles(spark, sf_dir)
    split = load_table(spark, sf_dir, "documents").select(
        "doc_id", split_assignment("doc_id").alias("split")
    )
    sized = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    test_sh = sh.join(
        split.filter(F.col("split") == "test").select("doc_id"), "doc_id"
    ).select(F.col("doc_id").alias("test_doc_id"), "xs")
    train_sh = sh.join(
        split.filter(F.col("split") == "train").select("doc_id"), "doc_id"
    ).select(F.col("doc_id").alias("train_doc_id"), "xs")
    overlap = (
        test_sh.join(train_sh, "xs")
        .groupBy("test_doc_id", "train_doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("test_doc_id").orderBy(
            F.desc("n_shared"), F.asc("train_doc_id")
        )
    )
    return (
        overlap.join(
            sized.select(F.col("doc_id").alias("test_doc_id"), F.col("n").alias("n_test_shingles")),
            "test_doc_id",
        )
        .withColumn("shared_frac", F.round(F.col("n_shared") / F.col("n_test_shingles"), 4))
        .withColumn("rn", rn)
        .filter((F.col("rn") == 1) & (F.col("n_shared") >= CONTAMINATION_MIN_SHARED))
        .select("test_doc_id", "train_doc_id", "n_shared", "n_test_shingles", "shared_frac")
        .orderBy("test_doc_id")
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new ingest batch vs the standing corpus index
# ---------------------------------------------------------------------------

NEW_BATCH_MOD = 10  # doc_id % 10 == 0 models "today's ingest batch"

# Shared by dedup_incremental and the streaming admission twin
# (streaming/stream.py stream_dedup_admission): the stream replays the
# same cut in micro-batches against the same standing index, so N
# per-batch screens must land byte-identical to this one-shot screen.
DEDUP_INCREMENTAL_ORACLE = f"""
    WITH {_DUCK_SHINGLES_CTE},
    inter AS (
      SELECT a.doc_id AS new_doc_id, b.doc_id AS match_doc_id, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.xs = b.xs
      WHERE a.doc_id % {NEW_BATCH_MOD} = 0 AND b.doc_id % {NEW_BATCH_MOD} != 0
      GROUP BY a.doc_id, b.doc_id
    ),
    scored AS (
      SELECT new_doc_id, match_doc_id, n_inter,
             CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jac
      FROM inter
      JOIN sizes sa ON new_doc_id = sa.doc_id
      JOIN sizes sb ON match_doc_id = sb.doc_id
      WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= {JACCARD_THRESHOLD}
    ),
    best AS (
      SELECT new_doc_id, match_doc_id, jac FROM (
        SELECT new_doc_id, match_doc_id, jac,
               row_number() OVER (
                 PARTITION BY new_doc_id ORDER BY jac DESC, match_doc_id
               ) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT d.doc_id AS new_doc_id,
           CAST(b.match_doc_id AS BIGINT) AS match_doc_id,
           round(b.jac, 4) AS jaccard,
           CASE WHEN b.match_doc_id IS NULL THEN 'unique' ELSE 'duplicate' END
             AS verdict
    FROM documents d LEFT JOIN best b ON d.doc_id = b.new_doc_id
    WHERE d.doc_id % {NEW_BATCH_MOD} = 0
    ORDER BY new_doc_id
    """


@query("dedup_incremental", oracle=DEDUP_INCREMENTAL_ORACLE)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-index) near-dedup: screen 'today's ingest'
    (doc_id % NEW_BATCH_MOD == 0) against the standing corpus WITHOUT
    re-comparing the corpus to itself — the operational shape of dedup at
    100 TB, where the index side is the materialized shingle warehouse
    (``doc_shingles`` checkpoint) and each arriving batch costs only
    |batch| x avg-postings join work, never |corpus|^2. Every new doc
    gets a verdict: its best-matching index doc by exact n-gram Jaccard
    (ties broken by doc_id) or 'unique' — including shingle-less short
    docs, which trivially pass.

    Contract (the arrival-cut tie case, pinned in
    tests/test_neardup_corpus.py::test_arrival_cut_tie_case_is_snapshot_screened):
    the screen compares arrivals against the STANDING INDEX ONLY, never
    against each other — duplicates that both land in the arrival cut
    are all 'unique' and all admitted. This is inherent, not an
    oversight: the streaming twin's verdict union must be invariant to
    the micro-batch split (and byte-identical to this one-shot screen),
    which forces snapshot screening. De-duplicating the arrival set
    itself is the separate batch pass (dedup_ngram_jaccard)."""
    from pyspark.sql import Window as W

    sh = _doc_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    is_new = F.col("doc_id") % NEW_BATCH_MOD == 0
    new_sh, idx_sh = sh.filter(is_new), sh.filter(~is_new)
    inter = (
        new_sh.alias("a")
        .join(idx_sh.alias("b"), F.col("a.xs") == F.col("b.xs"))
        .groupBy(
            F.col("a.doc_id").alias("new_doc_id"),
            F.col("b.doc_id").alias("match_doc_id"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    jac = F.col("n_inter") / (F.col("sa.n") + F.col("sb.n") - F.col("n_inter"))
    scored = (
        inter.join(sizes.alias("sa"), F.col("new_doc_id") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("match_doc_id") == F.col("sb.doc_id"))
        .withColumn("jac", jac)
        .filter(F.col("jac") >= JACCARD_THRESHOLD)
        .select("new_doc_id", "match_doc_id", "jac")
    )
    rn = F.row_number().over(
        W.partitionBy("new_doc_id").orderBy(F.desc("jac"), F.asc("match_doc_id"))
    )
    best = scored.withColumn("rn", rn).filter(F.col("rn") == 1).drop("rn")
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(is_new)
        .select(F.col("doc_id").alias("new_doc_id"))
        .join(best, "new_doc_id", "left")
        .select(
            "new_doc_id",
            F.col("match_doc_id").cast("long").alias("match_doc_id"),
            F.round("jac", 4).alias("jaccard"),
            F.when(F.col("match_doc_id").isNull(), "unique")
            .otherwise("duplicate")
            .alias("verdict"),
        )
        .orderBy("new_doc_id")
    )


@query(
    "contamination_purge_counts",
    oracle=f"""
    WITH {_DUCK_SHINGLES_CTE},
    split AS (
      SELECT doc_id,
             {DUCK_SPLIT_CASE.format(id="doc_id")} AS split
      FROM documents
    ),
    test_sh AS (
      SELECT sh.doc_id, sh.xs FROM sh JOIN split USING (doc_id)
      WHERE split = 'test'
    ),
    train_sh AS (
      SELECT sh.doc_id, sh.xs FROM sh JOIN split USING (doc_id)
      WHERE split = 'train'
    ),
    overlap AS (
      SELECT t.doc_id AS test_doc_id, tr.doc_id AS train_doc_id,
             COUNT(*) AS n_shared
      FROM test_sh t JOIN train_sh tr ON t.xs = tr.xs
      GROUP BY t.doc_id, tr.doc_id
    ),
    contaminated AS (
      SELECT DISTINCT train_doc_id FROM overlap
      WHERE n_shared >= {CONTAMINATION_MIN_SHARED}
    )
    SELECT s.split,
           COUNT(*) AS n_docs_before,
           CAST(SUM(CASE WHEN c.train_doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_purged,
           CAST(COUNT(*) - SUM(CASE WHEN c.train_doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_after
    FROM split s LEFT JOIN contaminated c ON s.doc_id = c.train_doc_id
    GROUP BY s.split
    ORDER BY s.split
    """,
)
def contamination_purge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step after ``contamination_scan``: every train document
    that shares >= CONTAMINATION_MIN_SHARED shingles with ANY test
    document is dropped (the scan reports best-match pairs for triage;
    the purge is per-train-doc), and the per-split before/purged/after
    accounting is emitted — the audit row a pipeline logs when it
    decontaminates. Same inverted-index join as the scan (batch-cost on
    the materialized shingle warehouse when warm); valid/test splits pass
    through untouched by construction."""
    from pyspark.sql import functions as F

    from .ranking import split_assignment

    sh = _doc_shingles(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", split_assignment("doc_id").alias("split")
    )
    sided = sh.join(docs, "doc_id")
    test_sh = sided.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc_id"), "xs"
    )
    train_sh = sided.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc_id"), "xs"
    )
    contaminated = (
        test_sh.join(train_sh, "xs")
        .groupBy("test_doc_id", "train_doc_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= CONTAMINATION_MIN_SHARED)
        .select("train_doc_id")
        .distinct()
    )
    purged = F.col("train_doc_id").isNotNull()
    return (
        docs.join(
            contaminated, docs["doc_id"] == contaminated["train_doc_id"], "left"
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs_before"),
            F.sum(purged.cast("long")).alias("n_docs_purged"),
            (F.count("*") - F.sum(purged.cast("long"))).cast("long").alias("n_docs_after"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# Dedup rate by source (dedup clusters × provenance dimension)
# ---------------------------------------------------------------------------


def _register_dedup_rate_by_source() -> None:
    # all_oracles() composition must happen after dedup_clusters is
    # registered above — same late-bind pattern as operators/curation.py
    from ..registry import all_oracles

    @query(
        "dedup_rate_by_source",
        oracle=f"""
        WITH members AS (
          SELECT CAST(t.x AS BIGINT) AS doc_id, c.cluster_id
          FROM ({all_oracles()["dedup_clusters"]}) c,
               unnest(string_split(c.member_ids, ',')) AS t(x)
        )
        SELECT d.source,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_near_dup,
               CAST(SUM(CASE WHEN m.doc_id IS NOT NULL AND m.doc_id <> m.cluster_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_would_drop,
               round(CAST(SUM(CASE WHEN m.doc_id IS NOT NULL AND m.doc_id <> m.cluster_id
                                   THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4)
                 AS drop_rate
        FROM documents d LEFT JOIN members m ON d.doc_id = m.doc_id
        GROUP BY d.source
        ORDER BY d.source
        """,
    )
    def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The dedup accountability report: per upstream source, how many
        documents sit in a near-duplicate cluster and how many the
        keep-min-doc_id policy would drop — the table that tells a data
        team WHICH feed is paying for redundant bytes (provenance ×
        dedup, the composition curation_by_source is for quality
        signals). Composes dedup_clusters' components (exploded back to
        per-doc membership) with the documents source dimension; the
        oracle embeds the clusters query's own registered oracle, so the
        report can't drift from the clustering it summarizes.

        Scale shape: cluster membership is |near-dup docs|-sized (far
        smaller than the corpus), left-joined to documents on doc_id and
        hash-aggregated to |sources| rows."""
        clusters = dedup_clusters(spark, sf_dir)
        members = clusters.select(
            "cluster_id",
            F.explode(F.split("member_ids", ",")).alias("m"),
        ).select(F.col("m").cast("long").alias("doc_id"), "cluster_id")
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
        in_cluster = F.col("cluster_id").isNotNull()
        dropped = in_cluster & (F.col("doc_id") != F.col("cluster_id"))
        return (
            docs.join(members, "doc_id", "left")
            .groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(in_cluster.cast("long")).cast("long").alias("n_near_dup"),
                F.sum(dropped.cast("long")).cast("long").alias("n_would_drop"),
                F.round(
                    F.sum(dropped.cast("long")).cast("double") / F.count("*"), 4
                ).alias("drop_rate"),
            )
            .orderBy("source")
        )


_register_dedup_rate_by_source()


# ---------------------------------------------------------------------------
# 7. Sorted-neighborhood dedup (SNM blocking family)
# ---------------------------------------------------------------------------

SNM_BLOCK_CHARS = 16   # sort-key prefix that forms a block
SNM_WINDOW = 2         # compare each doc to its next W neighbors
SNM_JACCARD = JACCARD_THRESHOLD


@query(
    "dedup_sorted_neighborhood",
    oracle=f"""
    WITH {_DUCK_SHINGLES_CTE},
    keyed AS (
      SELECT doc_id, substr(lower(text), 1, {SNM_BLOCK_CHARS}) AS blk, n_chars
      FROM documents
    ),
    nbrs AS (
      SELECT doc_id,
             lead(doc_id, 1) OVER w AS n1,
             lead(doc_id, 2) OVER w AS n2
      FROM keyed
      WINDOW w AS (PARTITION BY blk ORDER BY n_chars, doc_id)
    ),
    cand AS (
      SELECT least(doc_id, n1) AS a, greatest(doc_id, n1) AS b,
             1 AS window_dist
      FROM nbrs WHERE n1 IS NOT NULL
      UNION ALL
      SELECT least(doc_id, n2), greatest(doc_id, n2), 2
      FROM nbrs WHERE n2 IS NOT NULL
    ),
    inter AS (
      SELECT c.a, c.b, c.window_dist, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh x ON x.doc_id = c.a
      JOIN sh y ON y.doc_id = c.b AND y.xs = x.xs
      GROUP BY c.a, c.b, c.window_dist
    )
    SELECT a AS doc_a, b AS doc_b, CAST(window_dist AS INTEGER) AS window_dist,
           n_inter,
           round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON a = sa.doc_id
    JOIN sizes sb ON b = sb.doc_id
    WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= {SNM_JACCARD}
    ORDER BY doc_a, doc_b, window_dist
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup (Hernández & Stolfo 1995), the third
    blocking family next to MinHash-LSH and SimHash: documents sort by a
    {SNM_BLOCK_CHARS}-char normalized-prefix key, and each doc is
    compared only to its next {SNM_WINDOW} neighbors in sort order —
    candidate generation is O(W·n) regardless of cluster size.
    Candidates are then VERIFIED with exact shingle Jaccard (same
    inverted-index join as dedup_ngram_jaccard, restricted to the
    candidate pairs), so the output is a subset of the exact pair list:
    recall is bounded by the blocking key, precision is exact.

    Scale shape: the classic SNM needs one GLOBAL sort + sliding window;
    this plan partitions the window BY the prefix block instead
    (partitionBy(blk) + lead), so the sort is per-block and fully
    parallel — the standard distributed-SNM compromise (cross-block
    neighbors are sacrificed; the prefix IS the block boundary). The
    verify join touches only candidate doc_ids, never all pairs."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.substring(F.lower(F.col("text")), 1, SNM_BLOCK_CHARS).alias("blk"),
        "n_chars",
    )
    w = W.partitionBy("blk").orderBy("n_chars", "doc_id")
    nbrs = keyed.select(
        "doc_id",
        F.lead("doc_id", 1).over(w).alias("n1"),
        F.lead("doc_id", 2).over(w).alias("n2"),
    )
    cand = None
    for d, col in ((1, "n1"), (2, "n2")):
        part = nbrs.filter(F.col(col).isNotNull()).select(
            F.least("doc_id", F.col(col)).alias("a"),
            F.greatest("doc_id", F.col(col)).alias("b"),
            F.lit(d).cast("int").alias("window_dist"),
        )
        cand = part if cand is None else cand.unionByName(part)
    sh = _doc_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        cand.join(sh.withColumnRenamed("doc_id", "a"), "a")
        .join(
            sh.select(F.col("doc_id").alias("b"), F.col("xs").alias("ys")), "b"
        )
        .filter(F.col("xs") == F.col("ys"))
        .groupBy("a", "b", "window_dist")
        .agg(F.count("*").alias("n_inter"))
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na")), "a"
        )
        .join(
            sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb")), "b"
        )
        .filter(jac >= SNM_JACCARD)
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            "window_dist",
            "n_inter",
            F.round(jac, 4).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b", "window_dist")
    )


# ---------------------------------------------------------------------------
# 8. Edit-distance fuzzy join with blocking (Ed-Join shape)
# ---------------------------------------------------------------------------

FUZZY_MAX_EDIT = 2    # Levenshtein threshold
FUZZY_LEN_BAND = 2    # |len(a)-len(b)| prefilter (implied by the threshold)


@query(
    "part_fuzzy_matches",
    oracle=f"""
    SELECT a.p_brand, a.p_size,
           a.p_partkey AS a_partkey, b.p_partkey AS b_partkey,
           a.p_name AS a_name, b.p_name AS b_name,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE abs(length(a.p_name) - length(b.p_name)) <= {FUZZY_LEN_BAND}
      AND levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_EDIT}
    ORDER BY a_partkey, b_partkey
    """,
)
def part_fuzzy_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity self-join with blocking (the Ed-Join /
    PassJoin family): candidate pairs come from an EQUI-join on the
    blocking key (p_brand, p_size) — never a cross join — then a length
    -band filter (|Δlen| <= {FUZZY_LEN_BAND}, a necessary condition for
    edit distance <= {FUZZY_MAX_EDIT}, evaluated before the O(len²) DP)
    prunes the survivors, and Levenshtein runs last, only on pairs that
    passed both cheap gates. The blocking key DEFINES the match
    semantics: only same-(brand, size) pairs are ever compared, so
    cross-block near-duplicate names are out of scope by design (lossy
    blocking, the deliberate linkage trade-off). The length band, by
    contrast, is PURE pruning — it can never exclude a pair the edit
    threshold would admit (pinned in
    tests/test_dedup.py::test_fuzzy_length_band_is_pure_pruning).

    Scale shape: the blocking key turns an n² string join into a
    shuffle-partitioned equi-join whose per-block fan-out is bounded by
    block size; filter order (equi → length band → DP) is the textbook
    string-similarity-join pruning cascade. At 100 TB the next lever is
    q-gram prefix signatures as additional equi-join keys."""
    part = load_table(spark, sf_dir, "part")
    a = part.alias("a")
    b = part.alias("b")
    lev = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .filter(
            (
                F.abs(
                    F.length(F.col("a.p_name")) - F.length(F.col("b.p_name"))
                )
                <= FUZZY_LEN_BAND
            )
            & (lev <= FUZZY_MAX_EDIT)
        )
        .select(
            F.col("a.p_brand").alias("p_brand"),
            F.col("a.p_size").alias("p_size"),
            F.col("a.p_partkey").alias("a_partkey"),
            F.col("b.p_partkey").alias("b_partkey"),
            F.col("a.p_name").alias("a_name"),
            F.col("b.p_name").alias("b_name"),
            lev.cast("int").alias("edit_dist"),
        )
        .orderBy("a_partkey", "b_partkey")
    )


# ---------------------------------------------------------------------------
# 9. Dedup-method evaluation: precision/recall vs the exact pair list
# ---------------------------------------------------------------------------


def _register_dedup_method_eval() -> None:
    # late-bind: composes the registered oracles of the three blocking
    # methods and the exact truth (same pattern as dedup_rate_by_source)
    from ..registry import all_oracles

    orc = all_oracles()

    @query(
        "dedup_method_eval",
        oracle=f"""
        WITH truth AS (SELECT doc_a, doc_b FROM ({orc["dedup_ngram_jaccard"]}) t),
        mh AS (SELECT doc_a, doc_b FROM ({orc["dedup_minhash_lsh"]}) t),
        sh AS (SELECT doc_a, doc_b FROM ({orc["dedup_simhash"]}) t),
        snm AS (SELECT doc_a, doc_b FROM ({orc["dedup_sorted_neighborhood"]}) t),
        preds AS (
          SELECT 'minhash_lsh' AS method, doc_a, doc_b FROM mh
          UNION ALL SELECT 'simhash', doc_a, doc_b FROM sh
          UNION ALL SELECT 'sorted_neighborhood', doc_a, doc_b FROM snm
        ),
        scored AS (
          SELECT p.method,
                 COUNT(*) AS n_pred,
                 CAST(SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS tp
          FROM preds p
          LEFT JOIN truth t ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b
          GROUP BY p.method
        )
        SELECT method, CAST(n_pred AS BIGINT) AS n_pred,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
               tp,
               round(CAST(tp AS DOUBLE) / n_pred, 4) AS precision,
               round(CAST(tp AS DOUBLE)
                     / (SELECT COUNT(*) FROM truth), 4) AS recall
        FROM scored
        ORDER BY method
        """,
    )
    def dedup_method_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Precision/recall of every pair-emitting blocking family —
        MinHash-LSH, SimHash banding, sorted-neighborhood — against the
        exact shingle-Jaccard pair list, the dedup analogue of
        ``ann_recall_eval``: before trusting a blocking strategy on a
        100 TB corpus you measure what fraction of true near-dup pairs
        its candidate generation reaches (recall) and how much of its
        output is noise (precision). All four pair lists reuse their
        registered queries unchanged — evaluation composes operators.

        Scale shape: every relation here is pair-list-sized (near-dup
        pairs, not corpus rows); the truth list is instantiated ONCE as
        a tagged member of the same union the methods ride (r17, guide
        §2.4 — the ann_recall_eval recipe adapted to a corpus-shaped
        truth): one (doc_a, doc_b) grouped pass computes per-method row
        counts and a truth flag per pair, a single global aggregate
        folds them into conditional sums, and ``stack`` pivots the one
        row back to per-method rows. The old shape instantiated the
        truth pipeline twice (the ``hit`` left-join side + the
        ``n_truth`` count) and paid a join plus a crossJoin on top; the
        heavy lifting — signatures, bands, buckets — rides the same
        warm warehouse stages the composed queries already read.

        Equivalence to the join form: each method's registered output is
        one row per emitted pair, so per (doc_a, doc_b) the conditional
        count of a method's rows is that pair's multiplicity (n_pred =
        its sum), a pair matches truth iff the truth tag appears in its
        group (tp = sum of multiplicity·flag — the left join counted
        exactly the method rows whose pair had a truth row), and truth's
        pair list is distinct by construction (it ends in a (doc_a,
        doc_b) groupBy), so n_truth = sum of flags."""
        truth = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
        methods = {
            "minhash_lsh": dedup_minhash_lsh(spark, sf_dir),
            "simhash": dedup_simhash(spark, sf_dir),
            "sorted_neighborhood": dedup_sorted_neighborhood(spark, sf_dir),
        }
        tagged = truth.select(
            F.lit("__truth__").alias("method"), "doc_a", "doc_b"
        )
        for name, df in methods.items():
            tagged = tagged.unionByName(
                df.select(F.lit(name).alias("method"), "doc_a", "doc_b")
            )

        def _cnt(name: str) -> F.Column:
            return F.sum(F.when(F.col("method") == name, 1).otherwise(0))

        per_pair = tagged.groupBy("doc_a", "doc_b").agg(
            *[_cnt(m).alias(f"c_{i}") for i, m in enumerate(methods)],
            F.max(F.when(F.col("method") == "__truth__", 1).otherwise(0)).alias(
                "t"
            ),
        )
        folded = per_pair.agg(
            *[
                c
                for i in range(len(methods))
                for c in (
                    F.sum(f"c_{i}").cast("bigint").alias(f"np_{i}"),
                    F.sum(F.col(f"c_{i}") * F.col("t"))
                    .cast("bigint")
                    .alias(f"tp_{i}"),
                )
            ],
            F.sum("t").cast("bigint").alias("n_truth"),
        )
        stack_args = ", ".join(
            f"'{m}', np_{i}, tp_{i}" for i, m in enumerate(methods)
        )
        return (
            folded.selectExpr(
                f"stack({len(methods)}, {stack_args}) AS (method, n_pred, tp)",
                "n_truth",
            )
            .select(
                "method",
                "n_pred",
                "n_truth",
                "tp",
                F.round(F.col("tp").cast("double") / F.col("n_pred"), 4).alias(
                    "precision"
                ),
                F.round(F.col("tp").cast("double") / F.col("n_truth"), 4).alias(
                    "recall"
                ),
            )
            .orderBy("method")
        )


_register_dedup_method_eval()
