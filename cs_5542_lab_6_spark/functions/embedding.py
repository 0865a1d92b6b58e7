"""Deterministic hash-projection embedder (M2/M3 substitute).

The reference embeds chunks with a SentenceTransformer in batches of 64
(data/ingestion.py:238-277) and the query with the same model driver-side
(tools.py:63-64). The engine keeps both shapes with a deterministic
substitute that has the identical contract — fixed dim, L2-normalized,
text-sensitive (SURVEY §4.3-2):

- ``embed_text_udf`` — Arrow-batched ``pandas_udf``: token hashes via
  sha256 (executor-local, no model download), then one vectorized numpy
  projection ``mᵢ = (h·Aᵢ + Bᵢ) mod P`` summed over tokens. This is
  the real M2 execution shape: per-executor batch inference, columnar
  transfer, no per-row Python. A real sentence-transformer drops into
  ``_embed_one``'s slot with a lazy executor-local model global.
- ``embed_query`` — the driver-side replica (M3): byte-for-byte the same
  arithmetic, so a query vector literal matches what the executors
  produce for identical text.
- ``duck_embedding_cte`` — the DuckDB twin: the arithmetic is *exact
  integer* until two final IEEE ops, so the oracle reproduces the
  embedding bit-for-bit and embedder-dependent queries stay value-hash
  checkable (SURVEY §4.3 item 2).

Exactness scheme (order-independent, hence engine-independent):
every per-(token,dim) value mᵢ is an integer < P; the per-dim token sum
Sᵢ and the centered numerator Nᵢ = 2·Sᵢ − count·P are exact int64; the
squared norm Σ Nᵢ² is an exact Python int / DuckDB HUGEINT. The only
float ops are one int→double conversion + sqrt + divide — identical
IEEE-754 in numpy and DuckDB. (An earlier variant summed doubles
per token; numpy's pairwise summation vs SQL's fold order made
bit-exact parity impossible.)

An earlier pure-Catalyst version (aggregate/transform lambdas) was
correct but interpreted per (token × dim) — higher-order functions do not
enter whole-stage codegen, and at sf0.1 the flagship query timed out.
The vectorized UDF embeds the same corpus in seconds.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

EMBED_DIM = 64  # matches the fixture embedding dimensionality
_P = 2_147_483_647

# Fixed projection parameters (independent of corpus — the "model").
_A = np.array([(104729 * (i + 1)) % _P for i in range(EMBED_DIM)], dtype=np.int64)
_B = np.array([(15485863 * (i + 1)) % _P for i in range(EMBED_DIM)], dtype=np.int64)


def _token_h(tok: str) -> int:
    """31-bit sha256-derived token hash: the 60-bit scheme of
    text.token_hash60 reduced mod P, so h·Aᵢ + Bᵢ < 2⁶² — exact in
    int64 (numpy) and BIGINT (DuckDB) alike, no wraparound emulation."""
    return (int.from_bytes(hashlib.sha256(tok.encode()).digest()[:8], "big") >> 4) % _P


def _embed_numerator(text: str, cache: dict[str, int]) -> np.ndarray:
    """The exact-integer centered numerator Nᵢ = 2·Sᵢ − count·P (int64).
    N fully determines the final embedding (embedding = N / √ΣN²), so it
    doubles as a formatting-safe cross-engine signature of the vector."""
    toks = text.lower().split()
    if not toks:
        return np.zeros(EMBED_DIM, dtype=np.int64)
    hs = np.fromiter(
        (cache.get(t) or cache.setdefault(t, _token_h(t)) for t in toks),
        dtype=np.int64,
        count=len(toks),
    )
    m = (hs[:, None] * _A[None, :] + _B[None, :]) % _P
    return 2 * m.sum(axis=0) - len(toks) * _P


def _embed_one(text: str, cache: dict[str, int]) -> np.ndarray:
    # Exact-integer accumulation (see module docstring): N ∝ the centered
    # sum Σ(m/P − ½); norm² in exact Python ints (N² would overflow int64).
    n = _embed_numerator(text, cache)
    norm2 = float(sum(int(x) * int(x) for x in n))
    return n / math.sqrt(norm2) if norm2 > 0 else np.zeros(EMBED_DIM)


# ---------------------------------------------------------------------------
# Real-model seam (M2 contract, data/ingestion.py:238-277)
# ---------------------------------------------------------------------------
#
# The reference encodes with a SentenceTransformer in batches of 64; the
# engine's default is the deterministic hash projection above so the
# corpus stays oracle-checkable. Setting $SPARK_GRAFT_EMBED_MODEL swaps a
# real encoder into the SAME pandas-UDF slot — executor-local lazy
# singleton (M6, tools.py:32-38), batch inference, L2-normalized output:
#
# - a sentence-transformers model name loads through that library;
# - a local ``.npz`` artifact path loads a linear hash-bucket projection
#   from disk (``weights`` matrix of shape (n_buckets, dim)) — a real
#   from-file model load exercising the exact non-fake branch (file I/O,
#   per-worker lazy init, batch matmul) with zero network dependency.
#
# Real-model mode is intentionally NOT oracle-checkable (the DuckDB twin
# mirrors the hash arithmetic); correctness runs leave the env unset.

EMBED_MODEL_ENV = "SPARK_GRAFT_EMBED_MODEL"

# executor-local lazy encoder singleton, keyed by the env value so a
# config change re-resolves (matters under spark.python.worker.reuse,
# where a worker may outlive the configuration that initialized it)
_ENCODER = None
_ENCODER_KEY: str | None = None


def _load_artifact_encoder(path: str):
    """Encoder loaded from a local .npz artifact: tokens hash into
    ``n_buckets`` rows of a projection matrix, summed per text, then
    L2-normalized — the SentenceTransformer contract (fixed dim, unit
    norm, batch in / matrix out) with a deterministic on-disk model."""
    data = np.load(path)
    weights = np.asarray(data["weights"], dtype=np.float64)
    n_buckets, dim = weights.shape

    def encode(texts: list[str]) -> np.ndarray:
        out = np.zeros((len(texts), dim))
        for i, t in enumerate(texts):
            toks = (t or "").lower().split()
            if not toks:
                continue
            rows = np.fromiter(
                (_token_h(tok) % n_buckets for tok in toks),
                dtype=np.int64,
                count=len(toks),
            )
            vec = weights[rows].sum(axis=0)
            nrm = np.linalg.norm(vec)
            out[i] = vec / nrm if nrm > 0 else vec
        return out

    return encode


def _load_real_encoder():
    """Real encoder when $SPARK_GRAFT_EMBED_MODEL is set; None otherwise
    (and the hash projection stays in charge). A path to a ``.npz``
    file loads the from-disk artifact encoder; any other value
    is treated as a sentence-transformers model name; a missing ``.npz``
    path raises ``FileNotFoundError``."""
    name = os.environ.get(EMBED_MODEL_ENV)
    if not name:
        return None
    if name.endswith(".npz"):
        if not os.path.exists(name):
            raise FileNotFoundError(
                f"{EMBED_MODEL_ENV} points to a missing artifact: {name}"
            )
        return _load_artifact_encoder(name)
    from sentence_transformers import SentenceTransformer  # lazy heavy import

    model = SentenceTransformer(name)

    def encode(texts: list[str]) -> np.ndarray:
        mat = np.asarray(
            model.encode(list(texts), batch_size=64, normalize_embeddings=True),
            dtype=np.float64,
        )
        assert mat.ndim == 2, "encoder must return one fixed-dim vector per text"
        return mat

    return encode


def _hash_encode(texts: list[str]) -> np.ndarray:
    """Default deterministic encoder: the exact-integer hash projection.
    A per-batch token-hash cache plays the role of the model singleton."""
    cache: dict[str, int] = {}
    if not texts:
        return np.zeros((0, EMBED_DIM))
    return np.stack([_embed_one(t or "", cache) for t in texts])


def _get_encoder():
    """Executor-local lazy init (M6): resolved once per Python worker
    per configuration — re-resolved only if the env key changes."""
    global _ENCODER, _ENCODER_KEY
    key = os.environ.get(EMBED_MODEL_ENV, "")
    if _ENCODER is None or key != _ENCODER_KEY:
        _ENCODER = _load_real_encoder() or _hash_encode
        _ENCODER_KEY = key
    return _ENCODER


# explicit DataType (a DDL string would need an active SparkSession at
# import time)
@pandas_udf(T.ArrayType(T.DoubleType()))
def embed_text_udf(texts: pd.Series) -> pd.Series:
    """Batch embedding (M2): one vectorized projection (or real-model
    batch inference — see the seam above) per Arrow batch."""
    mat = _get_encoder()(list(texts))
    return pd.Series([list(row) for row in mat], index=texts.index)


def embed_text(col: Column | str) -> Column:
    """Embedding column with the M2 contract: {EMBED_DIM}-dim, L2-normalized,
    deterministic. Cast to float to match the fixture embedding type."""
    c = F.col(col) if isinstance(col, str) else col
    return embed_text_udf(c).cast("array<float>")


@pandas_udf(T.StringType())
def embed_signature_udf(texts: pd.Series) -> pd.Series:
    """Comma-joined int64 numerator vector per text — an exact-integer,
    formatting-safe serialization of the embedding for driver hash checks
    (array columns crash the driver's canonicalizer; float→string
    formatting differs across engines; int64→string does not)."""
    cache: dict[str, int] = {}
    return texts.map(
        lambda t: ",".join(str(int(x)) for x in _embed_numerator(t or "", cache))
    )


def embed_signature(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return embed_signature_udf(c)


def duck_embedding_sig_cte() -> str:
    """DuckDB twin of ``embed_signature`` — appends an ``emb_sig`` CTE to
    ``duck_embedding_cte`` (requires its ``emb_sums`` CTE in scope)."""
    return """
emb_sig AS (
  SELECT chunk_id,
         string_agg(CAST(n AS VARCHAR), ',' ORDER BY i) AS embedding_sig
  FROM emb_sums GROUP BY chunk_id
)
"""


def embed_query(text: str) -> list[float]:
    """Driver-side query embedding (M3, tools.py:63-64): the same encoder
    the executors use (real model when the seam is active, hash projection
    otherwise — query and corpus must always share one model), returned as
    a plain list for use as a broadcast literal."""
    return [float(x) for x in _get_encoder()([text])[0]]


def embed_query_f32(text: str) -> list[float]:
    """``embed_query`` rounded through float32 — the exact values the
    engine compares against, since embedding columns and query-vector
    literals are cast to ``array<float>``. Use for oracle SQL literals."""
    return [float(x) for x in np.array(embed_query(text), dtype=np.float32)]


def duck_qvec_sql(text: str) -> str:
    """The query vector as a DuckDB ``DOUBLE[]`` literal (float32-rounded
    like the Spark side; ``repr`` round-trips each double exactly)."""
    return "[" + ", ".join(repr(x) for x in embed_query_f32(text)) + "]::DOUBLE[]"


def duck_embedding_cte() -> str:
    """DuckDB twin of ``embed_text``: CTE chain ending in
    ``emb(chunk_id, embedding FLOAT[])``, bit-identical to the pandas UDF
    (verified in tests/test_oracle_parity.py via the embedder queries).
    Rows of ``chunks`` must have ≥1 token — the zero-vector branch has no
    SQL twin (never exercised: chunks are min-words filtered)."""
    return f"""
emb_toks AS (
  SELECT chunk_id,
         unnest(regexp_split_to_array(
           regexp_replace(lower(text_content), '^\\s+|\\s+$', '', 'g'), '\\s+')) AS tok
  FROM chunks
),
emb_h AS (
  SELECT chunk_id,
         CAST(concat('0x', substr(sha256(tok), 1, 15)) AS BIGINT) % {_P} AS h31
  FROM emb_toks
),
emb_dims AS (
  SELECT chunk_id, i,
         (104729 * (i + 1)) % {_P} AS a,
         (15485863 * (i + 1)) % {_P} AS b,
         h31
  FROM emb_h, (SELECT unnest(range(0, {EMBED_DIM})) AS i) dims
),
emb_sums AS (
  SELECT chunk_id, i,
         CAST(2 * SUM((h31 * a + b) % {_P}) - COUNT(*) * {_P} AS BIGINT) AS n
  FROM emb_dims GROUP BY chunk_id, i
),
emb_norm AS (
  SELECT chunk_id, sqrt(CAST(SUM(CAST(n AS HUGEINT) * n) AS DOUBLE)) AS nrm
  FROM emb_sums GROUP BY chunk_id
),
emb AS (
  SELECT s.chunk_id,
         array_agg(CAST(CAST(n AS DOUBLE) / nrm AS FLOAT) ORDER BY i) AS embedding
  FROM emb_sums s JOIN emb_norm USING (chunk_id)
  GROUP BY s.chunk_id
)
"""
