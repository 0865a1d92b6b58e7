"""Vector column expressions (SURVEY §2.8 F9–F10).

The reference scores vectors with a per-row Python ``np.dot`` loop over
``fetchall()`` rows (reference: tools.py:76-86, agent.py:107-119,
backend/retrieval.py:64-65). Here the dot product is a pure Catalyst
expression — ``zip_with`` + ``aggregate`` — so scoring stays JVM-side
inside whole-stage codegen, with zero Python boundary crossings. At 100 TB
this is the difference between a distributed columnar scan and a driver
bottleneck.

All folds are sequential left-to-right over the array, so results are
deterministic for a given row (no partition-order dependence).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column | str, b: Column | str) -> Column:
    """Element-wise product folded to a sum; arrays cast to double first.

    Equivalent of the reference's ``float(np.dot(query_vec, emb))``
    (tools.py:78) as a codegen'd expression.
    """
    a = F.col(a).cast("array<double>") if isinstance(a, str) else a.cast("array<double>")
    b = F.col(b).cast("array<double>") if isinstance(b, str) else b.cast("array<double>")
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    """sqrt(sum(x^2)) — used to verify the write-time normalization
    invariant (reference: data/ingestion.py:263 normalize_embeddings=True)."""
    c = F.col(a) if isinstance(a, str) else a
    return F.sqrt(dot(c, c))


def l2_normalize(a: Column | str) -> Column:
    """Divide every component by the L2 norm (null-safe for zero vectors).

    Keeps the reference's "normalize at write" invariant
    (data/ingestion.py:263) so cosine reduces to a dot product at read.
    """
    c = F.col(a) if isinstance(a, str) else a
    c = c.cast("array<double>")
    n = l2_norm(c)
    return F.when(n > 0, F.transform(c, lambda x: x / n)).otherwise(c)


def cosine_score(emb: Column | str, qvec: Column | str, decimals: int = 4) -> Column:
    """Rounded cosine score for L2-normalized vectors.

    The reference rounds retrieval scores to 4 decimals (tools.py:85);
    rounding also absorbs any sub-ULP fold-order differences so scores are
    stable for hash-checking (SURVEY §4.4 determinism notes).
    """
    return F.round(dot(emb, qvec), decimals)


def cosine_score_const(emb: str, qvec: Sequence[float], decimals: int = 4) -> Column:
    """``cosine_score`` of column ``emb`` against a constant query vector,
    written as one SQL expression: the fold, casts and rounding are the
    same, so scores are bit-identical, but the plan is built in one
    parser call instead of one py4j call per component. The query is
    rounded through FLOAT like the embedding columns it is compared
    with; each component is an exact ``D``-suffixed double literal
    (``repr`` round-trips a double)."""
    lits = ", ".join(f"{float(x)!r}D" for x in qvec)
    return F.expr(
        f"round(aggregate(zip_with(CAST({emb} AS ARRAY<DOUBLE>), "
        f"CAST(CAST(array({lits}) AS ARRAY<FLOAT>) AS ARRAY<DOUBLE>), "
        f"(x, y) -> x * y), 0.0D, (acc, x) -> acc + x), {decimals})"
    )
