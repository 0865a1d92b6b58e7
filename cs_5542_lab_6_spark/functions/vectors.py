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


def cosine_score(
    emb: Column | str, qvec: Column | str | Sequence[float], decimals: int = 4
) -> Column:
    """Rounded cosine score for L2-normalized vectors.

    The reference rounds retrieval scores to 4 decimals (tools.py:85);
    rounding also absorbs any sub-ULP fold-order differences so scores are
    stable for hash-checking (SURVEY §4.4 determinism notes).

    ``qvec`` is a vector column or a constant query vector. A constant is
    built as one literal, rounded through FLOAT like the stored embedding
    columns it is compared with: the components' ``repr`` (which
    round-trips a double) comma-joined, split and cast. Catalyst folds
    that to an array literal, and the plan takes the same few py4j calls
    whatever the dimension, not one per component.
    """
    if not isinstance(qvec, (Column, str)):
        text = ",".join(repr(float(x)) for x in qvec)
        qvec = F.split(F.lit(text), ",").cast("array<double>").cast("array<float>")
    return F.round(dot(emb, qvec), decimals)
