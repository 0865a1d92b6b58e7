"""Property-based tests (hypothesis) for the engine's pure column
expressions — the functions every operator composes.

Each property evaluates a whole generated BATCH per example through one
Spark job (per-row jobs would make hypothesis unusably slow) and
compares against an exact Python replica:

- hashes / splits: integer-exact (sha256-derived on both sides);
- vector folds: bit-exact — ``F.aggregate`` folds left-to-right, so a
  sequential Python accumulation reproduces the identical IEEE result;
- text: the ASCII contract the DuckDB twins mirror (Java's ``\\s`` is
  ASCII-only, so the documented ``str.split()`` equivalence is scoped to
  ASCII whitespace — exactly what the fixtures contain).
"""

from __future__ import annotations

import hashlib
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql import types as T

from cs_5542_lab_6_spark.functions.text import (
    HASH_P,
    clean_text,
    normalize_entity,
    normalize_entity_py,
    token_hash,
    token_hash60,
    words,
)
from cs_5542_lab_6_spark.functions.vectors import dot, l2_normalize
from cs_5542_lab_6_spark.operators.dedup import SHINGLE_K, shingle_array
from cs_5542_lab_6_spark.operators.ranking import (
    SPLIT_BUCKETS,
    TRAIN_UPPER,
    VALID_UPPER,
    split_assignment,
)

PROP = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

# ASCII printable + the ASCII whitespace Java's \s covers.
_ASCII = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E) | st.sampled_from(" \t\n\r\f\x0b"),
    max_size=60,
)
# Unicode minus surrogates (sha256 hashes the UTF-8 bytes on both sides).
_UNICODE = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40
)


def _eval_batch(spark, values, expr, out_type):
    """Evaluate ``expr`` over a one-column batch, order-preserving."""
    schema = T.StructType(
        [T.StructField("i", T.IntegerType()), T.StructField("v", T.StringType())]
    )
    df = spark.createDataFrame(list(enumerate(values)), schema)
    rows = df.select("i", expr.alias("out")).collect()
    return [r["out"] for r in sorted(rows, key=lambda r: r["i"])]


def _py_words(t: str) -> list[str]:
    t = re.sub(r"^\s+|\s+$", "", t, flags=re.ASCII)
    return [] if t == "" else re.split(r"\s+", t, flags=re.ASCII)


@PROP
@given(st.lists(_ASCII, min_size=1, max_size=25))
def test_words_matches_ascii_split(spark, texts):
    got = _eval_batch(spark, texts, words(F.col("v")), "array<string>")
    assert got == [_py_words(t) for t in texts]


@PROP
@given(st.lists(_ASCII, min_size=1, max_size=25))
def test_normalize_entity_matches_python_replica(spark, texts):
    got = _eval_batch(spark, texts, normalize_entity(F.col("v")), "string")
    assert got == [normalize_entity_py(t) for t in texts]


def _py_token_hash60(t: str) -> int:
    return int(hashlib.sha256(t.encode("utf-8")).hexdigest()[:15], 16)


@PROP
@given(st.lists(_UNICODE, min_size=1, max_size=25))
def test_token_hashes_match_sha256_replica(spark, texts):
    got60 = _eval_batch(spark, texts, token_hash60(F.col("v")), "long")
    got31 = _eval_batch(spark, texts, token_hash(F.col("v")), "long")
    exp60 = [_py_token_hash60(t) for t in texts]
    assert got60 == exp60
    assert got31 == [h % HASH_P for h in exp60]


@PROP
@given(st.lists(_ASCII, min_size=1, max_size=15))
def test_clean_text_idempotent_and_canonical(spark, texts):
    once = _eval_batch(spark, texts, clean_text(F.col("v")), "string")
    twice = _eval_batch(spark, once, clean_text(F.col("v")), "string")
    assert once == twice
    for t in once:
        assert "  " not in t
        assert t == t.strip()


@PROP
@given(st.lists(_ASCII, min_size=1, max_size=15))
def test_shingle_array_matches_python_replica(spark, texts):
    got = _eval_batch(
        spark, texts, shingle_array(words(F.lower(F.col("v")))), "array<string>"
    )
    for t, g in zip(texts, got):
        w = _py_words(t.lower())
        grams = [" ".join(w[i : i + SHINGLE_K]) for i in range(len(w) - SHINGLE_K + 1)]
        assert g == list(dict.fromkeys(grams))  # distinct, first-occurrence order


def _py_split(doc_id: int) -> str:
    b = _py_token_hash60(f"split|{doc_id}") % SPLIT_BUCKETS
    return "train" if b < TRAIN_UPPER else ("valid" if b < VALID_UPPER else "test")


@PROP
@given(st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=30))
def test_split_assignment_matches_python_replica(spark, ids):
    schema = T.StructType(
        [T.StructField("i", T.IntegerType()), T.StructField("doc_id", T.LongType())]
    )
    df = spark.createDataFrame(list(enumerate(ids)), schema)
    rows = df.select("i", split_assignment("doc_id").alias("s")).collect()
    got = [r["s"] for r in sorted(rows, key=lambda r: r["i"])]
    assert got == [_py_split(i) for i in ids]


_VEC = st.lists(
    st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False, width=64
    ),
    min_size=1,
    max_size=8,
)


@PROP
@given(st.lists(st.tuples(_VEC, _VEC), min_size=1, max_size=10))
def test_dot_and_normalize_bit_exact_vs_sequential_fold(spark, pairs):
    # equal lengths per pair (zip_with pads with null otherwise)
    pairs = [(a[: len(b)], b[: len(a)]) for a, b in pairs]
    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("a", T.ArrayType(T.DoubleType())),
            T.StructField("b", T.ArrayType(T.DoubleType())),
        ]
    )
    df = spark.createDataFrame([(i, a, b) for i, (a, b) in enumerate(pairs)], schema)
    rows = df.select(
        "i",
        dot(F.col("a"), F.col("b")).alias("d"),
        l2_normalize(F.col("a")).alias("n"),
    ).collect()
    rows = sorted(rows, key=lambda r: r["i"])
    for (a, b), r in zip(pairs, rows):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x * y)  # same left-to-right IEEE order as F.aggregate
        assert r["d"] == acc
        import math

        sq = 0.0
        for x in a:
            sq = sq + (x * x)
        # math.sqrt, NOT sq**0.5: pow(x, 0.5) is not correctly rounded
        # (Hypothesis found a 1-ulp divergence at [1.1, 2.00001, 1e-05]);
        # IEEE-754 sqrt is, and the JVM's F.sqrt matches it bit-for-bit
        nrm = math.sqrt(sq)
        expected = [x / nrm for x in a] if nrm > 0 else list(a)
        assert r["n"] == expected


def _py_shingles(t: str) -> list[str]:
    w = _py_words(t.lower())
    grams = [" ".join(w[i : i + SHINGLE_K]) for i in range(len(w) - SHINGLE_K + 1)]
    return list(dict.fromkeys(grams))


@PROP
@given(st.lists(_ASCII, min_size=1, max_size=10))
def test_minhash_signature_matches_python_replica(spark, texts):
    """The full MinHash pipeline (tokenize → shingle → 31-bit sha hash →
    universal-hash permutations → per-perm min) is integer-exact against
    a from-scratch Python replica — the property that keeps the dedup
    family's signatures oracle-checkable."""
    from cs_5542_lab_6_spark.operators.dedup import _MH_A, _MH_B, MINHASH_PERMS

    schema = T.StructType(
        [T.StructField("doc_id", T.IntegerType()), T.StructField("text", T.StringType())]
    )
    df = spark.createDataFrame(list(enumerate(texts)), schema)
    sh = df.select(
        "doc_id", F.explode(shingle_array(words(F.lower(F.col("text"))))).alias("s")
    ).select("doc_id", token_hash(F.col("s")).alias("xs")).distinct()
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min((F.lit(_MH_A[i]) * F.col("xs") + F.lit(_MH_B[i])) % HASH_P).alias(f"h{i}")
            for i in range(MINHASH_PERMS)
        ]
    )
    got = {r["doc_id"]: [r[f"h{i}"] for i in range(MINHASH_PERMS)] for r in sig.collect()}

    for doc_id, t in enumerate(texts):
        hashes = {(_py_token_hash60(s) % HASH_P) for s in _py_shingles(t)}
        if not hashes:
            assert doc_id not in got  # shingle-less docs emit no signature row
            continue
        expected = [
            min((_MH_A[i] * x + _MH_B[i]) % HASH_P for x in hashes)
            for i in range(MINHASH_PERMS)
        ]
        assert got[doc_id] == expected, doc_id


@PROP
@given(st.lists(_ASCII, min_size=1, max_size=8))
def test_simhash_signature_matches_python_replica(spark, texts):
    """The SimHash pipeline (per-occurrence token hash → 60 signed
    bit-sums → sign threshold) is integer-exact vs a Python replica —
    including the tf weighting (per-OCCURRENCE sums, not per-distinct-
    token) and the strict s > 0 sign rule for zero-sum bits."""
    from cs_5542_lab_6_spark.functions.text import token_hash60
    from cs_5542_lab_6_spark.operators.dedup import SIMHASH_BITS

    schema = T.StructType(
        [T.StructField("doc_id", T.IntegerType()), T.StructField("text", T.StringType())]
    )
    df = spark.createDataFrame(list(enumerate(texts)), schema)
    occ = (
        df.filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.explode(words(F.lower(F.col("text")))).alias("token"))
        .withColumn("x", token_hash60("token"))
    )
    bit_sums = occ.groupBy("doc_id").agg(
        *[
            F.sum(2 * F.expr(f"(x >> {b}) & 1") - 1).alias(f"s{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sig = bit_sums.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long"))
                .otherwise(F.lit(0).cast("long"))
                for b in range(SIMHASH_BITS)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    got = {r["doc_id"]: r["simhash"] for r in sig.collect()}

    for doc_id, t in enumerate(texts):
        toks = _py_words(t.lower())
        if not toks:
            assert doc_id not in got
            continue
        sums = [0] * SIMHASH_BITS
        for tok in toks:  # per occurrence — tf weighting folds in
            x = _py_token_hash60(tok)
            for b in range(SIMHASH_BITS):
                sums[b] += 1 if (x >> b) & 1 else -1
        expected = sum(1 << b for b in range(SIMHASH_BITS) if sums[b] > 0)
        assert got[doc_id] == expected, doc_id


# ---------------------------------------------------------------------------
# BM25 ordered-sum scoring vs a pure-Python replica (VERDICT r5 item 8)
# ---------------------------------------------------------------------------

_BM25_VOCAB = ("spark", "join", "performance", "alpha", "beta", "gamma", "the")
_BM25_QTERMS = ("spark", "join", "performance")
_DOC = st.lists(st.sampled_from(_BM25_VOCAB), min_size=1, max_size=30).map(" ".join)


def _py_bm25(texts: list[str], qterms: tuple[str, ...]):
    """Exact replica of bm25_scored_terms + bm25_totals: integer tf/df/dl,
    double idf/denominator in the same expression order, and the per-doc
    total folded in sorted-term order — the bit-exactness contract the
    oracle's SUM(s ORDER BY term) relies on."""
    import math

    from cs_5542_lab_6_spark.operators.ranking import BM25_B, BM25_K1

    toks = {i: t.lower().split() for i, t in enumerate(texts)}
    dl = {i: len(ws) for i, ws in toks.items()}
    n_docs = len(texts)
    avgdl = sum(dl.values()) / n_docs  # Spark AVG over doubles, same fold? see note
    tf = {}
    for i, ws in toks.items():
        for w in ws:
            if w in qterms:
                tf[(i, w)] = tf.get((i, w), 0) + 1
    df = {}
    for (_, w) in tf:
        df[w] = df.get(w, 0) + 1
    s = {}
    for (i, w), f in tf.items():
        idf = math.log((n_docs - df[w] + 0.5) / (df[w] + 0.5) + 1.0)
        denom = f + BM25_K1 * (1.0 - BM25_B + BM25_B * dl[i] / avgdl)
        s[(i, w)] = idf * (f * (BM25_K1 + 1.0)) / denom
    totals = {}
    for i in {i for (i, _) in s}:
        acc = 0.0
        for w in sorted(w for (j, w) in s if j == i):
            acc = acc + s[(i, w)]
        totals[i] = (acc, sum(1 for (j, _) in s if j == i))
    return s, totals


@PROP
@given(st.lists(_DOC, min_size=1, max_size=12))
def test_bm25_scoring_matches_python_replica(spark, texts):
    """Three layers, strongest guarantee each can honestly carry:

    1. term/doc coverage exact, and per-term ``s`` within a few ulp of
       the replica — NOT bit-exact, because the transcendental differs:
       measured JVM ``Math.log(1.6)`` = 0.4700036292457356 vs glibc
       0.47000362924573563 (1 ulp). Everything around the log (tf, df,
       dl, avgdl, the rational expression) IS the same IEEE sequence.
    2. the ordered per-doc fold is BIT-exact: a sequential Python
       left-fold over Spark's own per-term values, in sorted-term
       order, reproduces Spark's aggregate — the exactness contract the
       DuckDB oracle's SUM(s ORDER BY term) relies on, isolated from
       libm.
    3. n_terms_hit exact."""
    import math

    from cs_5542_lab_6_spark.operators.ranking import bm25_scored_terms, bm25_totals

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    scored = bm25_scored_terms(spark, docs, _BM25_QTERMS)
    got_terms = {
        (r["doc_id"], r["term"]): r["s"] for r in scored.collect()
    }
    got_totals = {
        r["doc_id"]: (r["score"], r["n_terms_hit"])
        for r in bm25_totals(scored).collect()
    }
    want_terms, want_totals = _py_bm25(texts, _BM25_QTERMS)

    assert got_terms.keys() == want_terms.keys()
    for k in want_terms:
        assert math.isclose(got_terms[k], want_terms[k], rel_tol=5e-15), (
            k, got_terms[k], want_terms[k]
        )
    assert got_totals.keys() == want_totals.keys()
    for doc_id, (_, want_hits) in want_totals.items():
        acc = 0.0
        for term in sorted(t for (d, t) in got_terms if d == doc_id):
            acc = acc + got_terms[(doc_id, term)]
        got_score, got_hits = got_totals[doc_id]
        assert got_score == acc, (doc_id, got_score, acc)  # bit-exact fold
        assert got_hits == want_hits


# ---------------------------------------------------------------------------
# PageRank fixed-point iteration vs a pure-Python replica (VERDICT r5 item 8)
# ---------------------------------------------------------------------------

_EDGE = st.tuples(
    st.integers(min_value=0, max_value=9), st.integers(min_value=0, max_value=9)
).filter(lambda e: e[0] != e[1])


def _py_pagerank(edges: set[tuple[int, int]], nodes: set[int], iters: int):
    """Integer replica of pagerank_fixed_point: rank//deg contributions,
    damping as BASE + (85*s)//100 — all non-negative, so Python floor
    division == Spark/DuckDB truncating div."""
    from cs_5542_lab_6_spark.pipeline.corpus import PR_SCALE, _PR_BASE

    deg = {}
    for (u, _) in edges:
        deg[u] = deg.get(u, 0) + 1
    rank = {n: PR_SCALE for n in nodes}
    for _ in range(iters):
        contrib = {}
        for (u, v) in edges:
            contrib[v] = contrib.get(v, 0) + rank[u] // deg[u]
        rank = {n: _PR_BASE + (85 * contrib.get(n, 0)) // 100 for n in nodes}
    return rank, deg


@PROP
@given(
    st.sets(_EDGE, min_size=0, max_size=40),
    st.integers(min_value=1, max_value=3),
)
def test_pagerank_fixed_point_matches_python_replica(spark, edges, iters):
    """Every node's rank after K rounds is integer-identical to the
    replica — including dangling nodes (out-degree 0, hold base rank)
    and isolated nodes (never appear in the adjacency)."""
    from pyspark.sql import types as PT

    from cs_5542_lab_6_spark.pipeline.corpus import pagerank_fixed_point

    nodes = {n for e in edges for n in e} | {90, 91}  # 2 always-isolated nodes
    adj_schema = PT.StructType(
        [PT.StructField("src", PT.LongType()), PT.StructField("dst", PT.LongType())]
    )
    adj = spark.createDataFrame(sorted(edges), adj_schema)
    nodes_df = spark.createDataFrame(
        [(n,) for n in sorted(nodes)], "node_id long"
    )
    ranks, deg = pagerank_fixed_point(adj, nodes_df, iters)
    got = {r["node_id"]: r["rank"] for r in ranks.collect()}
    got_deg = {r["src"]: r["deg"] for r in deg.collect()}
    want, want_deg = _py_pagerank(edges, nodes, iters)
    assert got == want
    assert got_deg == want_deg


# ---------------------------------------------------------------------------
# Star-contraction connected components vs a union-find replica
# ---------------------------------------------------------------------------

_CC_EDGE = st.tuples(
    st.integers(min_value=0, max_value=19), st.integers(min_value=0, max_value=19)
).filter(lambda e: e[0] != e[1])


def _py_components(edges: set[tuple[int, int]]) -> dict[int, int]:
    """Union-find ground truth: node -> min id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in {x for e in edges for x in e}}


@PROP
@given(st.sets(_CC_EDGE, min_size=1, max_size=60))
def test_star_components_match_union_find(spark, edges):
    """Alternating large-star/small-star contraction labels every node
    with its component's minimum id — exactly, on arbitrary graphs
    (chains, cliques, self-symmetric duplicates after canonicalization),
    not just the shallow fixture components."""
    from cs_5542_lab_6_spark.operators.dedup import star_components

    df = spark.createDataFrame(sorted(edges), "s long, d long")
    got = {r["node"]: r["lbl"] for r in star_components(df).collect()}
    assert got == _py_components(edges)


# ---------------------------------------------------------------------------
# Bigram-LM perplexity pipeline vs a pure-Python replica
# ---------------------------------------------------------------------------

_LM_DOC = st.lists(
    st.sampled_from(("alpha", "beta", "gamma", "delta", "the")),
    min_size=0,
    max_size=12,
).map(" ".join)


def _py_lm(texts):
    """Replica of doc_lm_perplexity's count layer + ordered nll fold."""
    import math

    from cs_5542_lab_6_spark.operators.textstats import LM_ADD_K

    toks = {i: t.lower().split() for i, t in enumerate(texts)}
    bigrams = {
        i: list(zip(ws, ws[1:])) for i, ws in toks.items() if len(ws) >= 2
    }
    c2: dict = {}
    for bgs in bigrams.values():
        for b in bgs:
            c2[b] = c2.get(b, 0) + 1
    c1: dict = {}
    for (w1, _), n in c2.items():
        c1[w1] = c1.get(w1, 0) + n
    vocab = {w for ws in toks.values() for w in ws}
    v = len(vocab)
    out = {}
    for i, bgs in bigrams.items():
        acc = 0.0
        for b in bgs:  # position order IS list order
            p = (c2[b] + LM_ADD_K) / (c1[b[0]] + LM_ADD_K * v)
            acc = acc + -math.log(p)
        out[i] = (len(bgs), acc)
    return out


@PROP
@given(st.lists(_LM_DOC, min_size=1, max_size=10))
def test_lm_perplexity_counts_and_fold_match_replica(spark, texts):
    """The LM count layer (c2 / rolled-up c1 / vocab) is integer-exact
    and the per-doc position-ordered nll fold matches the replica to
    float equality on the rounded surface (log ulps bounded well below
    the 4-digit rounding, as in the BM25 suite)."""
    from pyspark.sql import functions as PF

    from cs_5542_lab_6_spark.operators.textstats import doc_lm_perplexity

    # route the generated docs through the real query by materializing a
    # one-table sf dir — the query reads documents.parquet from sf_dir
    import tempfile

    d = tempfile.mkdtemp()
    spark.createDataFrame(
        [(i, t, "en", "srcX", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_nll"], r["ppl"])
        for r in doc_lm_perplexity(spark, d).collect()
    }
    want = _py_lm(texts)
    assert got.keys() == want.keys()
    for i, (nb, total) in want.items():
        import math

        gnb, gavg, gppl = got[i]
        assert gnb == nb
        assert abs(gavg - round(total / nb, 4)) <= 1e-4 * 0.51, (i, gavg, total / nb)
        assert abs(gppl - round(math.exp(total / nb), 2)) <= 1e-2 * 0.51


# ---------------------------------------------------------------------------
# BPE trainer vs pure-Python replica (VERDICT r6 item 8)
# ---------------------------------------------------------------------------

_BPE_WORD = st.text(
    alphabet=st.sampled_from("abcx"), min_size=1, max_size=5
)
_BPE_DOC = st.lists(_BPE_WORD, min_size=0, max_size=8).map(" ".join)


def _py_bpe(texts: list[str], rounds: int):
    """Exact replica of _bpe_iterate: word-count vocabulary, weighted
    adjacent-pair counts, argmax with (n DESC, a ASC, b ASC) tiebreak,
    greedy left-to-right merge fold. Returns (merges, weighted symbol
    total after the final round, weighted symbol total before)."""
    counts: dict[str, int] = {}
    for t in texts:
        for w in _py_words(t.lower()):
            counts[w] = counts.get(w, 0) + 1
    vocab = [(list(w), c) for w, c in counts.items()]
    before = sum(len(s) * c for s, c in vocab)
    merges = []
    for i in range(1, rounds + 1):
        pairs: dict[tuple[str, str], int] = {}
        for syms, cnt in vocab:
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + cnt
        if not pairs:
            break
        n = max(pairs.values())
        a, b = min(k for k, v in pairs.items() if v == n)
        merges.append((i, a, b, a + b, n))

        def fold(syms):
            acc: list[str] = []
            for x in syms:
                if acc and acc[-1] == a and x == b:
                    acc[-1] = a + b
                else:
                    acc.append(x)
            return acc

        vocab = [(fold(s), c) for s, c in vocab]
    after = sum(len(s) * c for s, c in vocab)
    return merges, after, before


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_BPE_DOC, min_size=1, max_size=6))
def test_bpe_trainer_matches_python_replica(spark, texts):
    """The K-round BPE trainer's merge sequence is bit-identical to the
    classic sequential algorithm: same argmax tiebreak, same greedy
    left-to-right re-merge (including the overlap case aa+a and merges
    whose output participates in later rounds), and the weighted
    symbol totals (the compression numerator/denominator) agree. The
    tiny 'abcx' alphabet forces frequent ties and overlaps — exactly
    the paths where a distributed reimplementation could diverge."""
    import tempfile

    from cs_5542_lab_6_spark.operators import textstats
    from cs_5542_lab_6_spark.operators.textstats import _bpe_iterate

    rounds = 3
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        [(i, t, "en", "srcX", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    # exercise BOTH `_bpe_iterate` paths against the one replica: the
    # hybrid driver-local cutover (vocab collected after the first
    # hash-agg; r8 verdict item 2) and the fully distributed rounds
    # (cutover forced off with a 0 threshold)
    want_merges, want_after, _ = _py_bpe(texts, rounds)
    for local_max in (1_000_000_000, 0):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(textstats, "BPE_LOCAL_VOCAB_MAX", local_max)
            merges, final_vocab = _bpe_iterate(spark, d, rounds)
            try:
                got_after = (
                    final_vocab.select(
                        (F.size("syms") * F.col("cnt")).alias("s")
                    ).agg(F.sum("s")).collect()[0][0]
                )
            finally:
                final_vocab.unpersist()

        assert [tuple(m) for m in merges] == want_merges, local_max
        assert (got_after or 0) == want_after, local_max


# ---------------------------------------------------------------------------
# _parallel_ntile vs exact sequential ntile (the RFM rank engine)
# ---------------------------------------------------------------------------


def _py_ntile(n_rows: int, k: int) -> list[int]:
    """SQL ntile bucket per 1-based rank: first (n % k) buckets take
    ceil(n/k) rows, the rest floor(n/k)."""
    big, small, n_big = -(-n_rows // k), n_rows // k, n_rows % k
    out = []
    for b in range(1, k + 1):
        out.extend([b] * (big if b <= n_big else small))
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(st.integers(min_value=-10_000, max_value=10_000), min_size=1,
             max_size=120, unique=True),
    st.integers(min_value=1, max_value=6),
)
def test_parallel_ntile_matches_sequential_ntile(spark, keys, k):
    """The two-pass rank engine behind customer_rfm_segments
    (range exchange -> per-partition row_number -> driver prefix-sum ->
    ntile arithmetic) must assign exactly the buckets SQL ntile(k)
    assigns under the same total order, for any row count — including
    n < k, n % k != 0, and single-row inputs."""
    from pyspark.sql import functions as F

    from cs_5542_lab_6_spark.operators.windows import _parallel_ntile

    df = spark.createDataFrame([(x,) for x in keys], "key long")
    got = {
        r["key"]: r["b"]
        for r in _parallel_ntile(df, k, [F.asc("key")], "key", "b").collect()
    }
    want = dict(zip(sorted(keys), _py_ntile(len(keys), k)))
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.integers(min_value=0, max_value=6),  # small id space -> duplicates
        min_size=0,
        max_size=40,
    )
)
def test_ordered_pair_expansion_matches_itertools(spark, ids):
    """kg_edges_build's map-side expansion must emit exactly the ordered
    position-pairs of the sorted group — including the duplicate-key
    multiplicity corner the docstring claims (m+n equal-keyed rows emit
    m*n cross pairs after the s != t residual, same as the self-join it
    replaced). Reference: itertools.combinations over the sorted list
    with equal pairs dropped."""
    import itertools

    from cs_5542_lab_6_spark.pipeline.corpus import ordered_pair_expansion

    names = sorted(f"node_{i}" for i in ids)
    df = spark.createDataFrame([(names,)], "ns array<string>")
    got = sorted(
        (r["p"]["s"], r["p"]["t"])
        for r in df.select(ordered_pair_expansion("ns"))
        .filter(F.col("p.s") != F.col("p.t"))  # kg_edges_build's residual
        .collect()
    )
    want = sorted(
        (a, b) for a, b in itertools.combinations(names, 2) if a != b
    )
    assert got == want


def test_bpe_hybrid_cutover_runs_constant_spark_jobs(spark, sf_dir):
    """Once the vocabulary collapses to the driver, additional merge
    rounds must cost ZERO additional Spark jobs (r8 verdict item 2): a
    production 32k-merge vocabulary cannot mean 32k 1-row argmax jobs.
    Counted via job groups: 5 rounds and 50 rounds launch the SAME
    number of jobs, and the 50-round merge table extends the 5-round
    one (greedy argmax is deterministic, so shorter runs are prefixes)."""
    from cs_5542_lab_6_spark.operators.textstats import _bpe_iterate

    sc = spark.sparkContext

    def run(rounds: int, tag: str):
        sc.setJobGroup(tag, tag)
        try:
            merges, fv = _bpe_iterate(spark, sf_dir, rounds)
            fv.unpersist()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(tag)), merges

    n5, m5 = run(5, "bpe_jobs_5")
    n50, m50 = run(50, "bpe_jobs_50")
    assert n50 == n5
    assert len(m50) > len(m5)
    assert m50[: len(m5)] == m5


def _py_winnow(text: str):
    """Sequential replica of winnow_fps_build's per-document selection:
    word 3-gram 31-bit hashes, window w, rightmost-minimum rule."""
    from cs_5542_lab_6_spark.operators.textstats import WINNOW_K, WINNOW_W

    toks = text.lower().split()
    grams = (
        [" ".join(toks[i : i + WINNOW_K]) for i in range(len(toks) - WINNOW_K + 1)]
        if len(toks) >= WINNOW_K
        else []
    )
    g = [_py_token_hash60(x) % HASH_P for x in grams]
    n = len(g)
    sels: list[int] = []
    if n:
        for j in range(1, max(n - WINNOW_W + 1, 1) + 1):  # 1-based windows
            wend = min(j + WINNOW_W - 1, n)
            lo = min(g[p - 1] for p in range(j, wend + 1))
            sels.append(max(p for p in range(j, wend + 1) if g[p - 1] == lo))
    sels = sorted(set(sels))
    return n, sels, [g[p - 1] for p in sels]


@PROP
@given(
    st.lists(
        st.lists(st.sampled_from("ab cd ef gh".split()), min_size=0, max_size=24)
        .map(" ".join),
        min_size=1,
        max_size=12,
    )
)
def test_winnowing_stage_matches_python_replica(spark, texts):
    """winnow_fps_build's selection is bit-identical to the sequential
    MOSS rule — including the rightmost-minimum tiebreak the encoded
    integer argmin implements, short documents (< k words → empty), and
    repeated grams (the 4-word alphabet forces constant hash ties)."""
    import tempfile

    from cs_5542_lab_6_spark.operators.textstats import winnow_fps_build

    d = tempfile.mkdtemp()
    spark.createDataFrame(
        [(i, t, "en", "srcX", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {
        r["doc_id"]: (r["n_grams"], list(r["sels"]), list(r["fps"]))
        for r in winnow_fps_build(spark, d).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _py_winnow(t), (i, t)


# --- SCD2 delta composition (r11 streaming SCD2's foundational claim) ------

_scd2_orders = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),    # custkey
        st.integers(min_value=0, max_value=11),   # month offset from epoch
        st.integers(min_value=1, max_value=500),  # orderkey
        st.sampled_from(["1-URGENT", "2-HIGH", "3-MEDIUM"]),
    ),
    min_size=1,
    max_size=30,
    unique_by=lambda t: t[2],
)


@PROP
@given(_scd2_orders, st.integers(min_value=0, max_value=11), st.integers(min_value=0, max_value=11))
def test_scd2_delta_apply_composes_to_full_rebuild(spark, rows, cut_a, cut_b):
    """The streaming SCD2's foundational algebra, on random changelogs:
    splitting an append-only order stream at ANY month boundaries and
    applying the segments sequentially through scd2_apply_delta must
    land byte-identical to the one-shot scd2_build — the property the
    stream_scd2_apply oracle checks once on the fixture, here replayed
    across random histories, duplicate dates, and repeat priorities."""
    import datetime as dt

    from cs_5542_lab_6_spark.operators.lakehouse import (
        scd2_apply_delta,
        scd2_build,
    )

    lo, hi = sorted((cut_a, cut_b))
    data = [
        (ck, dt.datetime(2020, 1 + m, 1), ok, pr) for ck, m, ok, pr in rows
    ]
    orders = spark.createDataFrame(
        data,
        "o_custkey long, o_orderdate timestamp, o_orderkey long, o_orderpriority string",
    )
    seg1 = orders.filter(F.month("o_orderdate") - 1 < lo)
    seg2 = orders.filter(
        (F.month("o_orderdate") - 1 >= lo) & (F.month("o_orderdate") - 1 < hi)
    )
    seg3 = orders.filter(F.month("o_orderdate") - 1 >= hi)
    dim = scd2_build(seg1)
    dim = scd2_apply_delta(dim, seg2)
    dim = scd2_apply_delta(dim, seg3)
    got = sorted(map(tuple, dim.collect()))
    want = sorted(map(tuple, scd2_build(orders).collect()))
    assert got == want
