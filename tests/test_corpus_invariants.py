"""Property checks mirroring the reference's verification surface
(data/ingestion.py:511-551 row counts, 270-271 dim assert) per
FIXTURES.md §C: chunk word-count bounds, embedding norm, edge
canonicalization, FK integrity via anti-joins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cs_5542_lab_6_spark.functions.vectors import l2_norm
from cs_5542_lab_6_spark.pipeline.corpus import (
    CHUNK_SIZE,
    EMBED_DIM,
    MIN_CHUNK_WORDS,
    chunks_build,
    chunks_with_embeddings_df,
    kg_edges_build,
    kg_map_build,
    kg_nodes_build,
    papers_build,
)


def test_chunk_word_count_bounds(spark, sf_dir):
    chunks = chunks_build(spark, sf_dir)
    bad = chunks.filter(
        (F.col("word_count") < MIN_CHUNK_WORDS) | (F.col("word_count") > CHUNK_SIZE)
    ).count()
    assert bad == 0
    # word_count matches the actual token count of text_content
    mismatch = chunks.filter(
        F.size(F.split(F.col("text_content"), r"\s+")) != F.col("word_count")
    ).count()
    assert mismatch == 0


def test_embeddings_unit_norm_and_dim(spark, sf_dir):
    ch = chunks_with_embeddings_df(spark, sf_dir)
    stats = ch.select(
        F.min(F.size("embedding")).alias("dmin"),
        F.max(F.size("embedding")).alias("dmax"),
        F.max(F.abs(l2_norm("embedding") - 1.0)).alias("norm_err"),
    ).collect()[0]
    assert stats["dmin"] == stats["dmax"] == EMBED_DIM
    assert stats["norm_err"] < 1e-5


@pytest.mark.slow
def test_edges_canonical_and_fk_integrity(spark, sf_dir):
    edges = kg_edges_build(spark, sf_dir)
    assert edges.filter(F.col("source_node_id") >= F.col("target_node_id")).count() == 0
    assert edges.filter(F.col("weight") < 1.0).count() == 0

    nodes = kg_nodes_build(spark, sf_dir).select("node_id")
    # every edge endpoint resolves to a node (left_anti empty — SURVEY J4)
    dangling_src = edges.join(
        nodes, edges.source_node_id == nodes.node_id, "left_anti"
    ).count()
    dangling_tgt = edges.join(
        nodes, edges.target_node_id == nodes.node_id, "left_anti"
    ).count()
    assert dangling_src == 0 and dangling_tgt == 0

    cmap = kg_map_build(spark, sf_dir)
    chunks = chunks_build(spark, sf_dir).select("chunk_id")
    assert cmap.join(chunks, "chunk_id", "left_anti").count() == 0
    assert cmap.join(nodes, "node_id", "left_anti").count() == 0


def test_papers_pk_unique(spark, sf_dir):
    papers = papers_build(spark, sf_dir)
    assert papers.count() == papers.select("paper_id").distinct().count()


def test_trigram_search_edge_cases(spark, tmp_path):
    """Sub-3-char and empty documents flow through the trigram index
    without junk grams (Spark's sequence(1,0) DESCENDS — the length
    guard matters), near-miss prefixes are pruned, and the one true
    match surfaces with its 1-based position."""
    from cs_5542_lab_6_spark.operators.retrieval import (
        doc_substring_search,
        trigram_postings_build,
    )

    d = str(tmp_path)
    spark.createDataFrame(
        [
            (0, "ab", "en", "s", 2),
            (1, "", "en", "s", 0),
            (2, "the hash value here", "en", "s", 19),
            (3, "ha", "en", "s", 2),
            (4, "hash valu", "en", "s", 9),  # near miss: prefix only
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    grams = trigram_postings_build(spark, d).collect()
    assert grams and all(len(r["gram"]) == 3 for r in grams)
    got = [(r["doc_id"], r["match_pos"]) for r in doc_substring_search(spark, d).collect()]
    assert got == [(2, 5)]


def test_contrastive_pairs_margin_and_disjointness(spark, sf_dir):
    """Semantic contract of the training-pair miner: per query the role
    sets are disjoint, counts respect the (pos, hard, rand) budget, every
    hard negative sits OUTSIDE the exact top-k yet scores no higher than
    the weakest positive (the margin the contrastive loss will learn),
    and random negatives are likewise excluded from the exact top-k
    (their different-bucket sourcing is pinned by the DuckDB oracle)."""
    from collections import defaultdict

    from cs_5542_lab_6_spark.operators.similarity import (
        CPM_HARD,
        CPM_POS,
        CPM_RAND,
        ann_brute_force_topk,
        contrastive_pair_mining,
    )

    rows = contrastive_pair_mining(spark, sf_dir).collect()
    truth = defaultdict(set)
    for r in ann_brute_force_topk(spark, sf_dir).collect():
        truth[r["qid"]].add(r["vec_id"])

    by_q = defaultdict(lambda: defaultdict(list))
    for r in rows:
        by_q[r["qid"]][r["role"]].append(r)

    for qid, roles in by_q.items():
        ids = [r["vec_id"] for rs in roles.values() for r in rs]
        assert len(ids) == len(set(ids)), f"{qid}: overlapping roles"
        assert len(roles["pos"]) == CPM_POS
        assert len(roles["hard_neg"]) <= CPM_HARD
        assert len(roles["rand_neg"]) <= CPM_RAND
        worst_pos = min(r["cosine"] for r in roles["pos"])
        for r in roles["hard_neg"]:
            assert r["vec_id"] not in truth[qid]
            assert r["cosine"] <= worst_pos, (
                f"{qid}: hard negative {r['vec_id']} outscores a positive"
            )
        for r in roles["rand_neg"]:
            assert r["vec_id"] not in truth[qid]


def test_semantic_dedup_salting_is_output_invisible(spark, sf_dir, monkeypatch):
    """The (cluster, vec_id % SALT) salted pair join exists purely to
    split the K hot cluster keys across more shuffle partitions — the
    pair set, keeper choices, and cosines must be identical to the
    unsalted join (salt fan-out 1)."""
    from cs_5542_lab_6_spark.operators import similarity as S

    salted = sorted(map(tuple, S.semantic_dedup(spark, sf_dir).collect()))
    monkeypatch.setattr(S, "SEMDEDUP_SALT", 1)
    unsalted = sorted(map(tuple, S.semantic_dedup(spark, sf_dir).collect()))
    assert salted == unsalted and salted


@pytest.mark.slow
def test_lsh_hot_bucket_cap_is_linear_and_preserves_components(
    spark, sf_dir, tmp_path
):
    """Duplicate-dense corpus (30 docs replicated 40x with shifted ids,
    identical text): every (band, sig) bucket's membership multiplies by
    40, pushing it over LSH_BUCKET_CAP. The guard must (a) surface the
    capped buckets in dedup_lsh_bucket_audit — no silent truncation,
    (b) emit exactly linear star candidates (docs_in_capped minus one hub
    per bucket) instead of quadratic pairs, and (c) keep every
    replica family (exact dups by construction) in ONE connected
    component — star contraction through the bucket-min hub preserves
    connectivity."""
    from cs_5542_lab_6_spark.operators import dedup as D
    from cs_5542_lab_6_spark.session import clear_caches
    from cs_5542_lab_6_spark.sources.tables import load_table

    factor, n_docs = 40, 30
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < n_docs)
    reps = spark.range(factor).select(F.col("id").alias("replica"))
    dense_dir = str(tmp_path / "dense")
    (
        docs.crossJoin(F.broadcast(reps))
        .withColumn("doc_id", F.col("doc_id") + F.col("replica") * F.lit(1000))
        .drop("replica")
        .write.mode("overwrite")
        .parquet(f"{dense_dir}/documents.parquet")
    )
    try:
        audit = D.dedup_lsh_bucket_audit(spark, dense_dir).collect()[0]
        assert audit["n_capped_buckets"] > 0
        assert audit["candidates_avoided"] > 0
        assert (
            audit["star_candidates"]
            == audit["docs_in_capped"] - audit["n_capped_buckets"]
        )
        # replicas are byte-identical text, so every star (hub, member)
        # edge is an exact dup (Jaccard 1.0): the cap's recall-exposure
        # column must report zero failing hub verifications here
        assert audit["star_edges_failing_verify"] == 0

        pairs = D.minhash_pairs(spark, dense_dir)
        labels = D.star_components(
            pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d"))
        )
        split_families = (
            labels.withColumn("orig", F.col("node") % F.lit(1000))
            .groupBy("orig")
            .agg(F.count_distinct("lbl").alias("k"), F.count("*").alias("m"))
            .where((F.col("k") > 1) | (F.col("m") < factor))
            .count()
        )
        assert split_families == 0
    finally:
        clear_caches(spark)


@pytest.mark.slow
def test_lsh_cap_preserves_components_on_mutated_corpora(
    spark, tmp_path, monkeypatch
):
    """Generalization of the replica-corpus cap test: on corpora whose
    near-dup families are MUTATED copies (so buckets mix partial band
    matches, not just exact dups), the capped candidate relation must
    yield the SAME connected components as the uncapped pairwise join —
    star contraction may change which pairs are emitted, never which
    docs are transitively connected through shared buckets."""
    import random

    from cs_5542_lab_6_spark.operators import dedup as D
    from cs_5542_lab_6_spark.session import clear_caches

    vocab = [f"tok{i}" for i in range(40)]

    def corpus(seed: int) -> list[tuple]:
        rng = random.Random(seed)
        rows, doc_id = [], 0
        for fam in range(6):
            base = [rng.choice(vocab) for _ in range(30)]
            for _ in range(rng.randint(8, 14)):  # family of mutated copies
                words_ = list(base)
                for _ in range(rng.randint(0, 3)):  # light mutation
                    words_[rng.randrange(len(words_))] = rng.choice(vocab)
                text = " ".join(words_)
                rows.append((doc_id, text, "en", "syn", len(text)))
                doc_id += 1
        return rows

    def components(sf: str) -> dict[int, int]:
        bands = D._lsh_bands(spark, sf)
        cand = D._lsh_capped_candidates(bands).select(
            F.col("doc_a").alias("s"), F.col("doc_b").alias("d")
        )
        labels = D.star_components(cand.distinct())
        return {r["node"]: r["lbl"] for r in labels.collect()}

    for seed in (7, 23):
        sf = str(tmp_path / f"c{seed}")
        spark.createDataFrame(
            corpus(seed), "doc_id long, text string, lang string, source string, n_chars long"
        ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
        try:
            monkeypatch.setattr(D, "LSH_BUCKET_CAP", 5)  # binds on families
            capped = components(sf)
            monkeypatch.setattr(D, "LSH_BUCKET_CAP", 10**9)  # never binds
            uncapped = components(sf)
            # same partition of the same node set (labels are min-ids, so
            # equality of the dicts IS equality of the partitions)
            assert capped == uncapped and capped
        finally:
            clear_caches(spark)


def test_semantic_contamination_flags_planted_leak(spark, tmp_path):
    """contamination_semantic_scan's decision column never trips on the
    natural fixtures (random vectors, best cross-split cosine well
    under tau) — pin the True path: every vector identical, so every
    test-split vector's train-side best match is an exact semantic
    duplicate (cosine 1.0, same LSH bucket by construction) and every
    emitted row must be flagged contaminated."""
    from cs_5542_lab_6_spark.operators import similarity as S
    from cs_5542_lab_6_spark.operators.ranking import split_assignment
    from cs_5542_lab_6_spark.session import clear_caches

    w = [float((i % 5) - 2) + 0.25 for i in range(S.EMBED_DIM)]
    sf = str(tmp_path / "leak")
    spark.createDataFrame(
        [(i, "syn", w) for i in range(200)],
        "vec_id long, label string, embedding array<float>",
    ).write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")
    n_test = (
        spark.range(200)
        .select(split_assignment("id").alias("s"))
        .filter(F.col("s") == "test")
        .count()
    )
    try:
        rows = S.contamination_semantic_scan(spark, sf).collect()
        assert len(rows) == n_test > 0
        assert all(r["contaminated"] for r in rows)
        assert all(r["cosine"] == 1.0 for r in rows)
    finally:
        clear_caches(spark)


def test_embedding_drift_band_flags_full_bucket_shift(spark, tmp_path):
    """The drift monitor's decision column must escalate on incoming
    mass in buckets the reference never occupied: a full-bucket shift
    (e.g. a sign-flipped/rotated encoder) leaves ZERO common buckets,
    so the common-bucket PSI is 0.0 and a psi-only band would read the
    worst possible drift as "stable". Negating every incoming vector
    flips all hyperplane signs (bucket -> bitwise complement), giving
    n_buckets_common=0, incoming_unseen_share=1.0 -> shifted; the
    control corpus (incoming identical to reference) reads stable."""
    from cs_5542_lab_6_spark.operators import similarity as S
    from cs_5542_lab_6_spark.session import clear_caches

    w = [float((i % 7) - 3) + 0.5 for i in range(S.EMBED_DIM)]
    neg = [-x for x in w]

    def write(sf: str, incoming_vec: list) -> None:
        rows = [
            (i, "syn", incoming_vec if i % S.EMB_DRIFT_MOD == 0 else w)
            for i in range(100)
        ]
        spark.createDataFrame(
            rows, "vec_id long, label string, embedding array<float>"
        ).write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")

    try:
        shifted_dir = str(tmp_path / "shifted")
        write(shifted_dir, neg)
        row = S.embedding_drift_psi(spark, shifted_dir).collect()[0]
        assert row["n_buckets_common"] == 0
        assert row["psi"] == 0.0  # the blind spot the escalation covers
        assert row["incoming_unseen_share"] == 1.0
        assert row["drift_band"] == "shifted"

        stable_dir = str(tmp_path / "stable")
        write(stable_dir, w)
        row = S.embedding_drift_psi(spark, stable_dir).collect()[0]
        assert row["incoming_unseen_share"] == 0.0
        assert row["drift_band"] == "stable"
    finally:
        clear_caches(spark)


def test_cooccurrence_expansion_survives_hot_chunk(spark):
    """kg_edges_build's per-group pair expansion is quadratic in the
    chunk's entity count and deliberately uncapped — the chunker is the
    cap (CHUNK_SIZE=200 words ⇒ B ≤ 200 structurally). Pin that a group
    5x BEYOND the structural bound (B=10^3 → 499,500 pair structs in one
    transient array) still expands exactly and within executor-thread
    memory, so the documented bound has headroom rather than sitting at
    the edge (r12 verdict item 6)."""
    from cs_5542_lab_6_spark.pipeline.corpus import ordered_pair_expansion

    b = 1000
    per_chunk = spark.range(1).select(
        F.expr(
            f"transform(sequence(0, {b - 1}),"
            " i -> concat('node_', lpad(cast(i as string), 4, '0')))"
        ).alias("ns")
    )
    pairs = per_chunk.select(ordered_pair_expansion("ns"))
    assert pairs.count() == b * (b - 1) // 2
    # spot-check ordering semantics survive at this size: every pair is
    # strictly ordered, and the lexicographic extremes are present
    agg = pairs.agg(
        F.sum(F.when(F.col("p.s") < F.col("p.t"), 0).otherwise(1)).alias("bad"),
        F.min("p.s").alias("lo"),
        F.max("p.t").alias("hi"),
    ).collect()[0]
    assert agg["bad"] == 0
    assert agg["lo"] == "node_0000" and agg["hi"] == "node_0999"


def test_lsh_cap_audit_counts_failing_star_edges(spark, tmp_path):
    """The audit's recall-exposure column must actually COUNT when star
    contraction costs recall, not only read 0 (r12 advice): a capped
    bucket holding two text families that share one full band signature
    but sit BELOW the exact-Jaccard verify threshold has every
    hub-to-other-family star edge fail verification.

    The two texts were searched offline against the engine's own hash
    constants (sha-based token_hash, the fixed _MH_A/_MH_B permutations):
    band 0 of their MinHash signatures collides while exact shingle
    Jaccard is 0.3103 < MINHASH_VERIFY_THRESHOLD. Family A (30 docs,
    ids 0-29) + family B (5 docs, ids 30-34) share band 0's bucket
    (35 > LSH_BUCKET_CAP=32 — capped; the A-only and B-only buckets in
    bands 1-3 stay under the cap), the hub is doc 0 ∈ A, and exactly
    the 5 hub→B star edges fail verify."""
    from cs_5542_lab_6_spark.operators import dedup as D
    from cs_5542_lab_6_spark.session import clear_caches

    text_a = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "sleeps near the warm fire in the old house"
    )
    text_b = (
        "the quick brown fox jumps over the lazy blue while the cat "
        "sleeps near quiet green night late stone light happy"
    )
    rows = [
        (i, text_a if i < 30 else text_b, "en", "syn", 100) for i in range(35)
    ]
    sf = str(tmp_path / "twofam")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    try:
        audit = D.dedup_lsh_bucket_audit(spark, sf).collect()[0]
        assert audit["n_capped_buckets"] == 1
        assert audit["docs_in_capped"] == 35
        assert audit["star_candidates"] == 34
        assert audit["star_edges_failing_verify"] == 5
    finally:
        clear_caches(spark)


def test_link_prediction_math_on_hand_verified_graphs(spark, monkeypatch):
    """kg_link_prediction's wedge/anti-join/Adamic-Adar math on graphs
    with hand-computable answers (the fixture + oracle only cover one
    co-occurrence shape): a path a-b-c-d predicts exactly (a,c) and
    (b,d) with AA = 1/ln(2); a 5-leaf star predicts every leaf pair
    with AA = 1/ln(5) and common_neighbors = 1."""
    from cs_5542_lab_6_spark.pipeline import corpus as C

    def run(edges):
        df = spark.createDataFrame(edges, "u string, v string")
        monkeypatch.setattr(
            C, "_kg_sparse_edges", lambda *_a, **_k: df.localCheckpoint(eager=True)
        )
        return {
            (r.u, r.v): (r.common_neighbors, r.adamic_adar)
            for r in C.kg_link_prediction_for(spark, "unused").collect()
        }

    import math

    path = run([("a", "b"), ("b", "c"), ("c", "d")])
    aa2 = round(round(1.0 / math.log(2), 6), 4)
    assert path == {("a", "c"): (1, aa2), ("b", "d"): (1, aa2)}

    leaves = [f"l{i}" for i in range(5)]
    star = run([("h", leaf) for leaf in leaves])
    aa5 = round(round(1.0 / math.log(5), 6), 4)
    expected = {
        (a, b): (1, aa5)
        for i, a in enumerate(leaves)
        for b in leaves[i + 1 :]
    }
    assert star == expected


def test_kg_queries_read_one_edge_relation(spark, monkeypatch):
    """The KG queries derive their edges from ``_kg_pairs`` alone: over a
    hand-built 5-node graph (the spark-a-b triangle plus spark-c and
    c-d; the a-spark pair appears on two papers), with no corpus behind
    it, triangles, degree bins and 2-hop path weights match hand-computed
    values."""
    from cs_5542_lab_6_spark.pipeline import corpus as C

    pairs = spark.createDataFrame(
        [
            ("node_a", "node_spark", 2.0),
            ("node_a", "node_spark", 1.0),
            ("node_b", "node_spark", 1.0),
            ("node_a", "node_b", 4.0),
            ("node_c", "node_spark", 2.0),
            ("node_c", "node_d", 5.0),
        ],
        "src string, tgt string, weight double",
    )
    monkeypatch.setattr(C, "_kg_pairs", lambda *_a: pairs)

    tri = C.kg_triangle_stats(spark, "unused").first()
    # degrees spark 3, a 2, b 2, c 2, d 1: wedges 3 + 1 + 1 + 1 + 0
    assert (tri.n_triangles, tri.n_wedges, tri.global_clustering) == (1, 6, 0.5)

    bins = [tuple(r) for r in C.kg_degree_distribution(spark, "unused").collect()]
    # (log2_bin, bin_floor, n_nodes, min_degree, max_degree)
    assert bins == [(0, 1, 1, 1, 1), (1, 2, 4, 2, 3)]

    # hop 1 from spark: a 2+1 = 3, b 1, c 2; best 2-paths
    # spark-a-b 3*4, spark-c-d 2*5, spark-b-a 1*4
    hops = [tuple(r) for r in C.kg_two_hop(spark, "unused").collect()]
    assert hops == [("node_b", 12.0), ("node_d", 10.0), ("node_a", 4.0)]
