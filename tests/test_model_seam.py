"""Real-model seam tests (M2/M4): the env-gated hooks load a real
encoder/NER into the same UDF slots, the substitutes stay in charge by
default, and the executor-local singleton is resolved lazily. The real
libraries are absent in this container, so the hooks are exercised with
fake modules injected into sys.modules (driver-side function level —
worker processes resolve the same code path from their own env)."""

from __future__ import annotations

import sys
import types

import numpy as np
import pytest

from cs_5542_lab_6_spark.functions import embedding, ner


@pytest.fixture(autouse=True)
def _reset_singletons(monkeypatch):
    monkeypatch.setattr(embedding, "_ENCODER", None)
    monkeypatch.setattr(ner, "_EXTRACTOR", None)
    yield
    embedding._ENCODER = None
    ner._EXTRACTOR = None


def test_default_encoder_is_hash_projection(monkeypatch):
    monkeypatch.delenv(embedding.EMBED_MODEL_ENV, raising=False)
    enc = embedding._get_encoder()
    mat = enc(["spark joins data", ""])
    assert mat.shape == (2, embedding.EMBED_DIM)
    assert abs(np.linalg.norm(mat[0]) - 1.0) < 1e-9  # L2 contract
    assert np.all(mat[1] == 0.0)  # empty text → zero vector


def test_real_encoder_hook_via_fake_module(monkeypatch):
    calls = {}

    class FakeModel:
        def __init__(self, name):
            calls["model"] = name

        def encode(self, texts, batch_size=None, normalize_embeddings=None):
            calls["batch_size"] = batch_size
            calls["normalized"] = normalize_embeddings
            out = np.zeros((len(texts), 768))
            out[:, 0] = 1.0  # unit vectors, fixed dim like the real model
            return out

    fake = types.ModuleType("sentence_transformers")
    fake.SentenceTransformer = FakeModel
    monkeypatch.setitem(sys.modules, "sentence_transformers", fake)
    monkeypatch.setenv(embedding.EMBED_MODEL_ENV, "fake/all-mpnet-base-v2")

    enc = embedding._get_encoder()
    mat = enc(["a", "b", "c"])
    assert calls["model"] == "fake/all-mpnet-base-v2"
    assert calls["batch_size"] == 64  # reference batches of 64
    assert calls["normalized"] is True  # L2-normalize at embed time (F10)
    assert mat.shape == (3, 768)
    # M3: the query embedder rides the same seam (shared model contract)
    q = embedding.embed_query("any question")
    assert len(q) == 768 and q[0] == 1.0
    # M6: singleton — second resolve returns the same callable
    assert embedding._get_encoder() is enc


def test_default_extractor_is_token_split(monkeypatch):
    monkeypatch.delenv(ner.NER_MODEL_ENV, raising=False)
    assert not ner.ner_active()
    assert ner._get_extractor()("Spark joins  data") == ["Spark", "joins", "data"]
    assert ner._get_extractor()("") == []


def test_artifact_encoder_loads_from_disk(monkeypatch, tmp_path):
    """The non-fake branch with a REAL from-disk model artifact: a .npz
    path through $SPARK_GRAFT_EMBED_MODEL loads a hash-bucket projection
    and produces unit-norm vectors of the artifact's dimension — no fake
    modules, actual file I/O through _load_real_encoder."""
    rng = np.random.default_rng(42)
    art = tmp_path / "tiny_encoder.npz"
    np.savez(art, weights=rng.normal(size=(32, 8)))
    monkeypatch.setenv(embedding.EMBED_MODEL_ENV, str(art))

    enc = embedding._get_encoder()
    mat = enc(["spark joins data", "spark joins data", "different text"])
    assert mat.shape == (3, 8)
    assert abs(np.linalg.norm(mat[0]) - 1.0) < 1e-9
    assert np.array_equal(mat[0], mat[1])  # deterministic
    assert not np.array_equal(mat[0], mat[2])  # text-sensitive
    # M3 rides the same seam: driver query vector == encoder output
    assert embedding.embed_query("spark joins data") == list(mat[0])
    # config-keyed singleton: unsetting the env restores the hash default
    monkeypatch.delenv(embedding.EMBED_MODEL_ENV)
    assert embedding._get_encoder() is embedding._hash_encode


def test_gazetteer_extractor_loads_from_disk(monkeypatch, tmp_path):
    """The non-fake NER branch with a real .json gazetteer artifact."""
    import json

    art = tmp_path / "gazetteer.json"
    art.write_text(json.dumps(["spark", "catalyst"]))
    monkeypatch.setenv(ner.NER_MODEL_ENV, str(art))

    extract = ner._get_extractor()
    assert extract("Spark drives Catalyst plans") == ["Spark", "Catalyst"]
    assert extract("nothing relevant here") == []
    monkeypatch.delenv(ner.NER_MODEL_ENV)
    assert ner._get_extractor()("Spark x") == ["Spark", "x"]


def test_seam_runs_in_executor_pandas_udf(tmp_path):
    """End-to-end proof the non-fake branch executes INSIDE Spark's
    Python workers: a subprocess (env set before the JVM exists, so
    workers inherit it) runs embed_text and extract_mentions_udf through
    a real session against the artifact models and reports back."""
    import json
    import os
    import subprocess
    import sys

    rng = np.random.default_rng(7)
    enc_art = tmp_path / "enc.npz"
    np.savez(enc_art, weights=rng.normal(size=(16, 6)))
    gaz_art = tmp_path / "gaz.json"
    gaz_art.write_text(json.dumps(["catalyst"]))

    script = r"""
import json, sys
import numpy as np
from cs_5542_lab_6_spark.session import get_spark
from cs_5542_lab_6_spark.functions.embedding import embed_text, embed_query
from cs_5542_lab_6_spark.functions.ner import extract_mentions_udf
import pyspark.sql.functions as F

spark = get_spark(app_name="seam-subproc", master="local[2]", shuffle_partitions=2)
df = spark.createDataFrame(
    [("catalyst optimizes plans",), ("tungsten codegen",)], ["text"]
)
rows = (
    df.select(
        embed_text("text").alias("emb"),
        extract_mentions_udf("text").alias("mentions"),
    )
    .collect()
)
print(
    "RESULT:" + json.dumps(
        {
            "dims": [len(r["emb"]) for r in rows],
            "norms": [float(np.linalg.norm(r["emb"])) for r in rows],
            "mentions": [r["mentions"] for r in rows],
            "worker_vec": [float(x) for x in rows[0]["emb"]],
            "driver_vec": [
                float(np.float32(x)) for x in embed_query("catalyst optimizes plans")
            ],
        }
    )
)
spark.stop()
"""
    env = dict(os.environ)
    env["SPARK_GRAFT_EMBED_MODEL"] = str(enc_art)
    env["SPARK_GRAFT_NER_MODEL"] = str(gaz_art)
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    payload = json.loads(
        next(l for l in out.stdout.splitlines() if l.startswith("RESULT:"))[7:]
    )
    assert payload["dims"] == [6, 6], "artifact dim, not the 64-dim hash default"
    assert all(abs(n - 1.0) < 1e-6 for n in payload["norms"])
    assert payload["mentions"] == [["catalyst"], []]
    # query embedding (driver, M3) == corpus embedding (executor, M2)
    # modulo the array<float> cast the corpus column goes through
    assert payload["worker_vec"] == payload["driver_vec"]


def test_real_ner_hook_via_fake_module(monkeypatch):
    class Ent:
        def __init__(self, text):
            self.text = text

    class FakeNlp:
        def __call__(self, text):
            doc = types.SimpleNamespace()
            doc.ents = [Ent(w) for w in text.split() if w.istitle()]
            return doc

    fake = types.ModuleType("spacy")
    fake.load = lambda name: calls.setdefault("model", name) and FakeNlp() or FakeNlp()
    calls: dict = {}
    monkeypatch.setitem(sys.modules, "spacy", fake)
    monkeypatch.setenv(ner.NER_MODEL_ENV, "en_core_sci_sm")

    assert ner.ner_active()
    extract = ner._get_extractor()
    assert calls["model"] == "en_core_sci_sm"
    assert extract("Apache Spark processes data") == ["Apache", "Spark"]
    assert ner._get_extractor() is extract  # M6 singleton


def test_default_rerank_scorer_is_hash_pair_score(monkeypatch):
    from cs_5542_lab_6_spark.functions import rerank

    monkeypatch.delenv(rerank.RERANK_MODEL_ENV, raising=False)
    rerank._SCORER = None
    scores = rerank._get_scorer()([("q", "doc one"), ("q", "doc two")])
    # deterministic, pair-sensitive, in [0, 1)
    assert scores.shape == (2,)
    assert all(0.0 <= s < 1.0 for s in scores)
    assert scores[0] != scores[1]
    again = rerank._get_scorer()([("q", "doc one"), ("q", "doc two")])
    assert (scores == again).all()


def test_real_cross_encoder_hook_via_fake_module(monkeypatch):
    """$SPARK_GRAFT_RERANK_MODEL swaps a real CrossEncoder into the same
    pandas-UDF slot: model name reaches the constructor, pairs reach
    predict() in batch, config-keyed singleton semantics hold."""
    import numpy as np

    from cs_5542_lab_6_spark.functions import rerank

    calls = {}

    class FakeCrossEncoder:
        def __init__(self, name):
            calls["model"] = name

        def predict(self, pairs, batch_size=None):
            calls["batch_size"] = batch_size
            calls["n_pairs"] = len(pairs)
            return np.linspace(0.9, 0.1, len(pairs))

    fake = types.ModuleType("sentence_transformers")
    fake.CrossEncoder = FakeCrossEncoder
    monkeypatch.setitem(sys.modules, "sentence_transformers", fake)
    monkeypatch.setenv(rerank.RERANK_MODEL_ENV, "fake/ms-marco-MiniLM-L-6-v2")
    rerank._SCORER = None

    scorer = rerank._get_scorer()
    out = scorer([("q", "a"), ("q", "b"), ("q", "c")])
    assert calls["model"] == "fake/ms-marco-MiniLM-L-6-v2"
    assert calls["batch_size"] == 64
    assert calls["n_pairs"] == 3
    assert out.shape == (3,)
    # singleton until the key changes
    assert rerank._get_scorer() is scorer
    monkeypatch.delenv(rerank.RERANK_MODEL_ENV)
    assert rerank._get_scorer() is not scorer  # re-resolved to the default
    rerank._SCORER = None


def test_missing_npz_artifact_raises_file_not_found(monkeypatch):
    """A configured-but-missing .npz artifact path must fail fast with
    FileNotFoundError, never fall through to the CrossEncoder branch
    (which would surface a confusing model-download error)."""
    import pytest

    from cs_5542_lab_6_spark.functions import rerank

    monkeypatch.setenv(rerank.RERANK_MODEL_ENV, "/nonexistent/scorer.npz")
    rerank._SCORER = None
    with pytest.raises(FileNotFoundError, match="scorer.npz"):
        rerank._load_real_scorer()
    rerank._SCORER = None


@pytest.mark.parametrize(
    "seam, env, path",
    [
        (embedding._load_real_encoder, embedding.EMBED_MODEL_ENV, "/nonexistent/model.npz"),
        (ner._load_real_extractor, ner.NER_MODEL_ENV, "/nonexistent/gaz.json"),
    ],
)
def test_missing_artifact_names_variable_and_path(monkeypatch, seam, env, path):
    """A configured-but-missing artifact path for the embedding or NER
    seam raises FileNotFoundError naming the variable and the path,
    instead of being read as a library model name (an ImportError for
    an absent library, or a model download)."""
    monkeypatch.setenv(env, path)
    with pytest.raises(FileNotFoundError, match=f"{env}.*{path}"):
        seam()
