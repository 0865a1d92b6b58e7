"""Real-NER seam (M4 contract, data/ingestion.py:306-353).

The reference extracts entities per chunk with scispaCy
(``nlp(text).ents``) and then applies a normalize-and-filter contract
(lowercase, strip non-alnum, min length 3 — data/ingestion.py:325-331).
The engine's default substitute keeps extraction in pure Catalyst
(whitespace tokens — see pipeline/corpus.chunk_entities_df) so the KG
build stays oracle-checkable. Setting $SPARK_GRAFT_NER_MODEL to a spaCy
model name swaps a real NER into the same slot: an Arrow-batched pandas
UDF with an executor-local lazy model singleton (M6), emitting mention
arrays that flow through the IDENTICAL downstream normalize → length
filter → first-seen dedup pipeline. Real-model mode is intentionally not
oracle-checkable; correctness runs leave the env unset.
"""

from __future__ import annotations

import json
import os

import pandas as pd

from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

NER_MODEL_ENV = "SPARK_GRAFT_NER_MODEL"

# executor-local lazy extractor singleton, keyed by the env value so a
# config change re-resolves (matters under spark.python.worker.reuse)
_EXTRACTOR = None
_EXTRACTOR_KEY: str | None = None


def ner_active() -> bool:
    """True when a real NER model is configured for this run."""
    return bool(os.environ.get(NER_MODEL_ENV))


def _load_gazetteer_extractor(path: str):
    """Extractor loaded from a local .json gazetteer artifact (a list of
    entity surface forms): mentions are the text's whitespace tokens whose
    lowercase form is in the gazetteer. A real from-disk model load — file
    I/O, per-worker lazy init — standing in the exact slot a spaCy
    pipeline occupies, with zero network dependency."""
    with open(path, encoding="utf-8") as f:
        vocab = {str(w).lower() for w in json.load(f)}

    def extract(text: str) -> list[str]:
        return [tok for tok in (text or "").split() if tok.lower() in vocab]

    return extract


def _load_real_extractor():
    """Real extractor when $SPARK_GRAFT_NER_MODEL is set; None otherwise
    (the Catalyst tokenizer substitute stays in charge). A path to a
    ``.json`` file loads the gazetteer artifact; any other value is
    treated as a spaCy model name; a missing ``.json`` path raises
    ``FileNotFoundError``."""
    name = os.environ.get(NER_MODEL_ENV)
    if not name:
        return None
    if name.endswith(".json"):
        if not os.path.exists(name):
            raise FileNotFoundError(
                f"{NER_MODEL_ENV} points to a missing artifact: {name}"
            )
        return _load_gazetteer_extractor(name)
    import spacy  # lazy heavy import, resolved once per Python worker

    nlp = spacy.load(name)

    def extract(text: str) -> list[str]:
        return [ent.text for ent in nlp(text or "").ents]

    return extract


def _token_mentions(text: str) -> list[str]:
    """Substitute extractor with the same signature: whitespace tokens
    (the downstream contract — normalize, length-filter, first-seen — is
    shared with the real path, so only mention *generation* differs)."""
    return (text or "").split()


def _get_extractor():
    """Executor-local lazy init (M6): resolved once per Python worker
    per configuration — re-resolved only if the env key changes."""
    global _EXTRACTOR, _EXTRACTOR_KEY
    key = os.environ.get(NER_MODEL_ENV, "")
    if _EXTRACTOR is None or key != _EXTRACTOR_KEY:
        _EXTRACTOR = _load_real_extractor() or _token_mentions
        _EXTRACTOR_KEY = key
    return _EXTRACTOR


@pandas_udf(T.ArrayType(T.StringType()))
def extract_mentions_udf(texts: pd.Series) -> pd.Series:
    """Batch mention extraction (M4): one model call per row inside an
    Arrow batch; the model itself is loaded once per worker."""
    extract = _get_extractor()
    return texts.map(lambda t: extract(t or ""))
