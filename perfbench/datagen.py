"""Seeded input tables for the benchmark.

The benchmark reads nothing outside its checkout, so it writes its own
copy of the engine's ten input tables (``sources.tables.TABLE_NAMES``),
shaped like the sf0.01 test fixture: the same schemas, table sizes (60 k
lineitem rows, 10 k events, 500 documents), key ranges, categorical
domains and a 30-word document vocabulary with near-duplicate documents.
The same seed gives byte-identical parquet files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the row key data part line scan sort join agg hash merge small big "
    "fast slow query table value order group batch stream spark window "
    "filter vector column customer"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_DOCS = 500
EMBED_DIM = 64
N_LABELS = 10

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator) -> tuple[pa.Table, pa.Table]:
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: a few words swapped,
            # the tail trimmed, half of them tagged "dup"
            words = texts[int(rng.integers(0, i))].replace(" dup", "").split()
            for j in rng.integers(0, len(words), 2):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            words = words[: max(10, len(words) - int(rng.integers(0, 4)))]
            if rng.random() < 0.5:
                words.append("dup")
        else:
            n = int(rng.integers(10, 100))
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), n)]
        texts.append(" ".join(words))
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, N_DOCS, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    # weakly clustered unit vectors: a shared direction per label plus
    # isotropic noise, as in the fixture (label predicts the nearest
    # centroid for about a third of the vectors)
    labels = rng.integers(0, N_LABELS, N_DOCS)
    centroids = rng.normal(size=(N_LABELS, EMBED_DIM))
    centroids *= 0.14 / np.linalg.norm(centroids, axis=1, keepdims=True)
    vecs = centroids[labels] + rng.normal(scale=0.12, size=(N_DOCS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return documents, embeddings


def _tpch(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_c, n_s, n_p, n_o = 1500, 100, 2000, 15000
    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    segments = ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"]
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": rng.choice(segments, n_c).tolist(),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
        }
    )
    adjectives = "cold small large blue old new red green bright dark".split()
    nouns = "widget bolt rod anvil ring gear nut spring".split()
    types = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_p), pa.int64()),
            "p_name": [
                f"{adjectives[a]} {nouns[b]}"
                for a, b in zip(rng.integers(0, 10, n_p), rng.integers(0, 8, n_p))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
            "p_type": rng.choice(types, n_p).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 1),
        }
    )
    order_days = rng.integers(0, 2404, n_o)  # 1995-01-01 .. 2001-08-01
    priorities = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_o).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
            "o_orderdate": _ts(_EPOCH_1995 + order_days * _DAY_US),
            "o_orderpriority": rng.choice(priorities, n_o).tolist(),
        }
    )
    lines = rng.integers(1, 8, n_o)
    l_order = np.repeat(np.arange(n_o), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_l = len(l_order)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
            "l_linenumber": pa.array(l_num, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_l),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": rng.choice(["N", "A", "R"], n_l).tolist(),
            "l_linestatus": rng.choice(["O", "F"], n_l).tolist(),
            "l_shipdate": _ts(
                _EPOCH_1995
                + (order_days[l_order] + rng.integers(1, 122, n_l)) * _DAY_US
            ),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def _events(rng: np.random.Generator) -> pa.Table:
    n = 10_000
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + _EPOCH_2024
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
            "event_type": rng.choice(
                ["click", "purchase", "error", "signup", "view"], n
            ).tolist(),
            "value": _money(rng, 0.01, 330.0, n),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
        }
    )


def write_inputs(out_dir: str, seed: int, tables: tuple[str, ...]) -> int:
    """Write the named tables as ``out_dir/<name>.parquet``; return the
    bytes written."""
    rng = np.random.default_rng(seed)
    documents, embeddings = _documents(rng)
    built = {"documents": documents, "embeddings": embeddings}
    if set(tables) - set(built):
        built.update(_tpch(rng))
        built["events"] = _events(rng)
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name in tables:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(built[name], path)
        total += os.path.getsize(path)
    return total
