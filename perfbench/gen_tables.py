"""Deterministic TPC-H-ish test tables for the benchmark.

Writes the ten tables the declared inventory reads (``region nation
customer supplier part orders lineitem events documents embeddings``),
one single-file parquet each, with the column names, types and value
shapes of the engine's test data: naive microsecond timestamps,
cents-quantized money, a 30-word document vocabulary with planted
``dup`` near-duplicates, 64-d unit embeddings around 10 labels.

The tables are a pure function of ``(sf, DATA_SEED)``, so the committed
result fingerprints (``fingerprints.json``) stay valid on any machine
with the same numpy. The workload seed never reaches this module: it
only orders operations.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype("datetime64[us]"), type=pa.timestamp("us"))


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x * 100) / 100


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, sf: float) -> None:
    """Write all tables into ``out_dir`` (created; must not exist)."""
    rng = np.random.default_rng(DATA_SEED)
    n = {
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }
    os.makedirs(out_dir)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, nc))),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
    })

    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, ns))),
    })

    npart = n["part"]
    pk = np.arange(npart, dtype=np.int64)
    names = [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))]
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(PART_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 1)),
    })

    no = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(_cents(rng.uniform(1000, 500_000, no))),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, no) * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
    })

    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl)),
        "l_partkey": pa.array(rng.integers(0, npart, nl)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_cents(qty * rng.uniform(900, 2100, nl))),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, nl) * _DAY_US),
    })

    ne = n["events"]
    gaps = rng.exponential(30 * _DAY_US / ne, ne).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": _ts(_EPOCH_2024 + np.minimum(np.cumsum(gaps), 30 * _DAY_US - 1)),
        "user_id": pa.array(rng.integers(0, max(15, round(15_000 * sf)), ne)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
        "value": pa.array(_cents(np.maximum(0.01, rng.lognormal(2.5, 1.1, ne)))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one word swapped,
            # then the marker word appended
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = str(rng.choice(VOCAB))
            words.append("dup")
        else:
            words = list(rng.choice(VOCAB, rng.integers(10, 101)))
        texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, nd, p=LANG_P)),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    nv = n["embeddings"]
    centroids = rng.normal(0, 1, (N_LABELS, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, nv).astype(np.int32)
    vecs = 0.15 * centroids[labels] + rng.normal(0, 1 / np.sqrt(EMBED_DIM), (nv, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def ensure(root: str, sf: float) -> str:
    """Return ``<root>/sf<sf>``, generating it first if absent. Writes
    to a sibling temp dir and renames, so a killed run never leaves a
    half-written dataset behind."""
    out = os.path.join(root, f"sf{sf}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(tmp, sf)
        os.replace(tmp, out)
    return out

