"""Seeded input tables owned by the benchmark.

The engine reads a directory of ten parquet tables (``<name>.parquet``);
the DuckDB oracle opens a view over every one of them, so every table is
written even when a workload reads only two.  The generator lives here,
not in the engine, so that a change to the engine cannot change the
workload: the same ``(seed, sizes)`` always gives the same bytes for a
given pyarrow version, and :func:`digest` pins them.

The corpus has a stated share of exact and near duplicates (documents and
vectors); i.i.d. random words alone give dedup operators nothing to find.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "de", "es", "fr", "zh"]
EMB_DIM = 64
EMB_CLUSTERS = 10
#: shares of the corpus that repeat an earlier row exactly / with small edits
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.15
EPOCH_1995 = np.datetime64("1995-01-01")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((EPOCH_1995 + days.astype("timedelta64[D]")).astype("datetime64[us]"), type=pa.timestamp("us"))


def _dims(out_dir: str, rng: np.random.Generator) -> None:
    """Small dimension tables and events: present for the oracle's views."""
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(150, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(150)]),
        "c_nationkey": pa.array(rng.integers(0, 25, 150).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-1_000, 10_000, 150), 2)),
        "c_mktsegment": pa.array(rng.choice(["AUTOMOBILE", "BUILDING", "MACHINERY"], 150)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(10, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(10)]),
        "s_nationkey": pa.array(rng.integers(0, 25, 10).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-1_000, 10_000, 10), 2)),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(200, dtype=np.int64)),
        "p_name": pa.array([f"part {i}" for i in range(200)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, 200)]),
        "p_type": pa.array(rng.choice(["ECONOMY", "PROMO", "STANDARD"], 200)),
        "p_size": pa.array(rng.integers(1, 51, 200).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + np.arange(200) / 10.0, 2)),
    })
    n = 1_000
    ts = np.datetime64("2024-01-01T00:00:00.000000") + np.sort(rng.integers(0, 86_400_000_000, n)).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n).astype(np.int64)),
        "event_type": pa.array(rng.choice(["click", "purchase", "view"], n)),
        "value": pa.array(np.round(rng.uniform(0.01, 500.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _orders(out_dir: str, rng: np.random.Generator, n_orders: int) -> None:
    """Events of the HEP chain: one order = one event, its lineitems the
    object collection (1 + Poisson(3.07) per order, capped at 13)."""
    days = rng.integers(0, 2404, n_orders)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, 150, n_orders).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(1_000, 500_000, n_orders), 2)),
        "o_orderdate": _ts(days),
        "o_orderpriority": pa.array(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"], n_orders)),
    })
    per = 1 + np.minimum(rng.poisson(3.07, n_orders), 12)
    n = int(per.sum())
    qty = rng.integers(1, 51, n).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(n_orders, dtype=np.int64), per)),
        "l_partkey": pa.array(rng.integers(0, 200, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 10, n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(500, 3_600, n), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100.0, 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _ts(np.repeat(days, per) + rng.integers(1, 96, n)),
    })


def _dup_sources(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Per row: index of the earlier row it copies (or -1), and whether
    the copy is edited (near duplicate) rather than exact."""
    kind = rng.random(n)
    src = np.full(n, -1)
    for i in range(1, n):
        if kind[i] < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            src[i] = rng.integers(0, i)
    return src, kind >= EXACT_DUP_SHARE


def _documents(out_dir: str, rng: np.random.Generator, n_docs: int) -> None:
    src, edited = _dup_sources(rng, n_docs)
    texts: list[str] = []
    for i in range(n_docs):
        if src[i] < 0:
            words = list(rng.choice(VOCAB, int(rng.integers(10, 100))))
        else:
            words = texts[src[i]].split(" ")
            if edited[i]:  # near duplicate: replace ~5% of the words
                for j in rng.choice(len(words), max(1, len(words) // 20), replace=False):
                    words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(out_dir: str, rng: np.random.Generator, n_vecs: int) -> None:
    centers = rng.normal(0, 1, (EMB_CLUSTERS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, EMB_CLUSTERS, n_vecs)
    vecs = centers[label] * 2.0 + rng.normal(0, 1, (n_vecs, EMB_DIM))
    src, edited = _dup_sources(rng, n_vecs)
    for i in np.nonzero(src >= 0)[0]:
        label[i] = label[src[i]]
        vecs[i] = vecs[src[i]] + (rng.normal(0, 0.01, EMB_DIM) if edited[i] else 0.0)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def write_tables(out_dir: str, seed: int, *, orders: int, documents: int, embeddings: int) -> dict:
    """Write all ten tables for ``seed``; returns their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed % 2**63)  # any integer seed, negative ones too
    _dims(out_dir, rng)
    _orders(out_dir, rng, orders)
    _documents(out_dir, rng, documents)
    _embeddings(out_dir, rng, embeddings)
    return {"orders": orders, "documents": documents, "embeddings": embeddings}


def digest(table_dir: str) -> str:
    """sha256 over every table file, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(table_dir)):
        h.update(name.encode())
        with open(os.path.join(table_dir, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def input_bytes(table_dir: str, names) -> int:
    return sum(os.path.getsize(os.path.join(table_dir, f"{n}.parquet")) for n in names)
