"""Seeded inputs: the synthetic tables, the memory corpus and the
query stream. The same seed gives the same inputs, byte for byte.

The tables follow the layout of the project's synthetic test corpus
(a TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``): a 30-word vocabulary, 10-100 word documents of which
5 % are near-duplicates ending in ``dup``, 20 ``srcN`` sources, unit
64-d embeddings with 10 labels, and a month of user events.
"""

from __future__ import annotations

import json
import os
import zlib
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
EMBED_DIM = 64
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

#: Row counts of the generated tables. ``embeddings`` and ``events``
#: have their sf0.1 sizes. ``documents`` has 2,000 rows, not sf0.1's
#: 5,000: dedup's DuckDB twin is quadratic in it and takes about 40 s
#: at 5,000. The TPC-H tables stay small because no benchmarked query
#: reads them. The embeddings floor is 500: the ANN plans seed k-means
#: from fixed vector ids up to 457.
TABLE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 100000,
    "documents": 2000,
    "embeddings": 2000,
}

#: Zipf exponent of the query terms' popularity
ZIPF_S = 1.1


def stream_rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input, so resizing one table never
    # changes another
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def documents(seed: int, n: int) -> list[dict]:
    rng = stream_rng(seed, "documents")
    docs = []
    for i in range(n):
        words = rng.choice(VOCAB, size=int(rng.integers(10, 101)))
        text = " ".join(words)
        docs.append({"doc_id": i, "text": text, "lang": str(rng.choice(LANGS, p=LANG_P)),
                     "source": f"src{i % N_SOURCES}", "n_chars": len(text)})
    for i in rng.choice(n, size=n // 20, replace=False):
        base = docs[int(rng.integers(n))]["text"]
        docs[i]["text"] = f"{base} dup"
        docs[i]["n_chars"] = len(docs[i]["text"])
    return docs


def embeddings(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    rng = stream_rng(seed, "embeddings")
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs, rng.integers(0, 10, size=n).astype(np.int32)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(seed: int, out_dir: str) -> None:
    """Write every table the query registry can read, one parquet file each."""
    rows = TABLE_ROWS
    os.makedirs(out_dir, exist_ok=True)

    docs = documents(seed, rows["documents"])
    _write(out_dir, "documents", {k: [d[k] for d in docs] for k in docs[0]})

    vecs, labels = embeddings(seed, rows["embeddings"])
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })

    rng = stream_rng(seed, "events")
    n, users = rows["events"], max(1, rows["events"] // 60)
    start = datetime(2024, 1, 1)
    offsets = np.sort(rng.uniform(0, 30 * 86400, size=n))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array([start + timedelta(seconds=float(s)) for s in offsets], type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, size=n).astype(np.int64)),
        "event_type": [str(t) for t in rng.choice(EVENT_TYPES, size=n)],
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, size=n)],
    })

    rng = stream_rng(seed, "tpch")
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(rows["region"], dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"][: rows["region"]],
    })
    nn = rows["nation"]
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(nn, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(nn)],
        "n_regionkey": pa.array((np.arange(nn) % rows["region"]).astype(np.int32)),
    })
    nc = rows["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, nn, size=nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=nc), 2)),
        "c_mktsegment": [str(s) for s in rng.choice(SEGMENTS, size=nc)],
    })
    ns = rows["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, nn, size=ns).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=ns), 2)),
    })
    npart = rows["part"]
    adjectives = ("cold", "small", "large", "bright", "plain")
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": [f"{adjectives[i % 5]} widget" for i in range(npart)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=npart)],
        "p_type": [str(t) for t in rng.choice(("ECONOMY", "STANDARD", "PROMO", "LARGE"), size=npart)],
        "p_size": pa.array(rng.integers(1, 51, size=npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + np.arange(npart) * 0.1, 2)),
    })
    no = rows["orders"]
    day0 = datetime(1992, 1, 1)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, size=no).astype(np.int64)),
        "o_orderstatus": [str(s) for s in rng.choice(("F", "O", "P"), size=no)],
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 400000.0, size=no), 2)),
        "o_orderdate": pa.array([day0 + timedelta(days=int(d)) for d in rng.integers(0, 2400, size=no)],
                                type=pa.timestamp("us")),
        "o_orderpriority": [str(p) for p in rng.choice(PRIORITIES, size=no)],
    })
    nl = rows["lineitem"]
    qty = rng.integers(1, 51, size=nl).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, size=nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, size=nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, size=nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, size=nl).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, size=nl), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, size=nl) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, size=nl) / 100.0, 2)),
        "l_returnflag": [str(f) for f in rng.choice(("A", "N", "R"), size=nl)],
        "l_linestatus": [str(s) for s in rng.choice(("F", "O"), size=nl)],
        "l_shipdate": pa.array([day0 + timedelta(days=int(d)) for d in rng.integers(30, 2500, size=nl)],
                               type=pa.timestamp("us")),
    })


def query_plan(seed: int, n: int) -> list[str]:
    """``n`` search strings of 3-5 distinct terms. Terms are drawn
    with Zipf skew over a seed-shuffled vocabulary, so a few strings
    repeat and most do not. The term count cycles 3, 4, 5, so every
    run's first searches carry the same term work whatever the seed.
    The list depends on the seed alone, never on how many clients
    later consume it."""
    rng = stream_rng(seed, "queries")
    ranked = list(rng.permutation(VOCAB))
    weights = 1.0 / np.arange(1, len(ranked) + 1) ** ZIPF_S
    weights /= weights.sum()
    plan = []
    for i in range(n):
        k = 3 + i % 3
        plan.append(" ".join(str(ranked[i]) for i in rng.choice(len(ranked), size=k, replace=False, p=weights)))
    return plan


def write_texts(seed: int, n: int) -> list[str]:
    """Texts for the traced run's write phase (adds and extracted facts)."""
    rng = stream_rng(seed, "writes")
    return [" ".join(str(w) for w in rng.choice(VOCAB, size=int(rng.integers(6, 12)))) + f" note {i}"
            for i in range(n)]
