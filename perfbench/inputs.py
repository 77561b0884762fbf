"""Deterministic input tables for the benchmark.

The tables have the schemas and value domains of the repository's
sf0.1 test fixtures (see FIXTURES.md): a TPC-H-like star schema, an
``events`` stream table, ``documents`` (word soup from a 30-word
vocabulary) and ``embeddings`` (random unit vectors, 10 labels). They
are generated from a fixed data seed, so every benchmark seed sees the
same tables and one stored fingerprint per op covers all seeds. The
benchmark seed only permutes op order and assigns documents to ingest
epochs (``epoch_plan``).

``documents`` holds near-duplicate clusters by construction: a copy is
its base document with `` dup`` appended, so a copy shares all but one
word 3-gram with its base (Jaccard >= 8/9, far above the ingest's 0.35
threshold) and documents of different clusters share almost none. The
cluster ids are the ground truth the ingest workload is checked against.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
# Row counts of the sf0.1 fixtures; every table but region, nation and
# documents scales with ``scale``. Documents are sized on their own.
SF01_ROWS = {
    "supplier": 1_000, "customer": 15_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000,
    "documents": 5_000, "embeddings": 2_000,
}
DUP_SHARE = 0.06

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = "blue red green hot cold large small dark".split()
NOUNS = "anvil bolt ring widget gear nut spring valve".split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: datetime, span_days: int, n: int) -> pa.Array:
    d = rng.integers(0, span_days + 1, n)
    base = np.datetime64(start, "us")
    return pa.array(base + d.astype("timedelta64[D]"), pa.timestamp("us"))


def _documents(rng, n: int) -> tuple[pa.Table, np.ndarray]:
    texts: list[str] = []
    cluster = np.arange(n)
    for i in range(n):
        if i > 10 and rng.random() < DUP_SHARE:
            base = int(cluster[rng.integers(0, i)])
            cluster[i] = base
            texts.append(texts[base] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, cluster


def tables(scale: float, n_documents: int) -> tuple[dict[str, pa.Table], np.ndarray]:
    """All ten tables plus the documents' near-duplicate cluster ids
    (the smallest doc_id of each cluster)."""
    rng = np.random.default_rng(DATA_SEED)
    n = {k: max(1, int(v * scale)) for k, v in SF01_ROWS.items()}
    n["documents"] = n_documents
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    pk = np.arange(n["part"])
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days(rng, datetime(1995, 1, 1), 2403, n["orders"]),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
    })
    m = n["lineitem"]
    qty = rng.integers(1, 51, m).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _days(rng, datetime(1995, 1, 2), 2498, m),
    })
    e = n["events"]
    span_us = int(timedelta(days=30).total_seconds() * 1e6)
    ts = np.sort(rng.integers(0, span_us, e)) + np.datetime64(datetime(2024, 1, 1), "us")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n["events"] // 66), e), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.round(rng.exponential(40.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    out["documents"], cluster = _documents(rng, n["documents"])
    k = n["embeddings"]
    vec = rng.normal(0.0, 1.0, (k, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k), pa.int32()),
    })
    return out, cluster


def write_tables(out_dir: str, scale: float, n_documents: int) -> np.ndarray:
    """Write every table as ``{out_dir}/{name}.parquet`` (the layout
    ``QUERIES[name](spark, sf_dir)`` reads); return the cluster ids."""
    os.makedirs(out_dir, exist_ok=True)
    out, cluster = tables(scale, n_documents)
    for name, table in out.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return cluster


def epoch_plan(seed: int, n_docs: int, epochs: int) -> list[np.ndarray]:
    """The ingest stream for ``seed``: all ``n_docs`` doc ids in a
    seeded random order, cut into ``epochs`` equal batches."""
    ids = np.random.default_rng(seed).permutation(n_docs)
    return [np.sort(b) for b in np.array_split(ids, epochs)]


def expected_survivors(batches: list[np.ndarray], cluster: np.ndarray) -> list[set[int]]:
    """Ground truth for ``NeardupIngest``: a doc survives its epoch iff
    its cluster was not seen in an earlier epoch and it is the smallest
    id of its cluster within the epoch."""
    seen: set[int] = set()
    out = []
    for ids in batches:
        first: dict[int, int] = {}
        for d in ids.tolist():
            c = int(cluster[d])
            if c not in seen and (c not in first or d < first[c]):
                first[c] = d
        seen.update(int(cluster[d]) for d in ids.tolist())
        out.append(set(first.values()))
    return out
