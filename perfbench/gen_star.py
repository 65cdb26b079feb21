"""Seeded generator for the star-schema tables the query registry reads.

Writes the ten tables ``queries.common.TABLES`` names (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as one snappy parquet file each, with the column names,
types and value domains of the engine's reference test data. ``scale``
1.0 gives the sf0.01 row counts (60k lineitem rows, 500 documents); the
same ``(seed, scale)`` always gives the same tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10

# sf0.01 row counts of the reference data
BASE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "users": 150,
    "documents": 500,
    "embeddings": 500,
}

_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _days_to_ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables; deterministic in ``(seed, scale)``."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(round(v * scale))) for k, v in BASE_ROWS.items()}
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": _names("Customer", nc),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )

    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": _names("Supplier", ns),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )

    npart = n["part"]
    keys = np.arange(npart)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
        }
    )

    no = n["orders"]
    d0 = (dt.datetime(1995, 1, 1) - _EPOCH).days
    d1 = (dt.datetime(2001, 8, 1) - _EPOCH).days
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days_to_ts(rng.integers(d0, d1 + 1, no)),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )

    # four lines per order on average; the total is fixed so every seed
    # gives the same row counts
    per_order = rng.multinomial(4 * no, np.full(no, 1.0 / no))
    nl = 4 * no
    l_order = np.repeat(np.arange(no), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _days_to_ts(rng.integers(d0 + 1, d1 + 95, nl)),
        }
    )

    ne = n["events"]
    t0 = _us(dt.datetime(2024, 1, 1))
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(t0, t0 + span_us, ne))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": np.round(np.clip(rng.exponential(50.0, ne), 0.01, 490.0), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )

    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    """Word-salad documents over a small vocabulary. Every tenth document
    from the tenth on is a near-copy of an earlier one (one word swapped
    for ``dup``), so the dedup operators have families to find. The seed
    picks the words, the order of a fixed set of lengths, the documents
    copied and the order of a fixed language mix, so every seed gives the
    originals the same lengths and the corpus the same copy count: the
    work of a pass barely follows the seed."""
    n_orig = nd - len(range(10, nd, 10))
    lengths = iter(rng.permutation(10 + (np.arange(n_orig) * 90) // max(1, n_orig - 1)))
    texts: list[str] = []
    for i in range(nd):
        if i >= 10 and i % 10 == 0:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = [WORDS[w] for w in rng.integers(0, len(WORDS), int(next(lengths)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.permutation(np.arange(nd) % len(LANGS))],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, nv: int) -> pa.Table:
    """Unit vectors scattered around one centre per label; every label
    holds the same number of vectors (one more for the first ``nv %
    N_LABELS``), so the within-label pair stages do the same work for
    every seed."""
    centres = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    labels = rng.permutation(np.arange(nv) % N_LABELS)
    vecs = centres[labels] + rng.normal(0.0, 1.5, (nv, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(nv + 1) * EMBED_DIM, pa.int32()),
                pa.array(vecs.ravel(), pa.float32()),
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_star(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in build_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
        rows[name] = table.num_rows
    return rows

