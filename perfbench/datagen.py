"""Seeded synthetic inputs for the benchmark.

Writes the three tables the benchmark's workloads read -- ``lineitem``,
``events`` and ``documents`` -- as one parquet file each, in the layout
``sources.load_table`` reads (``<dir>/<name>.parquet``), with the
column names and types of ``sources.catalog.TABLES``. Row counts and
value distributions follow the TPC-H-like test tables at the same
scale factor: uniform part and order keys (about 4 lines per order),
integral quantities 1..50, discounts in whole percent, events spread
uniformly over 30 days with exponential values, and documents drawn
from a 30-word vocabulary with 5% near-duplicates (an earlier text
plus `` dup``) and a few exact copies.

The same ``(scale, seed)`` always gives byte-identical tables.
:func:`reference` computes, in NumPy and independent of Spark, the
values the benchmark's correctness checks compare against.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast "
    "row the agg key query a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
EVENT_TYPES = np.array(["click", "view", "error", "purchase", "signup"])
DAY_US = 86_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00


def _lineitem(rng: np.random.Generator, sf: float) -> pa.Table:
    n = int(6_000_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_parts = int(200_000 * sf)
    n_supp = max(1, int(10_000 * sf))
    ship = EPOCH_1995_US + rng.integers(0, 2500, n) * DAY_US
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n),
            "l_partkey": rng.integers(0, n_parts, n),
            "l_suppkey": rng.integers(0, n_supp, n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
            "l_linestatus": rng.choice(np.array(["O", "F"]), n),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )


def _events(rng: np.random.Generator, sf: float) -> pa.Table:
    n = int(1_000_000 * sf)
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n))
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, int(15_000 * sf)), n),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": value,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng: np.random.Generator, sf: float) -> pa.Table:
    n = int(50_000 * sf)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _hashmin(orderkey: np.ndarray, partkey: np.ndarray, rounds: int, min_support: int) -> tuple[int, int]:
    """NumPy replica of the support-graph components query: part pairs
    bought together in at least ``min_support`` distinct orders are
    edges; every vertex takes the minimum label within ``rounds``
    hash-min rounds. Returns (vertex count, sum of labels)."""
    op = np.unique(np.stack([orderkey, partkey], axis=1), axis=0)
    cuts = np.flatnonzero(np.diff(op[:, 0])) + 1
    pairs = []
    for parts in np.split(op[:, 1], cuts):
        if len(parts) > 1:
            a, b = np.triu_indices(len(parts), 1)
            pairs.append(np.stack([parts[a], parts[b]], axis=1))
    if not pairs:
        return 0, 0
    edges, support = np.unique(np.concatenate(pairs), axis=0, return_counts=True)
    edges = edges[support >= min_support]
    src = np.concatenate([edges[:, 0], edges[:, 1]])
    dst = np.concatenate([edges[:, 1], edges[:, 0]])
    label = np.arange(int(partkey.max()) + 1)
    for _ in range(rounds):
        nxt = label.copy()
        np.minimum.at(nxt, dst, label[src])
        label = nxt
    verts = np.unique(src)
    return int(len(verts)), int(label[verts].sum())


def reference(tables: dict[str, pa.Table], rounds: int, min_support: int) -> dict:
    """Values the workload checks compare against, computed from the
    tables in NumPy, independent of Spark."""
    li = tables["lineitem"]
    orderkey = li["l_orderkey"].to_numpy()
    partkey = li["l_partkey"].to_numpy()
    price = li["l_extendedprice"].to_numpy()
    disc = li["l_discount"].to_numpy()
    hour = orderkey % 24
    ev = tables["events"]
    ev_hour = (ev["ts"].cast(pa.int64()).to_numpy() // 3_600_000_000) % 24
    ev_sum = np.bincount(ev_hour, weights=ev["value"].to_numpy(), minlength=24)
    doc_id = tables["documents"]["doc_id"].to_numpy()
    vertices, label_sum = _hashmin(orderkey, partkey, rounds, min_support)
    return {
        # flagship: every part with revenue x every hour with event value
        "revenue": float(np.sum(price * (1 - disc))),
        "cost_cells": int(len(np.unique(partkey)) * np.count_nonzero(ev_sum)),
        # coordinate: the (part, pseudo-hour) quantity matrix
        "quantity": float(np.sum(li["l_quantity"].to_numpy())),
        "qty_cells": int(len(np.unique(partkey * 24 + hour))),
        # driver_loops: gr08 and d11
        "graph_vertices": vertices,
        "graph_label_sum": label_sum,
        "dedup_docs": int(len(doc_id) + np.count_nonzero(doc_id % 10 == 0)),
    }


def generate(sf: float, seed: int) -> dict[str, pa.Table]:
    """The three tables at scale ``sf`` for ``seed``. Each table draws
    from its own child stream, so one table's size never shifts
    another's values."""
    lrng, erng, drng = (
        np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(3)
    )
    return {
        "lineitem": _lineitem(lrng, sf),
        "events": _events(erng, sf),
        "documents": _documents(drng, sf),
    }


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

