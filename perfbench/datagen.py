"""Seeded input tables for the benchmark.

Writes the package's table layout (``<dir>/<name>.parquet``, the same
names and column types ``io_tables.load_table`` and the DuckDB oracles
read) from a NumPy generator seeded by the run's ``--seed``.  Row
counts are fixed per workload; only the content varies with the seed,
so every seed does the same amount of work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the package's synthetic-corpus vocabulary (30 words, including the
# bm25 query terms 'vector', 'stream' and 'merge')
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("cold", "small", "large", "shiny", "red", "blue", "heavy", "soft")
PART_NOUN = ("widget", "gadget", "bolt", "panel", "valve", "gear")
PART_TYPES = ("ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM")
DAY_MS = 86_400_000
EPOCH_1995_MS = 788_918_400_000


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """doc_id, text, lang, source, n_chars — texts of 10..100 words.
    Every 20th row repeats an earlier row plus the word 'dup' (the
    near-duplicates the dedup queries find); every 3rd row carries a
    section number, the digits the extractive generator answers with."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 19:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        words = list(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        if i % 3 == 0:
            words.insert(int(rng.integers(0, len(words))),
                         str(int(rng.integers(1, 900))))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """vec_id, embedding FLOAT[dim] unit vectors around 10 centres, label."""
    centres = rng.standard_normal((10, dim))
    label = rng.integers(0, 10, n)
    v = centres[label] + 1.5 * rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def _ts(ms: np.ndarray) -> pa.Array:
    return pa.array(ms.astype("datetime64[ms]").astype("datetime64[us]"))


def tpch(rng: np.random.Generator, n_orders: int) -> dict[str, pa.Table]:
    """region/nation/customer/supplier/part/orders/lineitem with about
    four lineitems per order and the key ratios of the package's data."""
    n_cust = max(10, n_orders // 10)
    n_supp = max(5, n_orders // 150)
    n_part = max(20, n_orders // 7)
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, len(PART_ADJ), n_part),
            rng.integers(0, len(PART_NOUN), n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[k] for k in rng.integers(0, 5, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })
    odate = EPOCH_1995_MS + rng.integers(0, 6 * 365, n_orders) * DAY_MS
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)),
        "o_orderstatus": [("F", "O", "P")[k]
                          for k in rng.integers(0, 3, n_orders)],
        "o_totalprice": pa.array(
            np.round(rng.uniform(1000, 450000, n_orders), 2)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[k]
                            for k in rng.integers(0, 5, n_orders)],
    })
    per_order = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)
    n_li = len(okey)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in per_order])
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(linenumber.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(odate, per_order)
                          + rng.integers(1, 122, n_li) * DAY_MS),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def write_tables(out_dir: str, seed: int, *, n_docs: int, n_vecs: int = 0,
                 n_orders: int = 0) -> dict[str, pa.Table]:
    """Generate and write the tables one workload reads; returns them."""
    rng = np.random.default_rng(seed)
    tables = {"documents": documents(rng, n_docs)}
    if n_vecs:
        tables["embeddings"] = embeddings(rng, n_vecs)
    if n_orders:
        tables.update(tpch(rng, n_orders))
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return tables
