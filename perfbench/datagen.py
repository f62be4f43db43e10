"""Seeded generator for the benchmark's input tables.

Writes the ten tables the ``__spark_entry__`` entries read (the TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``) as one parquet
file each, with the same column names, types and value domains as the
repository's test data. The same ``(seed, sf, ...)`` always writes the same
bytes, so a run's inputs are fixed by its ``--seed``.

Documents carry seeded near-duplicates: a fixed share of them are copies of
an earlier document with one to three words changed and a ``dup`` marker
appended, which is what the dedup operators find.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
EMB_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _days(rng, n: int, start: dt.datetime, span_days: int) -> pa.Array:
    us = _us(start) + rng.integers(0, span_days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def documents(rng, n_base: int, dup_rate: float) -> pa.Table:
    """``n_base`` random documents plus ``round(n_base * dup_rate)``
    near-duplicates, shuffled into one id space."""
    vocab = np.array(VOCAB)
    texts = []
    for n_words in rng.integers(10, 100, n_base):
        texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), n_words)]))
    for src in rng.integers(0, n_base, int(round(n_base * dup_rate))):
        words = texts[src].split(" ")
        for pos in rng.integers(0, len(words), rng.integers(1, 4)):
            words[pos] = VOCAB[rng.integers(0, len(VOCAB))]
        texts.append(" ".join(words) + " dup")
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": list(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def tables(seed: int, sf: float, n_docs: int = 500, dup_rate: float = 0.05,
           n_vecs: int = 500) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(15000 * sf))
    n_supp = max(10, int(1000 * sf))
    n_part = max(200, int(20000 * sf))
    n_ord = max(1500, int(150000 * sf))
    n_evt = max(1000, int(100000 * sf))
    n_users = max(15, n_cust // 10)

    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": list(np.array(SEGMENTS)[
                rng.integers(0, 5, n_cust)])}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
                rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": list(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(
                900 + rng.integers(0, 1000, n_part) / 10, 1)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": list(np.array(["F", "O", "P"])[
                rng.integers(0, 3, n_ord)]),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, dt.datetime(1995, 1, 1), 2404),
            "o_orderpriority": list(np.array(PRIORITIES)[
                rng.integers(0, 5, n_ord)])}),
    }

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord), lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": list(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_li)]),
        "l_linestatus": list(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _days(rng, n_li, dt.datetime(1995, 1, 2), 2498),
    })

    gaps = rng.exponential(1.0, n_evt)
    offs = np.cumsum(gaps) / gaps.sum() * (30 * _DAY_US - 3_000_000_000)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(_us(dt.datetime(2024, 1, 1)) + offs.astype(np.int64),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": list(np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)]),
        "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })

    out["documents"] = documents(rng, n_docs, dup_rate)

    vecs = rng.standard_normal((n_vecs, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return out


def write(root: str, seed: int, sf: float, **kw) -> str:
    """Generate the tables and write ``<root>/<table>.parquet``; returns
    ``root``."""
    os.makedirs(root, exist_ok=True)
    for name, table in tables(seed, sf, **kw).items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return root
