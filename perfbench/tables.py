"""Seeded parquet tables for the ``query_registry`` workload.

The ``QUERIES`` registry reads ten tables from one directory: a small
TPC-H-like star schema (``region nation customer supplier part orders
lineitem``), an ``events`` stream table, a ``documents`` text table and an
``embeddings`` vector table. This module writes all ten, with the column
names and types the registry expects, from a seed and a scale factor: the
row counts follow TPC-H's (``lineitem`` ~6M x sf, ``orders`` 1.5M x sf,
``customer`` 150k x sf, ``part`` 200k x sf, ``supplier`` 10k x sf) plus
``events`` 1M x sf; ``documents`` and ``embeddings`` have 500 rows at
every scale.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "cold", "hot", "new", "small", "large", "old"]
PART_NOUN = ["widget", "bolt", "gear", "rod", "anvil", "ring", "nut", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("a the data row column table query spark batch stream join hash merge sort "
         "scan filter group agg window key value order line part customer vector "
         "small big fast slow").split()
LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.14, 0.14, 0.14, 0.14])
N_DOCS = 500
EMB_DIM = 64

_DAY_US = 86_400_000_000
_ORDER_EPOCH_DAYS = (np.datetime64("1995-01-01") - np.datetime64("1970-01-01")).astype(int)
_ORDER_SPAN_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_EVENT_EPOCH_US = int((np.datetime64("2024-01-01T00:00:00", "us")
                       - np.datetime64("1970-01-01T00:00:00", "us")).astype(np.int64))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables, fixed by ``seed`` and ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) * 0.1, 2),
    })
    odays = rng.integers(0, _ORDER_SPAN_DAYS + 1, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord, p=[0.49, 0.49, 0.02]).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts((odays + _ORDER_EPOCH_DAYS) * _DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
    })
    lorder = np.sort(rng.integers(0, n_ord, n_line))
    first = np.r_[True, lorder[1:] != lorder[:-1]]
    starts = np.maximum.accumulate(np.where(first, np.arange(n_line), 0))
    lineno = np.arange(n_line) - starts + 1
    qty = rng.integers(1, 51, n_line).astype(float)
    ship = odays[lorder] + rng.integers(1, 122, n_line)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lorder, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line, p=[0.25, 0.5, 0.25]).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
        "l_shipdate": _ts((ship + _ORDER_EPOCH_DAYS) * _DAY_US),
    })
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + _EVENT_EPOCH_US
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ev_us),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(N_DOCS):
        if i % 20 == 19:  # an exact copy of an earlier document, marked
            texts.append(texts[i - 19 + int(rng.integers(0, 10))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS[0], N_DOCS, p=LANGS[1]).tolist(),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    emb = rng.standard_normal((N_DOCS, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_DOCS), pa.int32()),
    })
    return t


def write(root: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<table>.parquet`` under ``root``; returns rows per table."""
    os.makedirs(root, exist_ok=True)
    rows = {}
    for name, table in build(seed, sf).items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
