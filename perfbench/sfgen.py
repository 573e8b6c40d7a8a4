"""Seeded synthetic tables for the query sweep.

The same tables, column names and types, and value distributions as the
repository's read-only TPC-H-like test data (a star schema plus the
``events``, ``documents`` and ``embeddings`` tables), generated with numpy
from a seed so the sweep's inputs live inside the checkout. Row counts
scale with ``sf`` the way the test data's do (``events`` has 10^6 * sf
rows).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "window line sort data column join small order group query big stream "
    "customer filter index plan cache shard commit log file offset record "
    "bucket delta".split()
)
LANGS = ["en", "es", "de", "fr", "zh"]
DAY_US = 86_400_000_000
TS_2024 = 1_704_067_200_000_000  # 2024-01-01 in epoch us
TS_1995 = 788_918_400_000_000  # 1995-01-01 in epoch us


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}{i:09d}" for i in range(n)])


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_ev = int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_cust = max(10, int(150_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_li = int(6_000_000 * sf)
    n_doc = max(20, int(50_000 * sf))
    n_vec = max(20, int(50_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer#", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        )),
    })
    colors = ["red", "blue", "green", "small", "large", "black", "white", "steel"]
    things = ["widget", "bolt", "ring", "gear", "nut", "pipe", "valve", "spring"]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": pa.array([
            f"{colors[a]} {things[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        )),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier#", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    odate = TS_1995 + rng.integers(0, 2404, n_ord) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        )),
    })
    li_order = rng.integers(0, n_ord, n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": li_order,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts(odate[li_order] + rng.integers(1, 122, n_li) * DAY_US),
    })
    ev_ts = np.sort(TS_2024 + rng.integers(0, 30 * DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    out["documents"] = _documents(rng, n_doc)
    out["embeddings"] = _embeddings(rng, n_vec)
    return out


def _documents(rng, n: int) -> pa.Table:
    """Random-word documents; a tenth are exact copies and a tenth are
    near copies (one word replaced) of earlier documents, so the dedup
    queries have work to find."""
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.1:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.2:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(rng.choice(words, k)))
    lang = rng.choice(LANGS, n, p=[0.44, 0.14, 0.14, 0.13, 0.15])
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors around ten label centroids."""
    label = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, dim))
    v = centers[label] + rng.normal(0, 0.6, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def write(root: str, seed: int, sf: float) -> dict[str, int]:
    """Write one parquet file per table; returns row counts."""
    os.makedirs(root, exist_ok=True)
    rows = {}
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(root, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows
