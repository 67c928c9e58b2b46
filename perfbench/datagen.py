"""Seeded generator for the ten contract tables (TPC-H-ish star schema plus
``events``, ``documents`` and ``embeddings``).

The schemas, value domains and row counts per scale factor follow the
shared test data the contract queries are written against (lineitem is
6M rows x sf, orders 1.5M x sf, ...). Every value is drawn from one
``numpy`` generator seeded by ``seed``, so the same (sf, seed) writes
byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
_PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"]
_DAY_US = 86_400_000_000
# The workloads' inputs are the same for every benchmark seed: the seed
# picks victims and orders, never the data, so each op does the same work.
DATA_SEED = 7


def _ts(days: np.ndarray, base: str) -> pa.Array:
    """Whole days after ``base`` as naive microsecond timestamps."""
    base_us = np.datetime64(base, "us").astype(np.int64)
    return pa.array(base_us + days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def generate(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` as arrow tables."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 50)
    n_events = max(int(1_000_000 * sf), 100)
    n_docs = max(int(50_000 * sf), 50)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    )
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), n_part)]
    noun = np.array(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), n_part)]
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, len(types), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord), "1995-01-01"),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    # ~4 lines per order; the 4-part key (order, line, part, supp) is unique.
    n_li = max(int(6_000_000 * sf), 200)
    orderkey = np.sort(rng.integers(0, n_ord, n_li))
    first = np.r_[True, orderkey[1:] != orderkey[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(n_li), 0))
    linenumber = (np.arange(n_li) - run_start) % 7 + 1
    perm = rng.permutation(n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(orderkey[perm], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenumber[perm], pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng.integers(0, 2500, n_li), "1995-01-02"),
    })
    gaps = rng.exponential(259.0, n_events)
    base_us = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts_us = base_us + np.cumsum(gaps * 1e6).astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_events // 66, 10), n_events), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_events)
        ],
        "value": np.maximum(np.round(rng.exponential(49.6, n_events), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    words = np.array(_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(n))])
        for n in rng.integers(8, 90, n_docs)
    ]
    langs = np.array(["en", "en", "en", "es", "de", "fr", "zh"])
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n_docs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_tables(out_dir: str, sf: float, seed: int, names=None) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for each table in ``names``
    (default: all ten); returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    tables = generate(sf, seed)
    rows = {}
    for name in names or TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tables[name].num_rows
    return rows
