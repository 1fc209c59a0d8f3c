"""Seeded generator for the ten harness tables.

The engine's queries read ten parquet tables (a TPC-H-like star schema
plus ``events``, ``documents`` and ``embeddings``). The benchmark never
reads a fixed data set: every run writes its own copy of the tables
from ``--seed``, with the column names, types and value domains the
queries expect, so the same seed gives byte-identical inputs.

Row counts follow the scale factor ``sf`` the way the TPC-H generator
does (lineitem = 6,000,000 x sf); ``documents`` and ``embeddings``
have a floor so the text and vector workloads always have work.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("blue", "red", "hot", "old", "small", "large", "green",
             "bright", "dark", "cold", "new", "tiny", "heavy")
_PART_NOUN = ("anvil", "bolt", "plate", "ring", "rod", "widget",
              "gear", "valve", "spring", "hinge")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_STATUS = ("F", "O", "P")
_PRIORITY = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "dup",
          "fast", "filter", "group", "hash", "join", "key", "line", "merge",
          "order", "part", "query", "row", "scan", "slow", "small", "sort",
          "spark", "stream", "table", "the", "value", "vector", "window")
_LANGS = ("en", "es", "zh", "de", "fr")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EMBED_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _day_ts(rng, n: int, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    days = rng.integers(0, (hi - lo).days + 1, n)
    return pa.array(_us(lo) + days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def row_counts(sf: float) -> dict[str, int]:
    def scaled(base: int, floor: int = 1) -> int:
        return max(floor, int(round(base * sf)))

    return {
        "region": 5,
        "nation": 25,
        "customer": scaled(150_000, 10),
        "supplier": scaled(10_000, 5),
        "part": scaled(200_000, 10),
        "orders": scaled(1_500_000, 10),
        "lineitem": scaled(6_000_000, 10),
        "events": scaled(1_000_000, 100),
        "documents": scaled(50_000, 500),
        "embeddings": scaled(20_000, 500),
        "users": scaled(15_000, 10),
    }


def make_events(rng, n: int, n_users: int, first_id: int = 0) -> pa.Table:
    """``events`` rows: ordered timestamps over 30 days of 2024, users
    drawn uniformly, an exponential ``value`` and a small JSON ``props``."""
    lo = _us(dt.datetime(2024, 1, 1))
    ts = np.sort(rng.integers(lo, lo + 30 * 86_400_000_000, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, n: int) -> pa.Table:
    """Word-soup documents; about a fifth are near-copies of an earlier
    document with a few words replaced, so the dedup and similarity
    queries find pairs."""
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.2:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = str(words[rng.integers(0, len(words))])
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(10, 100)))])
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    """Unit vectors clustered around one centroid per label."""
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centroids[labels] + rng.normal(0.0, 1.5, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten tables as ``<out_dir>/<name>.parquet``; returns row counts."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    os.makedirs(out_dir, exist_ok=True)
    nc, ns, np_, no, nl = (n[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array(_names("Customer", nc)),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(_money(rng, nc, -999.99, 9999.99)),
            "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, nc)]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array(_names("Supplier", ns)),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": pa.array(_money(rng, ns, -999.99, 9999.99)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": pa.array([
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, len(_PART_ADJ), np_),
                                rng.integers(0, len(_PART_NOUN), np_))
            ]),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, np_)]),
            "p_type": pa.array(np.array(_PART_TYPES)[rng.integers(0, 6, np_)]),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array(np.array(_STATUS)[rng.integers(0, 3, no)]),
            "o_totalprice": pa.array(_money(rng, no, 1000.0, 500000.0)),
            "o_orderdate": _day_ts(rng, no, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
            "o_orderpriority": pa.array(np.array(_PRIORITY)[rng.integers(0, 5, no)]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, nl, 900.0, 105000.0)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(np.array(("A", "N", "R"))[rng.integers(0, 3, nl)]),
            "l_linestatus": pa.array(np.array(("F", "O"))[rng.integers(0, 2, nl)]),
            "l_shipdate": _day_ts(rng, nl, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
        }),
        "events": make_events(rng, n["events"], n["users"]),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
