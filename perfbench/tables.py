"""Seeded analytics tables for ``analytics_headline``.

The ten tables the headline queries read (the TPC-H-like star schema,
``events``, ``documents`` and ``embeddings``), written as one parquet file
each with the column names and Arrow types the queries expect.  Row counts
follow TPC-H's proportions at scale factor ``sf``; value domains (segments,
priorities, flags, date ranges, the 31-word document vocabulary, unit
64-dimensional embeddings) are those the queries' filters and joins test
for.  Everything is a function of the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("small", "large", "red", "hot", "old", "blue", "tiny", "steel")
PART_NOUN = ("ring", "widget", "plate", "rod", "bolt", "gear", "valve", "pipe")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
         "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
         "vector", "window")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
N_DOCS = 500  # documents and embeddings do not scale with sf
DUP_SHARE = 0.05  # documents that are another document plus " dup"
EMB_DIM = 64

_DAY_US = 86_400 * 10**6


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    """Midnight timestamps drawn uniformly from [lo, hi]."""
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = rng.integers(0, int((b - a).astype(int)) + 1, n)
    return (a + d).astype("datetime64[us]")


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng, options, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(options, dtype=object)[rng.choice(len(options), n, p=p)], pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _i32(x) -> pa.Array:
    return pa.array(np.asarray(x, dtype=np.int32))


def _i64(x) -> pa.Array:
    return pa.array(np.asarray(x, dtype=np.int64))


def _ts(x: np.ndarray) -> pa.Array:
    return pa.array(x.astype("datetime64[us]"), pa.timestamp("us"))


def _documents(rng) -> pa.Table:
    texts = []
    for _ in range(N_DOCS):
        n = int(rng.integers(10, 100))
        texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), n)]))
    # near duplicates: a later document repeats an earlier one, plus a word
    n_dup = int(N_DOCS * DUP_SHARE)
    for dst, src in zip(rng.choice(np.arange(N_DOCS // 2, N_DOCS), n_dup, replace=False),
                        rng.choice(N_DOCS // 2, n_dup, replace=False)):
        texts[dst] = texts[src] + " dup"
    return pa.table({
        "doc_id": _i64(np.arange(N_DOCS)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, N_DOCS, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
        "n_chars": _i64([len(t) for t in texts]),
    })


def _embeddings(rng) -> pa.Table:
    labels = rng.integers(0, 10, N_DOCS)
    centres = rng.standard_normal((10, EMB_DIM))
    x = 0.15 * centres[labels] + rng.standard_normal((N_DOCS, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": _i64(np.arange(N_DOCS)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": _i32(labels),
    })


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    out = {
        "region": pa.table({"r_regionkey": _i32(np.arange(5)),
                            "r_name": pa.array(REGIONS, pa.string())}),
        "nation": pa.table({"n_nationkey": _i32(np.arange(25)),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                            "n_regionkey": _i32(np.arange(25) % 5)}),
        "customer": pa.table({
            "c_custkey": _i64(np.arange(n_cust)),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": _i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": _i64(np.arange(n_supp)),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": _i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": _i64(np.arange(n_part)),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                                rng.integers(0, 8, (n_part, 2))], pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(0, 25, n_part)], pa.string()),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": _i32(rng.integers(1, 51, n_part)),
            "p_retailprice": pa.array(900.0 + rng.integers(0, 1000, n_part) / 10.0),
        }),
        "orders": pa.table({
            "o_orderkey": _i64(np.arange(n_ord)),
            "o_custkey": _i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": pa.array(_cents(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": _i64(rng.integers(0, n_ord, n_li)),
            "l_partkey": _i64(rng.integers(0, n_part, n_li)),
            "l_suppkey": _i64(rng.integers(0, n_supp, n_li)),
            "l_linenumber": _i32(rng.integers(1, 8, n_li)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_cents(rng, 900.0, 105_000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", n_li)),
        }),
    }
    # events: a Poisson stream over January 2024, ~67 events per user
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": _i64(np.arange(n_ev)),
        "ts": _ts(ts),
        "user_id": _i64(rng.integers(0, max(10, n_ev * 3 // 200), n_ev)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.minimum(np.round(rng.exponential(50.0, n_ev), 2) + 0.01, 490.02)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
    })
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def write_tables(seed: int, sf: float, directory: str) -> dict[str, int]:
    """Write ``<table>.parquet`` files under ``directory``; returns row counts."""
    os.makedirs(directory, exist_ok=True)
    rows = {}
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
