"""Seeded generator for the benchmark's input tables.

Writes the engine's ten fixture tables (the TPC-H-style star schema plus
``events``, ``documents`` and ``embeddings``) as one Parquet file each,
with the column names and types ``sources/catalog.py`` expects. Row
counts follow the fixture convention (``orders`` = 1.5M x sf, ``lineitem``
= 6M x sf, ...). The same ``(seed, sf)`` always gives the same bytes of
data, so a benchmark run's inputs are a function of its ``--seed``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
ORDER_DAY0 = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EVENT_T0 = dt.datetime(2024, 1, 1)
EVENT_SPAN_S = 30 * 86400
EMBED_DIM = 64


def orderkey(i: np.ndarray) -> np.ndarray:
    """TPC-H's sparse order keys: the first 8 of every 32 are used, so
    absent keys fall inside the key range (gets of them reach region
    routing and the bloom, not just the range check)."""
    return (i // 8) * 32 + (i % 8) + 1


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()], pa.string())


def _choice(rng, values, n) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)].tolist(), pa.string())


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, base: dt.datetime, span: int, n: int) -> pa.Array:
    us = np.datetime64(base, "us") + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def gen_tables(seed: int, sf: float, tables=ALL_TABLES) -> dict[str, pa.Table]:
    """Build the requested tables in memory. Each table draws from its
    own generator stream, so asking for a subset gives the same rows as
    asking for all of them."""
    n_cust = max(100, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_user = max(20, int(15_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_vec = max(100, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    def rng_for(name: str):
        return np.random.default_rng([seed, ALL_TABLES.index(name)])

    for name in tables:
        rng = rng_for(name)
        if name == "region":
            t = pa.table({
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            })
        elif name == "nation":
            t = pa.table({
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            })
        elif name == "customer":
            k = np.arange(n_cust, dtype=np.int64)
            t = pa.table({
                "c_custkey": k,
                "c_name": _names("Customer", k),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
            })
        elif name == "supplier":
            k = np.arange(n_supp, dtype=np.int64)
            t = pa.table({
                "s_suppkey": k,
                "s_name": _names("Supplier", k),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            })
        elif name == "part":
            k = np.arange(n_part, dtype=np.int64)
            adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), n_part)]
            noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), n_part)]
            t = pa.table({
                "p_partkey": k,
                "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)], pa.string()),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
                "p_type": _choice(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 2),
            })
        elif name == "orders":
            t = pa.table({
                "o_orderkey": orderkey(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": _choice(rng, ("F", "O", "P"), n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _days(rng, ORDER_DAY0, ORDER_DAYS, n_ord),
                "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
            })
        elif name == "lineitem":
            qty = rng.integers(1, 51, n_line).astype(np.float64)
            # line numbers are drawn, not enumerated: like the fixture
            # data, (l_orderkey, l_linenumber) is NOT unique
            t = pa.table({
                "l_orderkey": orderkey(rng.integers(0, n_ord, n_line)),
                "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": _choice(rng, ("A", "N", "R"), n_line),
                "l_linestatus": _choice(rng, ("F", "O"), n_line),
                "l_shipdate": _days(rng, ORDER_DAY0 + dt.timedelta(days=1), ORDER_DAYS + 95, n_line),
            })
        elif name == "events":
            offs = np.sort(rng.integers(0, EVENT_SPAN_S * 1_000_000, n_evt))
            ts = np.datetime64(EVENT_T0, "us") + offs.astype("timedelta64[us]")
            t = pa.table({
                "event_id": np.arange(n_evt, dtype=np.int64),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": rng.integers(0, n_user, n_evt).astype(np.int64),
                "event_type": _choice(rng, EVENT_TYPES, n_evt),
                "value": np.round(rng.exponential(50.0, n_evt) + 0.01, 2),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], pa.string()),
            })
        elif name == "documents":
            words = np.asarray(WORDS, dtype=object)
            texts = []
            for _ in range(n_doc):
                texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 100)))]))
            # a share of near-duplicates, the input dedup queries look for
            for i in rng.choice(n_doc, n_doc // 10, replace=False).tolist():
                texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
            t = pa.table({
                "doc_id": np.arange(n_doc, dtype=np.int64),
                "text": pa.array(texts, pa.string()),
                "lang": _choice(rng, LANGS, n_doc),
                "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_doc)], pa.string()),
                "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
            })
        elif name == "embeddings":
            v = rng.normal(0.0, 1.0, (n_vec, EMBED_DIM))
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            t = pa.table({
                "vec_id": np.arange(n_vec, dtype=np.int64),
                "embedding": pa.FixedSizeListArray.from_arrays(
                    pa.array(v.astype(np.float32).ravel(), pa.float32()), EMBED_DIM
                ).cast(pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
            })
        else:
            raise KeyError(f"unknown table {name!r}")
        out[name] = t
    return out


def write_tables(out_dir: str, seed: int, sf: float, tables=ALL_TABLES) -> dict[str, pa.Table]:
    """Generate ``tables`` and write each as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    built = gen_tables(seed, sf, tables)
    for name, t in built.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return built

