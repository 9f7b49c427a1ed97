"""Seeded input generator for the engine benchmark.

Writes the ten fixture tables the engine reads (TPC-H-shaped star
schema plus ``events``, ``documents`` and ``embeddings``) with the
column names, physical types and value populations of the engine's
own test fixtures, so every registered query runs on them unchanged.
Everything is drawn from one ``numpy`` generator seeded by the
caller, and parquet is written with fixed settings, so the same seed
gives byte-identical files.

``tick_tables`` gives the scheduled pipeline's inputs on one tick:
``orders`` gains one new trading day per tick. The entity universe
(``customer``) stays as generated: each tick's change volume is set by
``plans.ticker``, which derives both the previous and the current
snapshot from that one table.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_WORDS = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_EMB_DIM, _EMB_LABELS = 64, 10

_ORDER_START = dt.datetime(1995, 1, 1)
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_SHIP_START = dt.datetime(1995, 1, 2)
_SHIP_DAYS = 2498
_EVENT_START = dt.datetime(2024, 1, 1)
_EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _ts(start: dt.datetime, micros: np.ndarray) -> pa.Array:
    base = int((start - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base + micros.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _customer(rng, n):
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n)],
    })


def _orders(rng, n, n_cust, first_key=0, day_lo=0, day_hi=_ORDER_DAYS):
    return pa.table({
        "o_orderkey": np.arange(first_key, first_key + n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": [_STATUS[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(_ORDER_START,
                           rng.integers(day_lo, day_hi, n) * 86_400_000_000),
        "o_orderpriority": [_PRIO[i] for i in rng.integers(0, 5, n)],
    })


def _documents(rng, n):
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS),
                                                     int(rng.integers(8, 95)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n):
    centers = rng.normal(size=(_EMB_LABELS, _EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, _EMB_LABELS, n)
    vecs = 0.14 * centers[labels] + rng.normal(0.0, 0.125, (n, _EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten fixture tables at scale factor ``sf`` for ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), min(int(50_000 * sf), 2000)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = _customer(rng, n_cust)
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [_PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    t["orders"] = _orders(rng, n_ord, n_cust)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_SHIP_START,
                          rng.integers(0, _SHIP_DAYS, n_line) * 86_400_000_000),
    })
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(_EVENT_START,
                  np.sort(rng.integers(0, _EVENT_SPAN_US, n_ev))),
        "user_id": rng.integers(0, max(int(15_000 * sf), 1), n_ev).astype(np.int64),
        "event_type": [_EVENTS[i] for i in rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def tick_tables(base: dict[str, pa.Table], seed: int,
                tick: int) -> dict[str, pa.Table]:
    """The scheduled pipeline's inputs on day ``tick`` (0-based):
    ``base``'s customers, and ``base``'s orders plus one new trading
    day for each of the ``tick + 1`` elapsed days."""
    n_cust = base["customer"].num_rows
    per_day = max(base["orders"].num_rows // _ORDER_DAYS, 1)
    orders = [base["orders"]]
    for day in range(tick + 1):
        rng = np.random.default_rng([seed, 7919, day])
        orders.append(_orders(rng, per_day, n_cust,
                              base["orders"].num_rows + day * per_day,
                              _ORDER_DAYS + day, _ORDER_DAYS + day + 1))
    return {"customer": base["customer"], "orders": pa.concat_tables(orders)}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-row-group snappy parquet file per table, no pandas
    metadata — a deterministic byte layout for deterministic input."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl.replace_schema_metadata(None),
                       f"{out_dir}/{name}.parquet", compression="snappy",
                       row_group_size=max(tbl.num_rows, 1))
