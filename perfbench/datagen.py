"""Seeded synthetic inputs: the TPC-H-ish star schema plus the `events`,
`documents` and `embeddings` tables the operator queries read.

Every table is a pure function of (seed, scale factor): the same seed writes
byte-identical parquet. Shapes and value domains follow the tables the
package's own queries are written against (`region nation customer supplier
part orders lineitem events documents embeddings`), so the operators run on
data of the kind they expect. Generation is numpy + pyarrow in the Python
process; no Spark job runs here.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["red", "new", "hot", "old", "big", "dark", "pale", "cold"]
_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_WORDS = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()

_DAY_US = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor `sf` (lineitem is ~4x orders)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(10, int(200_000 * sf)),
        "orders": max(10, int(1_500_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(200, int(50_000 * sf)),
        "embeddings": max(200, int(20_000 * sf)),
    }


def gen_region(rng, n):
    return pa.table({"r_regionkey": pa.array(np.arange(n), pa.int32()), "r_name": pa.array(_REGIONS[:n])})


def gen_nation(rng, n):
    return pa.table(
        {
            "n_nationkey": pa.array(np.arange(n), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(n)]),
            "n_regionkey": pa.array(rng.integers(0, 5, n), pa.int32()),
        }
    )


def gen_customer(rng, n):
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
            "c_mktsegment": _pick(rng, _SEGMENTS, n),
        }
    )


def gen_supplier(rng, n):
    return pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        }
    )


def gen_part(rng, n):
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    keys = np.arange(n)
    return pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": _pick(rng, names, n),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n)]),
            "p_type": _pick(rng, _TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 2)),
        }
    )


def gen_orders(rng, n, n_cust):
    start, end = _us(dt.datetime(1995, 1, 1)), _us(dt.datetime(2001, 8, 1))
    days = rng.integers(0, (end - start) // _DAY_US + 1, n)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
            "o_orderdate": _ts(start + days * _DAY_US),
            "o_orderpriority": _pick(rng, _PRIORITIES, n),
        }
    )


def gen_lineitem(rng, orders: pa.Table, n_part, n_supp):
    n_orders = orders.num_rows
    per_order = rng.integers(1, 8, n_orders)
    n = int(per_order.sum())
    okey = np.repeat(orders.column("o_orderkey").to_numpy(), per_order)
    odate = np.repeat(orders.column("o_orderdate").cast(pa.int64()).to_numpy(), per_order)
    first = np.repeat(np.cumsum(per_order) - per_order, per_order)
    linenumber = np.arange(n) - first + 1
    partkey = rng.integers(0, n_part, n)
    qty = rng.integers(1, 51, n).astype("float64")
    price = np.round(qty * (900.0 + (partkey % 1000) / 10.0) * rng.uniform(0.95, 2.1, n), 2)
    return pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _ts(odate + rng.integers(1, 122, n) * _DAY_US),
        }
    )


def gen_events(rng, n):
    start = _us(dt.datetime(2024, 1, 1))
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + start
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, max(10, n // 66), n), pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, n),
            "value": pa.array(np.round(np.minimum(rng.exponential(50.0, n), 560.0), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def gen_documents(rng, n):
    """Bag-of-words docs over a 30-word vocabulary; ~5 % are near-duplicates
    of an earlier doc with a trailing ' dup' token, so the dedup operators
    have clusters to find."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def gen_embeddings(rng, n, dim=64):
    """Unit vectors scattered around ten label centroids."""
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    vecs = centroids[labels] + rng.normal(0.0, 1.2, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype("float32").ravel())
    offsets = pa.array(np.arange(0, n * dim + 1, dim), pa.int32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels, pa.int32()),
        }
    )


def generate(seed: int, sf: float, tables: list[str] | None = None) -> dict[str, pa.Table]:
    """All (or the named) tables for one seed. Each table draws from its own
    child stream, so asking for a subset yields the same rows as the full set."""
    want = set(tables or TABLES)
    n = sizes(sf)
    streams = dict(zip(TABLES, np.random.SeedSequence(seed).spawn(len(TABLES))))

    def rng(name):
        return np.random.default_rng(streams[name])

    out: dict[str, pa.Table] = {}
    for name in ("region", "nation", "customer", "supplier", "part", "events", "documents", "embeddings"):
        if name in want:
            out[name] = globals()[f"gen_{name}"](rng(name), n[name])
    if want & {"orders", "lineitem"}:
        orders = gen_orders(rng("orders"), n["orders"], n["customer"])
        if "orders" in want:
            out["orders"] = orders
        if "lineitem" in want:
            out["lineitem"] = gen_lineitem(rng("lineitem"), orders, n["part"], n["supplier"])
    return out


def write(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    """Write each table as `<out_dir>/<name>.parquet`; returns name -> path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
