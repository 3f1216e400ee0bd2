"""Seeded synthetic tables in the shape the query registry reads.

Writes one Parquet file per table (``region nation customer supplier part
orders lineitem events documents embeddings``) with the column names, types
and value domains of the TPC-H-like test data, at a row count set by the
scale factor ``sf`` (``sf=0.01`` gives 60,000 lineitem rows). The same
``(seed, sf)`` always gives byte-identical tables.

Every table is written in its canonical key order, as the real test data
is, so ``tables.load_pos`` can take its sorted-Parquet path. Lineitem keys
``(l_orderkey, l_linenumber)`` are unique (each order has lines ``1..k``),
so that order is total.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def sizes(sf: float) -> dict[str, int]:
    """Row counts per scaled table at scale factor ``sf``."""
    return {
        "customer": max(15, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(150, int(1_500_000 * sf)),
        "events": max(1000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    """All tables for ``(seed, sf)`` as Arrow tables."""
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": _names("Customer", nc),
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(_SEGMENTS, nc),
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": _names("Supplier", ns),
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    pk = np.arange(npart, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_PTYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, no) * _US_PER_DAY),
        "o_orderpriority": rng.choice(_PRIORITIES, no),
    })
    out["lineitem"] = _lineitem(rng, no, npart, ns)
    out["events"] = _events(rng, n["events"], nc)
    out["documents"] = _documents(rng, n["documents"])
    ne = n["embeddings"]
    vec = rng.standard_normal((ne, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(ne, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.ravel()), 64
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, ne).astype(np.int32),
    })
    return out


def lineitem(seed: int, orders: int, parts: int, suppliers: int) -> pa.Table:
    """A lineitem table on its own, for ``orders`` orders."""
    return _lineitem(np.random.default_rng(seed), orders, parts, suppliers)


def _lineitem(rng, orders: int, parts: int, suppliers: int) -> pa.Table:
    lines = rng.integers(1, 8, orders)
    okey = np.repeat(np.arange(orders, dtype=np.int64), lines)
    start = np.repeat(np.cumsum(lines) - lines, lines)
    lno = (np.arange(len(okey)) - start + 1).astype(np.int32)
    m = len(okey)
    return pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, parts, m),
        "l_suppkey": rng.integers(0, suppliers, m),
        "l_linenumber": lno,
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _ts(
            _EPOCH_1995 + (1 + rng.integers(0, 2499, m)) * _US_PER_DAY
        ),
    })


def _events(rng, count: int, users: int) -> pa.Table:
    span = 30 * _US_PER_DAY
    ts = np.sort(rng.integers(0, span, count)) + _EPOCH_2024
    return pa.table({
        "event_id": np.arange(count, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, users, count),
        "event_type": rng.choice(_EVENT_TYPES, count),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, count), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, count)],
    })


def _documents(rng, count: int) -> pa.Table:
    texts: list[str] = []
    for i in range(count):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: its words, the tail
            # trimmed by up to two, then a marker word
            base = texts[int(rng.integers(0, i))].split()
            cut = len(base) - int(rng.integers(0, 3))
            texts.append(" ".join(base[:cut] + ["dup"]))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_WORDS, k)))
    return pa.table({
        "doc_id": np.arange(count, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, count, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(count)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write(tables: dict[str, pa.Table], out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
