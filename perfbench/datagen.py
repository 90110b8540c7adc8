"""Seeded generator for the engine's ten input tables.

The benchmark never reads data from outside its checkout, so it writes
its own copy of the tables the catalog and the TV domain read
(``tv_event_streaming_spark.domain.TABLES``), with the same column
names, types and value shapes as the engine's test tables: a TPC-H-like
star schema, an ``events`` stream, short documents with planted
near-duplicates, and unit-norm embeddings clustered by label.

The same ``(seed, sizes)`` always gives byte-identical parquet files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Row counts of the engine's sf0.001 test tables; the catalog workload
#: runs at this size, where entries are bound by Spark jobs, not data.
TINY = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "fr", "es", "zh", "de"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EMB_DIM = 64
_EMB_LABELS = 10
#: Share of documents that are near-duplicates of another document.
NEAR_DUP_SHARE = 0.05


def _days(start: dt.date, n_days: int, rng: np.random.Generator, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return base + offs


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    # exactly NEAR_DUP_SHARE of the documents are near-duplicates, each of
    # a different original, so the dedup and clustering entries do the
    # same amount of work whatever the seed
    n_dup = int(n * NEAR_DUP_SHARE)
    slots = rng.permutation(np.arange(n // 2, n))[:n_dup]
    originals = rng.permutation(n // 2)[:n_dup]
    source = dict(zip(slots.tolist(), originals.tolist()))
    texts: list[str] = []
    for i in range(n):
        if i in source:
            # an earlier document with one word swapped, tagged
            words = texts[source[i]].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words) + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([_LANGS[j] for j in rng.integers(0, len(_LANGS), n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(_EMB_LABELS, _EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.permutation(np.arange(n) % _EMB_LABELS).astype(np.int32)
    x = 0.15 * centers[labels] + rng.normal(scale=0.12, size=(n, _EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    vecs = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), _EMB_DIM).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": vecs,
            "label": pa.array(labels),
        }
    )


def build_tables(seed: int, sizes: dict[str, int]) -> dict[str, pa.Table]:
    """All ten tables for ``seed``; ``sizes`` gives the row counts of the
    eight sized tables (``region`` and ``nation`` are fixed at 5 and 25)."""
    rng = np.random.default_rng(seed)
    c, s, p = sizes["customer"], sizes["supplier"], sizes["part"]
    o, li, ev = sizes["orders"], sizes["lineitem"], sizes["events"]
    i32, i64 = np.int32, np.int64
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=i32)), "r_name": pa.array(_REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=i32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c, dtype=i64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
            "c_nationkey": pa.array(rng.integers(0, 25, c).astype(i32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
            "c_mktsegment": pa.array([_SEGMENTS[j] for j in rng.integers(0, 5, c)]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s, dtype=i64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
            "s_nationkey": pa.array(rng.integers(0, 25, s).astype(i32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s)),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p, dtype=i64)),
            "p_name": pa.array(
                [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (p, 2))]
            ),
            "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, p)]),
            "p_type": pa.array([_PTYPES[j] for j in rng.integers(0, 6, p)]),
            "p_size": pa.array(rng.integers(1, 51, p).astype(i32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2)),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o, dtype=i64)),
            "o_custkey": pa.array(rng.integers(0, c, o).astype(i64)),
            "o_orderstatus": pa.array([("F", "O", "P")[j] for j in rng.integers(0, 3, o)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, o)),
            "o_orderdate": pa.array(_days(dt.date(1995, 1, 1), 2404, rng, o)),
            "o_orderpriority": pa.array([_PRIORITIES[j] for j in rng.integers(0, 5, o)]),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li).astype(i64)),
            "l_partkey": pa.array(rng.integers(0, p, li).astype(i64)),
            "l_suppkey": pa.array(rng.integers(0, s, li).astype(i64)),
            "l_linenumber": pa.array(rng.integers(1, 8, li).astype(i32)),
            "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, li)),
            "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
            "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, li)]),
            "l_linestatus": pa.array([("F", "O")[j] for j in rng.integers(0, 2, li)]),
            "l_shipdate": pa.array(_days(dt.date(1995, 1, 2), 2498, rng, li)),
        }
    )
    gaps = rng.integers(1, 2 * 30 * 86_400_000_000 // max(ev, 1), ev)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ev, dtype=i64)),
            "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, max(c // 10, 1), ev).astype(i64)),
            "event_type": pa.array([_EVENT_TYPES[j] for j in rng.integers(0, 5, ev)]),
            "value": pa.array(np.maximum(np.round(rng.lognormal(3.5, 1.0, ev), 2), 0.01)),
            "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, ev)]),
        }
    )
    t["documents"] = _documents(rng, sizes["documents"])
    t["embeddings"] = _embeddings(rng, sizes["embeddings"])
    return t


def write_tables(out_dir: str, seed: int, sizes: dict[str, int]) -> str:
    """Write ``<out_dir>/<table>.parquet`` for every table; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sizes).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
