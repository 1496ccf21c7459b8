"""Seeded generator for the ten analytics tables the query registry reads.

The tables have the column names, types and value vocabularies of the
catalog in ``adv_big_data_indexing_spark/sources/catalog.py`` (a
TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``), and the shape of the sf0.1 tables the repository's
tests read: keys dense from 0, near-uniform foreign keys (1-17 lines per
order there, mean 4.1; 45-99 events per user), document text drawn from
a vocabulary of about thirty words. About one document in twenty is an
earlier document with `` dup`` appended, so the dedup operators have
near-duplicates to find.

``write_tables(out_dir, seed, scale)`` writes one single-row-group
parquet file per table; the same seed and scale give byte-identical
files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("large", "red", "hot", "cold", "old", "new", "small", "blue")
PART_NOUN = ("anvil", "plate", "gizmo", "ring", "widget", "gear", "bolt", "rod")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
EMBED_DIM = 64


def _us(day: dt.date) -> int:
    return int((dt.datetime(day.year, day.month, day.day) - dt.datetime(1970, 1, 1)).total_seconds()) * 10**6


def _days(rng, n: int, first: dt.date, last: dt.date) -> pa.Array:
    span = (last - first).days + 1
    us = _us(first) + rng.integers(0, span, n).astype(np.int64) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _cents(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def row_counts(scale: float) -> dict[str, int]:
    """Rows per table; ``scale`` plays the role of a TPC-H scale factor."""
    return {
        "region": len(REGIONS),
        "nation": 25,
        "customer": max(10, round(150_000 * scale)),
        "supplier": max(5, round(10_000 * scale)),
        "part": max(20, round(200_000 * scale)),
        "orders": max(100, round(1_500_000 * scale)),
        "lineitem": max(400, round(6_000_000 * scale)),
        "events": max(500, round(1_000_000 * scale)),
        "documents": max(200, round(50_000 * scale)),
        "embeddings": max(200, round(20_000 * scale)),
    }


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(scale)
    i32, i64 = pa.int32(), pa.int64()

    def keys(k: int) -> pa.Array:
        return pa.array(np.arange(k, dtype=np.int64), i64)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), i32),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % len(REGIONS) for i in range(25)], i32),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": keys(nc),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(_cents(rng, nc, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": keys(ns),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(_cents(rng, ns, -999.99, 9999.99)),
    })
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": keys(npart),
        "p_name": _pick(rng, names, npart),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": pa.array([(90000 + (i % 200) * 10) / 100.0 for i in range(npart)]),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": keys(no),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
        "o_totalprice": pa.array(_cents(rng, no, 1000.0, 500000.0)),
        "o_orderdate": _days(rng, no, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, nl, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
        "l_linestatus": _pick(rng, ("F", "O"), nl),
        "l_shipdate": _days(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    ne = n["events"]
    start = _us(dt.date(2024, 1, 1))
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, ne)) + start
    t["events"] = pa.table({
        "event_id": keys(ne),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(5, round(15_000 * scale)), ne), i64),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]))
    t["documents"] = pa.table({
        "doc_id": keys(nd),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, nd, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(nd)], pa.string()),
        "n_chars": pa.array([len(s) for s in texts], i64),
    })
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": keys(nv),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32),
    })
    return t


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns file sizes."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in make_tables(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        sizes[name] = os.path.getsize(path)
    return sizes
