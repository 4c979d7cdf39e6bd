"""Seeded generator of the engine's ten input tables.

Produces the TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings`` with the column names, types and value distributions of
the tables the inventory is written against (FIXTURES.md §B): money on a
0.01 grid, naive microsecond timestamps, a 31-word document vocabulary
with 5 % near-duplicates (an earlier document plus `` dup``), and
unit-norm 64-d float32 embeddings. Same ``(seed, sf)`` → byte-identical
parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("red", "new", "hot", "small", "cold", "large", "old", "blue")
PART_NOUN = ("bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def table_rows(sf: float) -> dict[str, int]:
    """Row count of every table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(round(lo * 100), round(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    dup = rng.random(n) < 0.05
    lengths = rng.integers(10, 101, n)
    for i in range(n):
        if dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), lengths[i])))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dims: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dims)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dims, dims, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rows = table_rows(sf)
    # one independent stream per table, so adding a column to one table
    # never shifts the values of another
    rng = {t: np.random.default_rng([seed, i]) for i, t in enumerate(rows)}
    n = rows
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    r = rng["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
            "c_nationkey": pa.array(r.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n["customer"])),
            "c_mktsegment": _pick(r, SEGMENTS, n["customer"]),
        }
    )
    r = rng["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
            "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n["supplier"])),
        }
    )
    r = rng["part"]
    k = np.arange(n["part"])
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(k, pa.int64()),
            "p_name": _pick(r, names, n["part"]),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n["part"])]),
            "p_type": _pick(r, PART_TYPES, n["part"]),
            "p_size": pa.array(r.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (k % 1000) / 10.0, 1)),
        }
    )
    r = rng["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": _pick(r, ("F", "O", "P"), n["orders"]),
            "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n["orders"])),
            "o_orderdate": _days(r, "1995-01-01", "2001-08-01", n["orders"]),
            "o_orderpriority": _pick(r, PRIORITIES, n["orders"]),
        }
    )
    r = rng["lineitem"]
    m = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n["orders"], m), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n["part"], m), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], m), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, m), pa.int32()),
            "l_quantity": pa.array(r.integers(1, 51, m).astype(np.float64)),
            "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, m)),
            "l_discount": pa.array(r.integers(0, 11, m) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, m) / 100.0),
            "l_returnflag": _pick(r, ("A", "N", "R"), m),
            "l_linestatus": _pick(r, ("F", "O"), m),
            "l_shipdate": _days(r, "1995-01-02", "2001-11-04", m),
        }
    )
    r = rng["events"]
    e = n["events"]
    gaps = r.exponential(1.0, e)
    span_us = 30 * _DAY_US - 60_000_000
    ts = np.datetime64("2024-01-01", "us").astype(np.int64) + (
        np.cumsum(gaps) / gaps.sum() * span_us
    ).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, max(1, round(15_000 * sf)), e), pa.int64()),
            "event_type": _pick(r, EVENT_TYPES, e),
            "value": pa.array(np.round(r.exponential(50.0, e), 2)),
            "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, e)]),
        }
    )
    out["documents"] = _documents(rng["documents"], n["documents"])
    out["embeddings"] = _embeddings(rng["embeddings"], n["embeddings"])
    return out


def write_tables(root: str, seed: int, sf: float) -> str:
    """Write every table as ``{root}/{name}.parquet``; returns ``root``."""
    os.makedirs(root, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"), compression="snappy")
    return root
