"""Seeded TPC-H-like tables for the query workload.

Writes the ten tables the query registry reads (``catalog.TABLES``) as one
parquet file each, with the column names, types and value domains of the
synthetic test data the query oracles were written against (TESTDATA.md):
uniform keys and measures, dates in 1995-2001, one month of 2024 events, a
31-word document vocabulary with a few planted exact and near duplicates,
and unit-norm 64-d float32 embeddings. ``scale`` plays the role of the
TPC-H scale factor.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_ADJ = ("blue", "old", "small", "new", "hot", "large", "cold", "red")
_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
_PTYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENTS = ("click", "signup", "error", "view", "purchase")
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_WORDS = (
    "row the query stream fast spark line small customer group value hash batch sort "
    "data big filter dup key agg scan slow table part a merge window order column join vector"
).split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, stop: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(stop, "D")
    return (lo + rng.integers(0, (hi - lo).astype(int) + 1, n)).astype("datetime64[us]")


def _pick(rng: np.random.Generator, values: tuple, n: int) -> list:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts = [" ".join(_pick(rng, _WORDS, int(k))) for k in rng.integers(8, 90, n)]
    # Planted duplicates so the dedup and near-duplicate queries have
    # work: every 50th document copies an earlier one exactly, every 50th
    # (offset 25) copies one with its last word swapped.
    for i in range(50, n, 50):
        texts[i] = texts[int(rng.integers(0, i))]
    for i in range(25, n, 50):
        words = texts[int(rng.integers(0, i))].split()
        texts[i] = " ".join(words[:-1] + ["dup"])
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table under ``out_dir`` as ``<name>.parquet``; returns
    rows per table. The same seed and scale give the same values."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line, n_evt = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_docs, n_vecs = max(500, int(50_000 * scale)), max(500, int(20_000 * scale))
    i32, i64 = np.int32, np.int64
    gaps = rng.exponential(30 * 86400 / n_evt, n_evt)
    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=i32), "r_name": list(_REGIONS)},
        "nation": {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=i32) % 5,
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=i64),
            "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, _ADJ, n_part), _pick(rng, _NOUN, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, _PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=i64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(i64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(i64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(i64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(i64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(rng, ("O", "F"), n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        },
        "events": {
            "event_id": np.arange(n_evt, dtype=i64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]"),
            "user_id": rng.integers(0, int(15_000 * scale), n_evt).astype(i64),
            "event_type": _pick(rng, _EVENTS, n_evt),
            "value": _money(rng, 0.01, 490.0, n_evt),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        },
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
