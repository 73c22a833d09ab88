"""Seeded fixture tables for the benchmark.

Builds the engine's ten input tables (``bigdata_2025_1_spark.io.TABLES``)
with the schemas in FIXTURES.md: a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``. Row counts follow the fixture scale
factor (sf 0.01: 60k lineitem, 10k events, 500 documents); value
distributions follow the shipped fixtures (uniform keys and dates, a
30-word document vocabulary with 5% near-duplicates, unit-norm 64-d
embeddings).

The tables depend only on ``DATA_SEED`` and ``SCALE``, never on the run
seed, so the DuckDB oracle results can be cached across runs.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SCALE = 0.01
VERSION = 1  # bump when the generated tables change

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
COLORS = ("large", "hot", "blue", "old", "cold", "red", "small", "new")
THINGS = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
PART_TYPES = ("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(150_000 * SCALE)
    n_supp = int(10_000 * SCALE)
    n_part = int(200_000 * SCALE)
    n_ord = int(1_500_000 * SCALE)
    n_line = int(6_000_000 * SCALE)
    n_ev = int(1_000_000 * SCALE)
    n_doc = max(500, int(50_000 * SCALE))
    n_emb = max(500, int(20_000 * SCALE))
    i32, i64 = pa.int32(), pa.int64()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -1000, 10000, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -1000, 10000, n_supp),
        }
    )
    pk = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, i64),
            "p_name": [
                f"{COLORS[c]} {THINGS[k]}"
                for c, k in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": rng.choice(("P", "O", "F"), n_ord),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_line),
            "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
            "l_returnflag": rng.choice(("R", "A", "N"), n_line),
            "l_linestatus": rng.choice(("O", "F"), n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    gaps = rng.exponential(30 * 86_400 / n_ev, n_ev)
    ts0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": (ts0 + np.cumsum(gaps * 1e6).astype(np.int64)).astype("datetime64[us]"),
            "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), i64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [
        " ".join(rng.choice(VOCAB, int(k))) for k in rng.integers(10, 101, n_doc)
    ]
    # 5% near-duplicates: another document's text plus one marker word
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        }
    )
    return t


def ensure_tables(cache_dir: str) -> tuple[str, str]:
    """Write the tables once under ``cache_dir``; return (dir, fingerprint).

    The fingerprint hashes the parquet bytes, so oracle results cached
    under it are invalidated by any change to the generated data."""
    out = os.path.join(cache_dir, f"tables-v{VERSION}-sf{SCALE}-seed{DATA_SEED}")
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for name, table in build_tables().items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        os.replace(tmp, out)
    h = hashlib.sha256()
    for name in sorted(os.listdir(out)):
        with open(os.path.join(out, name), "rb") as fh:
            h.update(name.encode())
            h.update(fh.read())
    return out, h.hexdigest()[:16]
