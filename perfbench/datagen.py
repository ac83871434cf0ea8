"""Seeded generator for the ten synthetic tables the query keys read.

The benchmark cannot rely on a data directory outside its checkout, so
it writes its own ``sf`` directory: one parquet file per table, with the
schemas, value formats and row counts of the fixture tables in
FIXTURES.md §A. Value formats matter for oracle parity, not only the
schema: prices carry two decimals, discounts are whole percent, the
``documents`` corpus has a 31-token vocabulary with ~5% near-duplicates,
and embeddings are unit vectors around ten label centres. The same seed
gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "green", "big", "cold", "old"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "gear", "nut", "pipe", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.43, 0.14, 0.14, 0.14, 0.15]
EMB_DIM = 64
N_LABELS = 10

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale ``sf`` (sf0.01 → 60,000 lineitem rows)."""
    n = lambda base: max(1, int(round(base * sf)))  # noqa: E731
    return {
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": n(50_000),
        "embeddings": 2000 if sf >= 0.1 else 500,
        "users": max(10, n(15_000)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return cents / 100.0


def _ts_days(start_us: int, days: np.ndarray) -> pa.Array:
    return pa.array(start_us + days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    tokens = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts: list[str] = []
    pos = 0
    for i, ln in enumerate(lengths):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate: an earlier document, cut short, tagged "dup"
            src = texts[int(rng.integers(0, i))].split()
            keep = max(10, len(src) - int(rng.integers(0, 4)))
            texts.append(" ".join(src[:keep] + ["dup"]))
        else:
            texts.append(" ".join(VOCAB[t] for t in tokens[pos : pos + ln]))
        pos += ln
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centres = rng.normal(size=(N_LABELS, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, N_LABELS, n).astype(np.int32)
    vec = 0.15 * centres[label] + rng.normal(scale=0.125, size=(n, EMB_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                vec.reshape(-1), EMB_DIM
            ).cast(pa.list_(pa.float32())),
            "label": label,
        }
    )


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Build every table in memory; deterministic in (sf, seed)."""
    rng = np.random.default_rng([seed, int(round(sf * 1_000_000))])
    c = row_counts(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = c["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": _names("Customer", n),
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n)),
        }
    )
    n = c["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": _names("Supplier", n),
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = c["part"]
    keys = np.arange(n, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": pa.array(names[rng.integers(0, len(names), n)]),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": pa.array(rng.choice(PART_TYPES, n)),
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": (9000 + keys % 1000) / 10.0,
        }
    )
    n = c["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, c["customer"], n),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
            "o_totalprice": _money(rng, 1000.0, 499_999.99, n),
            "o_orderdate": _ts_days(_EPOCH_1995, rng.integers(0, 2404, n)),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
        }
    )
    n = c["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, c["orders"], n),
            "l_partkey": rng.integers(0, c["part"], n),
            "l_suppkey": rng.integers(0, c["supplier"], n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * _money(rng, 900.0, 2099.99, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
            "l_shipdate": _ts_days(_EPOCH_1995 + _DAY_US, rng.integers(0, 2499, n)),
        }
    )
    n = c["events"]
    span_us = 30 * _DAY_US
    ts = _EPOCH_2024 + np.sort(rng.choice(span_us, n, replace=False))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, c["users"], n),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": np.maximum(
                1, np.minimum(49_002, np.round(rng.exponential(5000, n)))
            )
            / 100.0,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    t["documents"] = _documents(rng, c["documents"])
    t["embeddings"] = _embeddings(rng, c["embeddings"])
    return t


def write_sf_dir(sf: float, seed: int, out_dir: str) -> str:
    """Generate every table for (sf, seed) under ``out_dir``; returns it."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
