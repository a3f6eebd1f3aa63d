"""Seeded synthetic tables for the benchmark.

Writes the ten tables the engine's registered queries read (``region
nation customer supplier part orders lineitem events documents
embeddings``) as one parquet file each, with the same column names,
types and value domains as the engine's reference fixtures: TPC-H-like
star schema, a month of user events, a small text corpus with planted
near-duplicates, and 64-d unit embeddings clustered by label. Pure
numpy + pyarrow, so it runs before the JVM starts.

The same ``seed`` and ``scale`` give byte-identical tables. ``scale``
1.0 is 60,000 lineitem rows (the size of the engine's sf0.01 fixture).
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
VOCAB = (
    "a the row query stream fast spark line small customer group value hash "
    "batch sort data big filter key agg scan slow table part merge window "
    "order column join vector"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH = datetime(1970, 1, 1)


def _day_us(d: datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _pick(rng: np.random.Generator, options, n: int) -> list[str]:
    return [options[i] for i in rng.integers(0, len(options), n)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.12:
            # near-duplicate of an earlier document: one token changed
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            toks = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        if rng.random() < 0.05:
            toks.append("dup")
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(_pick(rng, LANGS, n), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, derived only from (seed, scale)."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(50, int(2000 * scale))
    n_ord = max(100, int(15000 * scale))
    n_ev = max(200, int(10000 * scale))
    n_doc, n_vec = 500, 500

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, ADJ, n_part), _pick(rng, NOUN, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    lo_day, hi_day = _day_us(datetime(1995, 1, 1)), _day_us(datetime(2001, 8, 1))
    odate = lo_day + rng.integers(0, (hi_day - lo_day) // _DAY_US + 1, n_ord) * _DAY_US
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(odate),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines])
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 122, n_li) * _DAY_US),
        }
    )
    ev_ts = np.sort(_day_us(datetime(2024, 1, 1)) + rng.integers(0, 30 * _DAY_US, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(ev_ts),
            "user_id": pa.array(rng.integers(0, max(10, n_ev // 66), n_ev), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": _money(rng, 0.01, 490.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = _documents(rng, n_doc)
    out["embeddings"] = _embeddings(rng, n_vec)
    return out


def write(out_dir: str, seed: int, scale: float = 1.0) -> str:
    """Write the tables under ``out_dir`` (one ``<name>.parquet`` each)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed, scale).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
