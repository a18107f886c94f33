"""Seeded synthetic input tables for the benchmark.

Writes the ten tables the library's queries read (``catalog.TABLES``),
one parquet file each, with the schemas and value ranges of the TPC-H-ish
tables the library is tested on. ``scale`` plays the role of the
scale factor: 0.01 gives 60,000 lineitem rows and 10,000 events.

The same ``seed`` always gives byte-identical values, so a run's inputs
are fixed by its ``--seed``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_T0 = np.datetime64("2024-01-01T00:00:00", "us")
_D0 = np.datetime64("1995-01-01", "D")
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "hot", "large", "old", "red", "small", "green", "cold"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _labels(prefix: str, ids: np.ndarray, width: int) -> pa.Array:
    return pa.array([f"{prefix}{i:0{width}d}" for i in ids.tolist()])


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def events(rng: np.random.Generator, n: int, users: int) -> dict[str, pa.Array]:
    """``n`` events over 30 days with strictly increasing ``ts`` in
    ``event_id`` order (the stock matchmaker folds in that order)."""
    gaps = rng.exponential(1.0, n) + 1e-3
    ts_us = np.cumsum(gaps / gaps.sum() * 30 * 86400e6 * 0.999).astype(np.int64)
    value = np.maximum(0.01, np.round(rng.exponential(49.6, n), 2))
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(_T0 + ts_us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()]),
    }


def write_events(out_dir: str, seed: int, n: int, users: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    _write(out_dir, "events", events(np.random.default_rng(seed), n, users))


def _documents(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    """Bag-of-words documents; every 20th-ish doc is a near duplicate of
    an earlier one with a trailing marker word, so dedup finds pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(_WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(_WORDS[w] for w in words))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict[str, pa.Array]:
    """Unit vectors loosely clustered around ten label centroids."""
    centers = rng.normal(size=(10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n)
    x = 0.15 * centers[label] + rng.normal(scale=1 / np.sqrt(dim), size=(n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write all ten tables at ``scale``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_doc, n_emb = int(50_000 * scale), max(500, int(20_000 * scale))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    cust = np.arange(n_cust, dtype=np.int64)
    _write(out_dir, "customer", {
        "c_custkey": pa.array(cust),
        "c_name": _labels("Customer#", cust, 9),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    supp = np.arange(n_supp, dtype=np.int64)
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(supp),
        "s_name": _labels("Supplier#", supp, 9),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    part = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(part),
        "p_name": pa.array([
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()]),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (part % 1000) / 10, 1)),
    })
    okey = np.arange(n_ord, dtype=np.int64)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(okey),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
        "o_orderdate": pa.array(
            (_D0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")).astype(
                "datetime64[us]"
            )
        ),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    n_li = 4 * n_ord
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": pa.array(
            (_D0 + rng.integers(1, 2499, n_li).astype("timedelta64[D]")).astype(
                "datetime64[us]"
            )
        ),
    })
    _write(out_dir, "events", events(rng, n_ev, max(10, n_ev * 3 // 200)))
    _write(out_dir, "documents", _documents(rng, n_doc))
    _write(out_dir, "embeddings", _embeddings(rng, n_emb))
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_li, "events": n_ev, "documents": n_doc, "embeddings": n_emb,
        "region": 5, "nation": 25,
    }
