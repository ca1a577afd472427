"""Seeded generator for the batch input tables.

Writes the ten tables the registry queries read (the TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``) as one
parquet file each, with the column names, types and value domains of
the engine's test data. Row counts scale with ``sf`` (0.01 gives a
60,000-row ``lineitem``). The same seed always gives the same bytes of
data; different seeds give different rows of the same shape.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["red", "blue", "small", "large", "hot", "old", "new", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "pipe", "valve"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _days(rng, n, start: str, n_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Return every table as an Arrow table (nothing is written)."""
    rng = np.random.default_rng([seed, 0x7ab1e5])
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = max(int(6_000_000 * sf), 400)
    n_ev = max(int(1_000_000 * sf), 500)
    n_users = max(int(15_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 50)
    n_emb = max(int(50_000 * sf), 50)

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
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pkeys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pkeys,
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pkeys % 1000) / 10.0, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, _STATUS, n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": _pick(rng, _PRIORITY, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", 2498),
    })
    # events: sorted timestamps over 30 days, exponential values
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = _documents(rng, n_docs)
    # embeddings: unit vectors clustered around one centre per label
    centres = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centres[labels] + rng.normal(scale=1.5, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words documents; one in twenty is a near-copy of an
    earlier document (a few words replaced, ``dup`` appended), so the
    dedup queries have true pairs to find."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.choice(len(words), max(1, len(words) // 20), replace=False):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            words.append("dup")
        else:
            words = list(np.asarray(_WORDS)[rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))])
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write every table to ``out_dir/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
