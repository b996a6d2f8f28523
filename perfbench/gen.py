"""Seeded generator for the benchmark's input tables.

Writes the ten tables the query registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``, one parquet file
each) with the same schemas and value distributions as the project's
TPC-H-ish test data: uniform foreign keys, uniform categorical columns,
exponential event values, a 30-word document vocabulary with about 5% of
documents planted as near-duplicates (an earlier text plus `` dup``), and
unit-norm 64-dimensional embeddings.

``scale`` counts sf0.001 units: scale 10 gives 60,000 lineitem rows, like
sf0.01. Documents and embeddings are sized on their own. The same
``(seed, scale, n_docs, n_vecs)`` always gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
_PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_DIM = 64


def _ts(days: np.ndarray, origin: str) -> pa.Array:
    """Midnight timestamps ``days`` after ``origin`` (naive, microseconds)."""
    base = np.datetime64(origin, "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, scale: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_line, n_ev = 1500 * scale, 6000 * scale, 1000 * scale
    n_users = 15 * scale
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
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), n_part)]
    noun = np.array(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), n_part)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        # 1995-01-01 .. 2001-08-01
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord), "1995-01-01"),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        # 1995-01-02 .. 2001-11-04
        "l_shipdate": _ts(rng.integers(0, 2498, n_line), "1995-01-02"),
    })
    # Events are numbered in time order over 30 days of January 2024.
    span_us = 30 * 86400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = _documents(rng, n_docs)
    vecs = rng.standard_normal((n_vecs, _DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n):
        # One document in twenty repeats an earlier one with " dup" appended.
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            words = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write(out_dir: str, seed: int, scale: int, n_docs: int, n_vecs: int) -> dict[str, int]:
    """Write every table under ``out_dir``; return the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(seed, scale, n_docs, n_vecs).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts

