"""Seeded analytical tables for the ``query_mix`` workload.

Writes the ten parquet tables the query registry (``__spark_entry__``)
reads — a TPC-H-like star (region … lineitem), an ``events`` stream,
word-soup ``documents`` with a share of near-duplicates, and unit-norm
``embeddings`` — with the column names, types and value domains of the
registry's testdata. ``scale`` follows TPC-H: 0.01 gives ~60k lineitems.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_DAY = 86_400


def _ts(base: datetime.datetime, seconds: np.ndarray) -> pa.Array:
    us = (np.datetime64(base, "us")
          + (seconds * 1_000_000).astype("timedelta64[us]"))
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out: str, seed: int, scale: float = 0.01,
                 n_docs: int = 500, n_vecs: int = 500) -> dict[str, int]:
    """Write ``<out>/<table>.parquet`` for all ten tables; returns row
    counts."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 10)
    n_supp = max(int(10_000 * scale), 5)
    n_part = max(int(200_000 * scale), 20)
    n_ord = max(int(1_500_000 * scale), 100)
    n_ev = max(int(1_000_000 * scale), 100)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    retail = np.round(900 + rng.integers(0, 1000, n_part) / 10, 1)
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part),
                                              rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail})

    odate = rng.integers(0, 2404, n_ord) * _DAY      # 1995-01-01 + ~6.6 y
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(datetime.datetime(1995, 1, 1), odate),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord)})

    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    pkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li) * _DAY
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(
            qty * retail[pkey] * rng.uniform(0.95, 2.2, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(datetime.datetime(1995, 1, 1), ship)})

    ev_secs = np.sort(rng.uniform(0, 30 * _DAY, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts(datetime.datetime(2024, 1, 1), ev_secs),
        "user_id": pa.array(rng.integers(0, max(n_ev // 66, 10), n_ev),
                            pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.uniform(0.01, 500, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    vecs = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})

    os.makedirs(out, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
