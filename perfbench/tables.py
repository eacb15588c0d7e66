"""Seeded analytic tables for the ``query_mix`` workload.

Writes the ten tables the registry queries read (``region nation customer
supplier part orders lineitem events documents embeddings``) as parquet
files with the column names and types the queries expect. ``scale`` 0.01
gives 1,500 customers, 15,000 orders and about 60,000 line items. The same
seed gives the same files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark a "
    "the line sort window data column join small big customer query order "
    "group stream filter vector"
).split()
_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "valve"]
_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"]
_SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_LANGS = ["en", "zh", "es", "de", "fr"]


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    micros = int(base.timestamp() * 1_000_000) + (seconds * 1_000_000).astype(np.int64)
    return pa.array(micros, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, seed: int, scale: float = 0.01) -> dict[str, int]:
    """Write every table under ``out_dir``; return row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_events = int(1_000_000 * scale)
    n_docs = max(100, int(50_000 * scale))
    epoch = dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })

    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(epoch, order_day * 86_400.0),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey] * rng.uniform(1.0, 2.1, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["R", "A", "N"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts(epoch, (order_day[okey] + rng.integers(1, 121, n_li)) * 86_400.0),
    })

    gaps = rng.exponential(259.0, n_events)
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc), np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": _money(rng, 0.01, 490.02, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: one word swapped
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_VOCAB))
        else:
            words = list(rng.choice(_VOCAB, int(rng.integers(8, 90))))
        texts.append(" ".join(words))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_docs)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_docs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
