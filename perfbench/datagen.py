"""Seeded input tables for the benchmark.

Writes the ten parquet tables the engine's loaders read (the TESTDATA
layout: ``events``, ``documents``, ``embeddings`` plus the TPC-H-style
relations) into one directory, drawn from a numpy generator seeded by the
benchmark's ``--seed``. The same seed gives byte-identical tables.

Shapes follow the shipped sf0.1 fixtures: 100 K events over 30 days with
1 500 users, five event types and a ``{"k": 0..99}`` props key. The corpus
is half of sf0.1, so a corpus run fits its time: 2 500 documents over a
30-word vocabulary where one in twenty is an earlier document with `` dup``
appended (the near-duplicate population the dedup and LSH entries look
for), and 1 000 unit-norm 64-d embeddings with ten labels. The TPC-H
relations are written small: no benchmark entry reads them, but the DuckDB
oracle registers a view over every table.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 2_500
N_VECS = 1_000
DIM = 64
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EPOCH_2024_US = 1_704_067_200_000_000
DAY_US = 86_400_000_000


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _events(rng: np.random.Generator) -> pa.Table:
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, N_EVENTS))
    k = rng.integers(0, 100, N_EVENTS)
    return pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS, dtype=np.int64)),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), N_EVENTS)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
            "props": pa.array([f'{{"k": {v}}}' for v in k]),
        }
    )


def _documents(rng: np.random.Generator) -> pa.Table:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n)]))
    langs = np.array(LANGS)[rng.choice(len(LANGS), N_DOCS, p=LANG_P)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    vecs = rng.standard_normal((N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, N_VECS * DIM + 1, DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, N_VECS, dtype=np.int32)),
        }
    )


def _tpch(rng: np.random.Generator, out_dir: str, n_orders: int = 1_500) -> None:
    n_cust, n_supp, n_part, n_line = n_orders // 10, 100, 200, n_orders * 4
    day0 = np.datetime64("1995-01-01", "us").astype(np.int64)
    money = lambda n, hi: np.round(rng.uniform(0, hi, n), 2)  # noqa: E731
    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }))
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(money(n_cust, 10_000)),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, n_cust)]),
    }))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(money(n_supp, 10_000)),
    }))
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"part {i}" for i in range(n_part)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
        )[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(money(n_part, 2_000)),
    }))
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(money(n_orders, 400_000)),
        "o_orderdate": pa.array(
            day0 + rng.integers(0, 2_500, n_orders) * DAY_US, type=pa.timestamp("us")
        ),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_orders)]),
    }))
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(money(n_line, 100_000)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(
            day0 + rng.integers(0, 2_500, n_line) * DAY_US, type=pa.timestamp("us")
        ),
    }))


def generate(out_dir: str, seed: int) -> str:
    """Write every table for ``seed`` under ``out_dir`` and return it."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    _write(out_dir, "events", _events(rng))
    _write(out_dir, "documents", _documents(rng))
    _write(out_dir, "embeddings", _embeddings(rng))
    _tpch(rng, out_dir)
    return out_dir
