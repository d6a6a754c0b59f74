"""Seeded input generator for the benchmark.

Writes one parquet file per table, with the schema and the
one-file-per-table layout of the engine's test fixtures (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings), so the engine only ever sees an ordinary ``sf_dir``.
Every value is drawn from ``numpy.random.default_rng(seed)``: the same
seed and ``Shape`` give byte-identical tables, and each timed pass of
the benchmark gets its own seed-derived directory, so no cache keyed
on ``(session, sf_dir)`` can carry over from an earlier pass.

The value domains follow the fixtures: uniform customers, orders with
1..13 lines, six return-flag/line-status combinations, five event
types, a 31-word document vocabulary and unit-norm 64-dim embeddings.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["red", "blue", "old", "new", "hot", "cold", "small", "large"]
PART_NOUN = ["bolt", "gear", "ring", "rod", "plate", "widget", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.5, 0.14, 0.13, 0.12, 0.11]
VOCAB = (
    "a the data spark query table row column key value part order line "
    "customer join group agg sort merge hash scan filter window stream "
    "batch vector big small fast slow dup"
).split()
EMBED_DIM = 64
ORDER_DAY0 = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EVENT_T0_US = int(dt.datetime(2024, 1, 1).timestamp() * 1_000_000)
EVENT_SPAN_US = 30 * 86_400 * 1_000_000


@dataclass(frozen=True)
class Shape:
    """Row counts of one generated input, and the document near-duplicate
    rate (the share of documents that are edited copies of another)."""

    customers: int
    orders_per_customer: float
    parts: int
    suppliers: int
    events: int
    event_users: int
    documents: int
    dup_rate: float
    embeddings: int


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> int:
    table = pa.Table.from_pydict(cols, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_texts(rng, n: int, dup_rate: float) -> list[str]:
    """Random word sequences; ``dup_rate`` of them copy an earlier
    document and edit 1-3 of its words, so near-duplicate kernels have
    a known, seed-independent share of true pairs to find."""
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < dup_rate:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = VOCAB[
                    int(rng.integers(0, len(VOCAB)))
                ]
        else:
            words = [
                VOCAB[j]
                for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            ]
        texts.append(" ".join(words))
    return texts


def generate(out_dir: str, seed: int, shape: Shape) -> dict[str, int]:
    """Write every table for ``seed`` into ``out_dir``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts_us = pa.timestamp("us")
    rows: dict[str, int] = {}

    rows["region"] = _write(
        out_dir, "region",
        {"r_regionkey": list(range(5)), "r_name": REGIONS},
        pa.schema([("r_regionkey", i32), ("r_name", s)]),
    )
    rows["nation"] = _write(
        out_dir, "nation",
        {
            "n_nationkey": list(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)],
        },
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]),
    )

    nc = shape.customers
    rows["customer"] = _write(
        out_dir, "customer",
        {
            "c_custkey": np.arange(nc),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        },
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]),
    )

    ns = shape.suppliers
    rows["supplier"] = _write(
        out_dir, "supplier",
        {
            "s_suppkey": np.arange(ns),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        },
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                   ("s_acctbal", f64)]),
    )

    npart = shape.parts
    rows["part"] = _write(
        out_dir, "part",
        {
            "p_partkey": np.arange(npart),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2),
        },
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                   ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]),
    )

    no = int(round(nc * shape.orders_per_customer))
    days = rng.integers(0, ORDER_DAYS, no)
    rows["orders"] = _write(
        out_dir, "orders",
        {
            "o_orderkey": np.arange(no),
            # every customer places at least one order; the rest are uniform
            "o_custkey": np.concatenate(
                [rng.permutation(nc), rng.integers(0, nc, max(0, no - nc))]
            )[:no],
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": [ORDER_DAY0 + dt.timedelta(days=int(d)) for d in days],
            "o_orderpriority": rng.choice(PRIORITIES, no),
        },
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts_us),
                   ("o_orderpriority", s)]),
    )

    lines = np.clip(rng.binomial(12, 0.3, no) + 1, 1, 13)
    nl = int(lines.sum())
    line_order = np.repeat(np.arange(no), lines)
    line_no = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship_days = days[line_order] + rng.integers(-120, 121, nl)
    rows["lineitem"] = _write(
        out_dir, "lineitem",
        {
            "l_orderkey": line_order,
            "l_partkey": rng.integers(0, npart, nl),
            "l_suppkey": rng.integers(0, ns, nl),
            "l_linenumber": line_no,
            "l_quantity": qty,
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": [ORDER_DAY0 + dt.timedelta(days=int(d)) for d in ship_days],
        },
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                   ("l_linenumber", i32), ("l_quantity", f64),
                   ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
                   ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts_us)]),
    )

    ne = shape.events
    ts = np.sort(rng.integers(0, EVENT_SPAN_US, ne)) + EVENT_T0_US
    rows["events"] = _write(
        out_dir, "events",
        {
            "event_id": np.arange(ne),
            "ts": pa.array(ts, type=pa.int64()).cast(ts_us),
            "user_id": rng.integers(0, shape.event_users, ne),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": _money(rng, 0.01, 490.0, ne),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        },
        pa.schema([("event_id", i64), ("ts", ts_us), ("user_id", i64),
                   ("event_type", s), ("value", f64), ("props", s)]),
    )

    nd = shape.documents
    texts = _doc_texts(rng, nd, shape.dup_rate)
    rows["documents"] = _write(
        out_dir, "documents",
        {
            "doc_id": np.arange(nd),
            "text": texts,
            "lang": rng.choice(LANGS, nd, p=LANG_P),
            "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
            "n_chars": [len(t) for t in texts],
        },
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                   ("n_chars", i64)]),
    )

    nv = shape.embeddings
    vecs = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows["embeddings"] = _write(
        out_dir, "embeddings",
        {
            "vec_id": np.arange(nv),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, nv).astype(np.int32),
        },
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                   ("label", i32)]),
    )
    return rows
