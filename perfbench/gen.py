"""Seeded input generator for the benchmark.

Everything the program under test reads is made here from one integer
seed: the ten parquet tables the query registry expects and the
reference-format digit examples the DBN reads. The tables copy the
schemas, key ranges and value distributions measured on the project's
TPC-H-ish test data at the 0.01 scale factor, including the two that
decide how much work the dedup and graph operators do: one document in
twenty is another document with " dup" appended, and the embeddings are
random unit vectors whose labels carry no signal. The same seed always
gives byte-identical inputs; nothing here touches Spark.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the 0.01 scale factor of the project's test data, the
# scale its DuckDB oracle tests run at. At these sizes a query's time is
# mostly planning, scheduling and driver work rather than scanning.
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 500}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """Midnight timestamps drawn uniformly from [start, end]."""
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    base = np.datetime64(start, "us")
    return pa.array(base + d.astype("timedelta64[D]"), pa.timestamp("us"))


def _keys(n):
    return pa.array(np.arange(n, dtype=np.int64))


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n = ROWS
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": _keys(n["customer"]),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"])}),
        "supplier": pa.table({
            "s_suppkey": _keys(n["supplier"]),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"])}),
        "part": pa.table({
            "p_partkey": _keys(n["part"]),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n["part"]),
                                                 rng.choice(PART_NOUN, n["part"]))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) * 0.1, 1)}),
        "orders": pa.table({
            "o_orderkey": _keys(n["orders"]),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _days(rng, datetime(1995, 1, 1), datetime(2001, 8, 1), n["orders"]),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"])}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n["lineitem"]),
            "l_discount": np.round(rng.uniform(0.0, 0.10, n["lineitem"]), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n["lineitem"]), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
            "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
            "l_shipdate": _days(rng, datetime(1995, 1, 2), datetime(2001, 11, 4), n["lineitem"])}),
        "events": _events(rng, n["events"], n["customer"] // 10),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    return out


def _events(rng, n, users):
    gaps = rng.exponential(1.0, n)
    span_us = 30 * 86400 * 1_000_000
    offs = (np.cumsum(gaps) / gaps.sum() * span_us * 0.999).astype(np.int64)
    ts = np.datetime64(datetime(2024, 1, 1), "us") + offs.astype("timedelta64[us]")
    return pa.table({
        "event_id": _keys(n),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, users, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def _documents(rng, n):
    """Random-word documents of 10-99 words; then n/20 of them, at random
    positions, are replaced by a random document with " dup" appended.
    Two copies of one source are exact duplicates (about 0.16% of
    documents at 5000), and a copy may later lose its source."""
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 100))))
             for _ in range(n)]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": _keys(n),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng, n, dim=64, classes=10):
    """Uniformly random unit vectors and independent uniform labels."""
    x = rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": _keys(n),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, classes, n), pa.int32())})


def write_tables(seed: int, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def digits(seed: int, n: int) -> np.ndarray:
    """(n, 784) uint8 synthetic 28x28 digits: ten seeded stroke
    prototypes, each example a shifted, re-inked, noisy copy of one."""
    rng = np.random.default_rng([seed, 2])
    yy, xx = np.mgrid[0:28, 0:28]
    protos = np.zeros((10, 28, 28))
    for c in range(10):
        for _ in range(int(rng.integers(2, 5))):
            (y0, x0), (y1, x1) = rng.uniform(6, 22, (2, 2))
            for t in np.linspace(0.0, 1.0, 24):
                cy, cx = y0 + t * (y1 - y0), x0 + t * (x1 - x0)
                protos[c] = np.maximum(
                    protos[c], np.exp(-((yy - cy) ** 2 + (xx - cx) ** 2) / 2.0))
    out = np.empty((n, 784), dtype=np.uint8)
    for i in range(n):
        c = int(rng.integers(0, 10))
        dy, dx = rng.integers(-2, 3, 2)
        img = np.roll(protos[c], (dy, dx), axis=(0, 1)) * rng.uniform(0.7, 1.0)
        img += rng.uniform(0.0, 0.15, (28, 28)) * (rng.random((28, 28)) < 0.05)
        out[i] = np.clip(img * 255.0, 0, 255).astype(np.uint8).ravel()
    return out


def write_digits(seed: int, n: int, out_dir: str, files: int = 4) -> str:
    """Reference text format, `id<TAB>784 space-separated ints`, split over
    `files` part files the way a Hadoop job writes its output directory."""
    os.makedirs(out_dir, exist_ok=True)
    x = digits(seed, n)
    for f in range(files):
        with open(os.path.join(out_dir, f"part-{f:05d}"), "w") as fh:
            for i in range(f, n, files):
                fh.write(f"{i}\t{' '.join(map(str, x[i].tolist()))}\n")
    return out_dir
