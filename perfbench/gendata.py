#!/usr/bin/env python3
"""Deterministic generator for the benchmark's input tables.

Writes the ten parquet tables the registered queries read (a TPC-H-like
star schema plus `events`, `documents` and `embeddings`) with the same
column names, Parquet column types and value distributions as the
project's synthetic test data: uniform keys, a 31-word document
vocabulary with ~5% planted " dup" near-duplicates, 30 days of events,
unit-norm 64-d embeddings. Timestamps are stored as the test data's
files store them, as Parquet TIMESTAMP(MICROS) not adjusted to UTC; the
test data's pandas metadata (datetime64[ns] or [s]) is not written, as
Spark does not read it.

run.py calls generate() for the scales of its workloads. The data seed
is fixed: the same scale always yields byte-identical
tables, so oracle answers can be cached by file checksum. The benchmark's
--seed varies the query order, not the data.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

# rows per table at each scale, matching the project's synthetic test data
ROWS = {
    "0.01": dict(customer=1500, supplier=100, part=2000, orders=15000,
                 lineitem=60000, events=10000, users=150, documents=500,
                 embeddings=500),
    # the 0.01 star schema with the 0.1 corpus: text kernels get 5000
    # documents while graph queries stay a few seconds long
    "mix": dict(customer=1500, supplier=100, part=2000, orders=15000,
                lineitem=60000, events=10000, users=150, documents=5000,
                embeddings=2000),
}

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en"] * 10 + ["de", "de", "es", "es", "fr", "fr", "zh", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "red", "small", "old"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def ts_us(d: dt.datetime) -> int:
    return int((d - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def days(rng, n, start, span_days):
    base = ts_us(start)
    return pa.array(base + rng.integers(0, span_days + 1, n) * 86_400_000_000,
                    pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, options, n):
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)])


def documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as crawls produce
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    order = rng.permutation(n)
    texts = [texts[j] for j in order]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pick(rng, LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def generate(out_dir: str, scale: str) -> None:
    r = ROWS[scale]
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out_dir, exist_ok=True)
    i64 = lambda n: pa.array(np.arange(n, dtype=np.int64))
    nc, ns, npart, no, nl = (r["customer"], r["supplier"], r["part"],
                             r["orders"], r["lineitem"])
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}),
        "customer": pa.table({
            "c_custkey": i64(nc),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": pick(rng, SEGMENTS, nc)}),
        "supplier": pa.table({
            "s_suppkey": i64(ns),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": money(rng, -999.99, 9999.99, ns)}),
        "part": pa.table({
            "p_partkey": i64(npart),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
                rng.integers(0, len(PART_ADJ), npart),
                rng.integers(0, len(PART_NOUN), npart))]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
            "p_type": pick(rng, PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
            "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2)}),
        "orders": pa.table({
            "o_orderkey": i64(no),
            "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
            "o_orderstatus": pick(rng, ["F", "O", "P"], no),
            "o_totalprice": money(rng, 1000.0, 500000.0, no),
            "o_orderdate": days(rng, no, dt.datetime(1995, 1, 1), 2403),
            "o_orderpriority": pick(rng, PRIORITIES, no)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": money(rng, 900.0, 105000.0, nl),
            "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
            "l_returnflag": pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": pick(rng, ["F", "O"], nl),
            "l_shipdate": days(rng, nl, dt.datetime(1995, 1, 2), 2498)}),
    }
    ne = r["events"]
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, ne)) + ts_us(dt.datetime(2024, 1, 1))
    tables["events"] = pa.table({
        "event_id": i64(ne),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, r["users"], ne).astype(np.int64)),
        "event_type": pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})
    tables["documents"] = documents(rng, r["documents"])
    tables["embeddings"] = embeddings(rng, r["embeddings"])
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        tmp = path + ".tmp"
        pq.write_table(tbl, tmp)
        os.replace(tmp, path)
