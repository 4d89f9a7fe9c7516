"""Deterministic synthetic tables for the benchmark.

Writes the ten tables the program's query registry reads (the TPC-H-ish
star schema, ``events``, ``documents`` and ``embeddings``) as one parquet
file each, with the column names, types and value domains the registry's
SQL and the SQL-fuzz grammar's value pools assume. Row counts scale with
``sf`` like the reference test data (lineitem = 6M x sf). The tables
depend only on ``sf`` and ``DATA_SEED``: the benchmark's ``--seed`` varies
the query draw and order, never the data, so every run of a workload
executes over the same bytes.

Planted structure the pipeline checks rely on:
  * about 5% of documents are a copy of an earlier document with one or two
    " dup" tokens appended (near-duplicates, Jaccard >= 0.9); their
    (original, copy) id pairs are written to ``planted_pairs.json``;
  * ``events.ts`` is strictly increasing in ``event_id`` (microsecond
    timestamps, minutes apart), so no user has two events at one instant.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VERSION = 1  # bump when the generated bytes change, so cached copies rebuild

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "small", "big", "red", "green", "old"]
PART_NOUN = ["anvil", "widget", "ring", "plate", "gear", "bolt", "nut",
             "spring"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
EMB_DIM = 64

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _days(start: str, n_days: int, size: int, rng) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, size)).astype("datetime64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _relational(out_dir: str, sf: float, rng) -> None:
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.permutation(np.arange(25) % 5),
                                pa.int32())})

    n_cust = int(150_000 * sf)
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})

    n_supp = int(10_000 * sf)
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})

    n_part = int(200_000 * sf)
    price = np.round(rng.uniform(900.0, 999.9, n_part), 1)
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price})

    n_ord = int(1_500_000 * sf)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _days("1995-01-01", 2404, n_ord, rng),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})

    n_li = int(6_000_000 * sf)
    partkey = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(
            qty * price[partkey] * rng.uniform(0.9, 2.1, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _days("1995-01-02", 2498, n_li, rng)})


def _events(out_dir: str, sf: float, rng) -> None:
    n = int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    span_us = 30 * 86_400 * 1_000_000
    # strictly increasing microsecond stamps over 30 days
    gaps = rng.integers(1, 2 * span_us // n, n)
    ts = _EPOCH + np.timedelta64(1_704_067_200_000_000, "us") + \
        np.cumsum(gaps).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def _documents(out_dir: str, sf: float, rng) -> list[list[int]]:
    n = max(500, int(50_000 * sf))
    texts: list[str] = []
    planted: list[list[int]] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            src = int(rng.integers(0, i))
            if " dup" not in texts[src]:
                texts.append(texts[src] + " dup" * int(rng.integers(1, 3)))
                planted.append([src, i])
                continue
        words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
        texts.append(" ".join(VOCAB[w] for w in words))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    return planted


def _embeddings(out_dir: str, sf: float, rng) -> None:
    n = 500 if sf <= 0.01 else 2000
    v = rng.standard_normal((n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def ensure(root: str, sf: float) -> str:
    """Return the directory holding the tables at ``sf``, generating it
    once per checkout (atomically: a killed run leaves no partial copy)."""
    out_dir = os.path.join(root, f"bench_sf{sf:g}_v{VERSION}")
    if os.path.isdir(out_dir):
        return out_dir
    tmp = out_dir + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([DATA_SEED, int(sf * 1_000_000)])
    _relational(tmp, sf, rng)
    _events(tmp, sf, rng)
    planted = _documents(tmp, sf, rng)
    _embeddings(tmp, sf, rng)
    with open(os.path.join(tmp, "planted_pairs.json"), "w") as f:
        json.dump(planted, f)
    os.rename(tmp, out_dir)
    return out_dir


if __name__ == "__main__":
    import sys
    import time

    t0 = time.perf_counter()
    print(ensure(sys.argv[1], float(sys.argv[2])),
          f"{time.perf_counter() - t0:.2f}s")
