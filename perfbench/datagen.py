"""Seeded synthetic input tables for the benchmark.

Writes the ten tables the registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one
parquet file each, with the column names and types of the star schema
that ``sources/tables.py`` loads (TESTDATA.md, FIXTURES.md). Row counts
are fixed (the 0.001 scale factor's sizes); the seed decides every
value, so two seeds give inputs of the same shape and different
content, and one seed always gives the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "lineitem": 6000, "events": 1000, "documents": 500,
        "embeddings": 500}
VOCAB = ("a big agg batch column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "small", "red"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
EMB_DIM = 64
N_LABELS = 10
DUP_SHARE = 0.05

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000      # 1995-01-01 in µs
_EPOCH_2024 = 1_704_067_200_000_000    # 2024-01-01 in µs


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values):
    return pa.array(values.astype("int64"), type=pa.timestamp("us"))


def _documents(rng) -> pa.Table:
    n = ROWS["documents"]
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 100))))
             for _ in range(n)]
    # near duplicates: a copy of another document plus 1-3 " dup" marks
    for i in np.flatnonzero(rng.random(n) < DUP_SHARE):
        src = int(rng.integers(0, n))
        if src != i:
            texts[i] = texts[src] + " dup" * int(rng.integers(1, 4))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[k] for k in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    n = ROWS["embeddings"]
    centers = rng.normal(size=(N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = centers[labels] + 0.8 * rng.normal(size=(n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)) \
        .astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def tables(seed: int) -> dict[str, pa.Table]:
    """All ten tables for one seed, as Arrow tables."""
    rng = np.random.default_rng(seed)
    n_c, n_s, n_p, n_o, n_l, n_e = (
        ROWS[k] for k in ("customer", "supplier", "part", "orders",
                          "lineitem", "events"))
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": list(rng.choice(SEGMENTS, n_c))}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_p), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(PART_ADJ, n_p), rng.choice(PART_NOUN, n_p))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_p)],
            "p_type": list(rng.choice(PART_TYPES, n_p)),
            "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
            "p_retailprice": np.round(900 + 0.1 * np.arange(n_p), 2)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
            "o_orderstatus": list(rng.choice(["F", "O", "P"], n_o)),
            "o_totalprice": _money(rng, 1000, 500000, n_o),
            "o_orderdate": _ts(_EPOCH_1995 + _US_PER_DAY
                               * rng.integers(0, 2400, n_o)),
            "o_orderpriority": list(rng.choice(PRIORITIES, n_o))}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_l).astype("float64"),
            "l_extendedprice": _money(rng, 900, 105000, n_l),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": list(rng.choice(["A", "N", "R"], n_l)),
            "l_linestatus": list(rng.choice(["F", "O"], n_l)),
            "l_shipdate": _ts(_EPOCH_1995 + _US_PER_DAY
                              * rng.integers(0, 2400, n_l))}),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_e), pa.int64()),
            "ts": _ts(_EPOCH_2024 + np.cumsum(
                rng.exponential(2.592e9, n_e)).astype("int64")),
            "user_id": pa.array(rng.integers(0, 15, n_e), pa.int64()),
            "event_type": list(rng.choice(EVENT_TYPES, n_e)),
            "value": np.round(rng.exponential(50.0, n_e) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]}),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }
    return out


def write(seed: int, dest: str) -> str:
    """Write the seed's tables as ``<dest>/<name>.parquet``; returns dest."""
    os.makedirs(dest, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"))
    return dest
