"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the program reads (FIXTURES.md) with the same
names, physical types, value distributions and, at the same scale factor,
row counts as the fixture, but drawn from the benchmark's own seed. The
physical types are those of the fixture files as generated today:
`events.ts`, `o_orderdate` and `l_shipdate` are timestamp[us] without a time
zone (FIXTURES.md's table still lists the ns/ms encodings of an earlier
generation), so the program's loaders take the same branches as on the
fixture. Each
table is one row group, like the fixture, so scan parallelism matches it.
The same seed and scale always give the same values.

Usage: python3 perfbench/gen.py <seed> <sf> <out_dir>
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per unit of scale factor, as in the fixture (sf0.1: 600k
# lineitems); embeddings do not scale below 500 rows.
PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
          "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
          "users": 15_000, "documents": 50_000, "embeddings": 20_000}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _days(rng, first, last, n):
    """Midnight timestamps drawn uniformly from [first, last]."""
    span = (last - first).days + 1
    base = np.datetime64(first, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf):
    ROWS = {k: round(v * sf) for k, v in PER_SF.items()}
    ROWS["embeddings"] = max(500, ROWS["embeddings"])
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n)})

    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})

    n = ROWS["part"]
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    t["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": _pick(rng, names, n),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": _pick(rng, TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1)})

    n = ROWS["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, ROWS["customer"], n),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n),
        "o_orderpriority": _pick(rng, PRIORITIES, n)})

    n = ROWS["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, ROWS["orders"], n),
        "l_partkey": rng.integers(0, ROWS["part"], n),
        "l_suppkey": rng.integers(0, ROWS["supplier"], n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n)})

    n = ROWS["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n)) + np.datetime64("2024-01-01", "us")
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, ROWS["users"], n),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    # One document in twenty repeats an earlier one with " dup" appended,
    # the near-duplicate shape the fixture carries for the dedup operators.
    n = ROWS["documents"]
    words = np.asarray(WORDS, dtype=object)
    text = [" ".join(words[rng.integers(0, len(WORDS), k)])
            for k in rng.integers(10, 101, n)]
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        text[i] = text[rng.integers(0, i)] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in text], dtype=np.int64)})

    n = ROWS["embeddings"]
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32)})
    return t


def write(seed, sf, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, f"{out_dir}/{name}.parquet",
                       row_group_size=max(1, table.num_rows), compression="snappy")


if __name__ == "__main__":
    write(int(sys.argv[1]), float(sys.argv[2]), sys.argv[3])
