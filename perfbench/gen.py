"""Benchmark inputs, made from numbers alone.

``write_tables`` writes the ten relational tables the query registry reads
(``wd2sql_spark.catalog.TABLES``) with the column names, types and value
distributions of the repository's relational fixtures (FIXTURES.md, part
B). The tables come from a fixed generator seed, so every run of a
workload reads the same base data; the run's ``--seed`` shapes the inputs
built on top of them (query order, dump line order, stream file split),
which is what varies between runs.

The constants below were read off the fixture files themselves
(``python3 perfbench/shape.py DIR`` prints the statistics; README.md lists
fixture against generator). Row counts are the fixture family's sf=0.01
counts (``ROWS``); ``ROWS_SF01`` holds its sf=0.1 counts, which the
comparison uses and which a run does not fit the time budget with (see
README.md, *Budget*).
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

ROWS_SF01 = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.41, 0.15, 0.15, 0.15)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
EMBED_DIM = 64
N_SOURCES = 20
NEAR_DUP_SHARE = 0.05  # documents rewritten as a near-copy of another one
USERS_PER_EVENT = 0.015  # distinct user ids per event row

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [
        " ".join(rng.choice(WORDS, size=int(rng.integers(10, 100))))
        for _ in range(n)
    ]
    # Near-duplicates, made as in the fixtures: distinct target documents
    # are, one after another, overwritten with a random document's text
    # plus the word "dup". A source may itself be an earlier copy, and two
    # copies of one source are exact duplicates of each other.
    targets = rng.choice(n, size=int(n * NEAR_DUP_SHARE), replace=False)
    for j in targets:
        texts[j] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def build_tables(rows: dict[str, int] = ROWS) -> dict[str, pa.Table]:
    rng = np.random.default_rng(TABLE_SEED)
    r = rows
    n_nat, n_cust, n_supp, n_part = r["nation"], r["customer"], r["supplier"], r["part"]
    n_ord, n_li, n_ev = r["orders"], r["lineitem"], r["events"]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(n_nat), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(n_nat)]),
            "n_regionkey": pa.array([i % 5 for i in range(n_nat)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, n_nat, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, n_nat, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    keys = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 1)),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n_ord)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_li)),
            "l_linestatus": pa.array(rng.choice(("F", "O"), n_li)),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, n_li) * _DAY_US),
        }
    )
    span_us = 30 * _DAY_US
    ts = _EPOCH_2024 + np.sort(rng.integers(0, span_us, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(
                rng.integers(0, max(int(n_ev * USERS_PER_EVENT), 1), n_ev), pa.int64()
            ),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = _documents(rng, r["documents"])
    t["embeddings"] = _embeddings(rng, r["embeddings"])
    return t


def write_tables(sf_dir: str) -> dict[str, int]:
    """Write ``<sf_dir>/<table>.parquet`` (one file each); return row counts."""
    os.makedirs(sf_dir, exist_ok=True)
    counts = {}
    for name, tbl in build_tables().items():
        pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


def shuffle_dump(root: str, seed: int, shards: int) -> int:
    """Re-deal the entity lines of a ``synthdump.write_dump`` directory into
    ``shards`` files in a seeded order, keeping the dump framing (``[``,
    trailing commas, ``]``) of each file. Returns total bytes."""
    names = sorted(os.listdir(root))
    lines: list[str] = []
    for name in names:
        with open(os.path.join(root, name)) as f:
            lines.extend(ln for ln in f if ln.strip() not in ("[", "]"))
        os.remove(os.path.join(root, name))
    random.Random(seed).shuffle(lines)
    total = 0
    for s in range(shards):
        path = os.path.join(root, f"shard-{s}.json")
        with open(path, "w") as f:
            f.write("[\n")
            f.writelines(lines[s::shards])
            f.write("]\n")
        total += os.path.getsize(path)
    return total


def split_events(events_path: str, out_dir: str, seed: int, n_files: int) -> list[int]:
    """Write the events table as ``n_files`` parquet files whose rows are a
    seeded random partition of the table; returns rows per file."""
    tbl = pq.read_table(events_path)
    rng = np.random.default_rng(seed)
    part = rng.permutation(tbl.num_rows) % n_files
    os.makedirs(out_dir)
    sizes = []
    for i in range(n_files):
        idx = np.flatnonzero(part == i)
        pq.write_table(tbl.take(idx), os.path.join(out_dir, f"events-{i:03d}.parquet"))
        sizes.append(len(idx))
    return sizes
