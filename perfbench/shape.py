"""Shape statistics of a set of benchmark tables, to set the generator's
constants from the fixtures and to compare the two.

    python3 perfbench/shape.py DIR [DIR ...]   # parquet tables in DIR
    python3 perfbench/shape.py --gen 0.01      # the generator, sf=0.01 rows
    python3 perfbench/shape.py --gen 0.1       # the generator, sf=0.1 rows

Prints one JSON object per input: row counts, and the statistics that
drive the cost of the dedup, similarity and streaming operators
(document length, language mix, near-duplicate incidence, user-key
spread, embedding geometry, lines per order).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _documents(t: pa.Table) -> dict:
    texts = t.column("text").to_pylist()
    words = np.array([len(x.split()) for x in texts])
    known = set(texts)
    marked = [x for x in texts if x.endswith(" dup")]
    langs = Counter(t.column("lang").to_pylist())
    return {
        "words_mean": float(words.mean()),
        "words_min": int(words.min()),
        "words_max": int(words.max()),
        "vocabulary": len({w for x in texts for w in x.split()}),
        "lang_share": {k: langs[k] / len(texts) for k in sorted(langs)},
        "dup_marked_share": len(marked) / len(texts),
        "dup_of_present_doc": sum(x[: -len(" dup")] in known for x in marked),
        "exact_dup_pairs": sum(c * (c - 1) // 2 for c in Counter(texts).values()),
        "sources": len(set(t.column("source").to_pylist())),
    }


def _events(t: pa.Table) -> dict:
    users = np.array(t.column("user_id").to_pylist())
    ts = np.sort(t.column("ts").cast(pa.int64()).to_numpy())
    gaps = np.diff(ts)
    per_user = np.bincount(users)
    return {
        "users_per_event": len(np.unique(users)) / len(users),
        "events_per_user_cv": float(per_user.std() / per_user.mean()),
        "span_days": float((ts[-1] - ts[0]) / 86_400e6),
        "gap_cv": float(gaps.std() / gaps.mean()),
        "value_mean": float(np.mean(t.column("value").to_numpy())),
    }


def _embeddings(t: pa.Table) -> dict:
    v = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    cos = v @ v.T
    np.fill_diagonal(cos, -1.0)
    nearest = cos.max(axis=1)
    return {
        "dim": int(v.shape[1]),
        "norm_mean": float(np.linalg.norm(v, axis=1).mean()),
        "nearest_cos_median": float(np.median(nearest)),
        "nearest_cos_max": float(nearest.max()),
        "labels": len(set(t.column("label").to_pylist())),
    }


def _lineitem(t: pa.Table) -> dict:
    per_order = np.unique(t.column("l_orderkey").to_numpy(), return_counts=True)[1]
    return {
        "orders_with_lines": int(len(per_order)),
        "lines_per_order_cv": float(per_order.std() / per_order.mean()),
    }


SHAPES = {
    "documents": _documents,
    "events": _events,
    "embeddings": _embeddings,
    "lineitem": _lineitem,
}


def shape(tables: dict[str, pa.Table]) -> dict:
    out: dict = {"rows": {k: tables[k].num_rows for k in sorted(tables)}}
    for name, fn in SHAPES.items():
        if name in tables:
            out[name] = fn(tables[name])
    return out


def read_dir(path: str) -> dict[str, pa.Table]:
    return {
        f[: -len(".parquet")]: pq.read_table(os.path.join(path, f))
        for f in sorted(os.listdir(path))
        if f.endswith(".parquet")
    }


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from perfbench import gen

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dirs", nargs="*")
    ap.add_argument("--gen", choices=("0.01", "0.1"), action="append", default=[])
    args = ap.parse_args(argv)
    for d in args.dirs:
        print(json.dumps({"input": d, **shape(read_dir(d))}))
    for sf in args.gen:
        rows = gen.ROWS if sf == "0.01" else gen.ROWS_SF01
        print(json.dumps({"input": f"gen sf={sf}", **shape(gen.build_tables(rows))}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
