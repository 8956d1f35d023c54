"""Seeded generator of the star-schema tables the ``catalog`` workload reads.

Writes ``events``, ``documents``, ``embeddings`` and ``customer`` as one
parquet file each, with the column names and types of the catalog's sf0.1
input tables. Every table is FRACTION of its sf0.1 row count, and its key
distributions are those measured on sf0.1 (see SF01 and README.md):

- ``events``: timestamps uniform over January 2024 in event-id order,
  ``user_id`` uniform over rows/66.7 users, five equally likely event
  types, exponential values of mean 50 (the streaming sessionizer's input);
- ``documents``: 10 to 100 words drawn uniformly from a 30-word
  vocabulary; 5% are an earlier document with `` dup`` appended, the
  near-duplicates MinHash/LSH must find;
- ``embeddings``: unit-norm 64-dim vectors with no cluster structure and
  ten equally likely labels (product-quantised similarity search);
- ``customer``: TPC-H customers with sequential ``Customer#`` names and 25
  nations, so fuzzy entity resolution chains each nation into one entity.

Run as ``python3 perfbench/gen_tables.py --seed 1 --out DIR``.
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# measured on the catalog's sf0.1 tables
SF01 = {
    "rows": {"events": 100_000, "documents": 5_000, "embeddings": 2_000, "customer": 15_000},
    "events_per_user": 100_000 / 1_500,
    "near_dup_share": 250 / 5_000,
    "words_per_doc": (10, 100),
    "dim": 64,
}
# share of sf0.1's rows generated; a pass over the catalog mix at this size
# fits the run budget (README.md, "Catalog inputs")
FRACTION = 0.25

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    start_us = 1_704_067_200_000_000  # 2024-01-01 UTC
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    users = max(1, round(n / SF01["events_per_user"]))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(start_us + offsets, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lo, hi = SF01["words_per_doc"]
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < SF01["near_dup_share"]:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(lo, hi + 1)))))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.normal(0.0, 1.0, (n, SF01["dim"]))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n)),
    })


def generate(seed: int, out_dir: str, scale: float = 1.0) -> dict[str, int]:
    """Write the four tables at ``scale`` * FRACTION of sf0.1's rows under
    ``out_dir``; return rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    makers = {"events": _events, "documents": _documents,
              "embeddings": _embeddings, "customer": _customer}
    rows = {}
    for name, make in makers.items():
        n = max(20, round(SF01["rows"][name] * FRACTION * scale))
        pq.write_table(make(rng, n), os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = n
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="factor on FRACTION (1/FRACTION gives sf0.1's row counts)")
    args = ap.parse_args()
    print(json.dumps(generate(args.seed, args.out, args.scale)))


if __name__ == "__main__":
    main()
