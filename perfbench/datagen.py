"""Deterministic TPC-H-ish source tables for the serving benchmark.

Writes the ten parquet tables the archive adapter and the catalog read
(region nation customer supplier part orders lineitem events documents
embeddings), with the column names, physical types and value ranges of
the repo's sf0.1 test data. The data seed is fixed, so every checkout
builds the same bytes; the benchmark's --seed only drives the request log.

Usage: python3 perfbench/datagen.py OUT_DIR [--sf 0.1]
"""

from __future__ import annotations

import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
# the corpus vocabulary of the documents table ("dup" only in planted dups)
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
EMBED_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)


def _days_us(start: dt.date, n_days: np.ndarray) -> np.ndarray:
    base = int((dt.datetime.combine(start, dt.time()) - _EPOCH).total_seconds())
    return (base + n_days.astype(np.int64) * 86400) * 1_000_000


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, sf: float = 0.1) -> dict[str, int]:
    """Write every table under out_dir; returns row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = 4 * n_ord
    n_events = int(1_000_000 * sf)
    n_docs = int(50_000 * sf)
    n_vecs = int(20_000 * sf)
    n_users = 1500

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    _write(out_dir, "customer", {
        "c_custkey": pa.array(ck),
        "c_name": pa.array([f"Customer#{k:09d}" for k in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(sk),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(
            [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 2)),
    })
    ok = np.arange(n_ord, dtype=np.int64)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2)),
        "o_orderdate": _ts(_days_us(dt.date(1995, 1, 1), rng.integers(0, 2404, n_ord))),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900, 2100, n_line), 2)
        ),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts(_days_us(dt.date(1995, 1, 2), rng.integers(0, 2498, n_line))),
    })
    ev_start = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds()) * 1_000_000
    ev_ts = np.sort(ev_start + rng.integers(0, 30 * 86400 * 1_000_000, n_events))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    lens = rng.integers(10, 101, n_docs)
    texts = [" ".join(rng.choice(VOCAB, n)) for n in lens]
    # planted near-duplicates: the last 2% of docs copy an earlier doc and
    # append the marker token, so dedup entries have something to find
    n_dup = n_docs // 50
    for i in range(n_dup):
        texts[n_docs - n_dup + i] = texts[i] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{d % 20}" for d in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    vecs = rng.standard_normal((n_vecs, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_vecs * EMBED_DIM + 1, EMBED_DIM), pa.int32()),
            pa.array(vecs.reshape(-1), pa.float32()),
        ),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_line, "events": n_events,
        "documents": n_docs, "embeddings": n_vecs,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.1)
    args = ap.parse_args()
    print(generate(args.out_dir, args.sf))


if __name__ == "__main__":
    main()
