"""Deterministic query_mix tables.

Writes the six tables the query_mix queries read (events, lineitem,
orders, customer, documents, embeddings) as one parquet file each, one
row group per file, with the column names, types and value
distributions of the engine's TPC-H-style test tables. The data is a
pure function of (scale factor, DATA_SEED): the committed query
fingerprints in expected_fingerprints.json hold for exactly this data.

Usage: python3 perfbench/tables.py <out_dir> [scale_factor]
"""
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20261017
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en"] * 3 + ["zh", "es", "de", "fr"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DAY_US = 86_400_000_000


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _days(rng, lo, hi, n):
    """Midnight timestamps uniformly between two dates (µs)."""
    lo_d = np.datetime64(lo, "D").astype("int64")
    hi_d = np.datetime64(hi, "D").astype("int64")
    return rng.integers(lo_d, hi_d + 1, n) * DAY_US


def events(rng, sf):
    n = int(1_000_000 * sf)
    users = max(150, int(15_000 * sf))
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    gaps = rng.exponential(259e6, n).astype("int64") + 1
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(t0 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def orders(rng, sf):
    n = int(1_500_000 * sf)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, int(150_000 * sf), n), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n), 2)),
        "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", n)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    })


def lineitem(rng, sf):
    n = int(6_000_000 * sf)
    qty = rng.integers(1, 51, n).astype("float64")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, int(1_500_000 * sf), n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, int(200_000 * sf), n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, int(10_000 * sf), n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", n)),
    })


def customer(rng, sf):
    n = int(150_000 * sf)
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    })


def documents(rng, sf):
    """Random word texts; about 5% are a prefix of an earlier text
    followed by ` dup`, so the near-duplicate queries find pairs."""
    n = int(50_000 * sf)
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].split()
            keep = max(3, int(len(src) * rng.uniform(0.8, 1.0)))
            texts.append(" ".join(src[:keep] + ["dup"]))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, sf):
    n = int(50_000 * sf)
    e = rng.standard_normal((n, 64)).astype("float32")
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(e), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


TABLES = [events, orders, lineitem, customer, documents, embeddings]


def write_tables(out_dir, sf):
    os.makedirs(out_dir, exist_ok=True)
    for i, make in enumerate(TABLES):
        # One generator per table: adding a column to one table leaves
        # every other table's data unchanged.
        rng = np.random.default_rng([DATA_SEED, i])
        t = make(rng, sf)
        pq.write_table(t, os.path.join(out_dir, f"{make.__name__}.parquet"),
                       row_group_size=max(1, t.num_rows))


def source_digest():
    """Digest of this generator's source, to key a cache of its output."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


if __name__ == "__main__":
    write_tables(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.01)
