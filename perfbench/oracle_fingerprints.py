#!/usr/bin/env python3
"""Expected query_mix fingerprints, computed from the DuckDB oracle.

Runs each query_mix query's oracle SQL in DuckDB over the generated
tables and fingerprints the result the way the harness fingerprints
Spark's result (`QueryMix.fingerprint`): row count plus the sum of
64-bit hashes of each row's canonical rendering, columns in name order.
The expectations therefore come from the oracle, never from the program.

The oracle SQL is the `oracle_sql.json` of a `graft.Verify` dump; see
README.md ("Correctness checks") for the whole cross-check.

Usage:
  python3 perfbench/oracle_fingerprints.py <tables_dir> <oracle_sql.json>

writes perfbench/expected_fingerprints.json.
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import sys

import run
import tables

HERE = os.path.dirname(os.path.abspath(__file__))
QUERIES = ["q_agg_metrics", "q_dedup_minhash", "q_sim_ivf", "q_tfidf_top",
           "q_join_salted"]

_CTX = decimal.Context(prec=9, rounding=decimal.ROUND_HALF_UP)
_EPOCH = datetime.datetime(1970, 1, 1)
_US = datetime.timedelta(microseconds=1)


def number(v):
    """Integral numbers exactly; others rounded to 9 significant digits
    and written as `<unscaled>e<exponent>`."""
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return {"nan": "NaN", "inf": "Infinity", "-inf": "-Infinity"}[repr(v)]
    d = decimal.Decimal(v)
    if d == d.to_integral_value():
        return str(int(d))
    sign, digits, exp = _CTX.plus(d).normalize(_CTX).as_tuple()
    unscaled = int("".join(map(str, digits)))
    return f"{-unscaled if sign else unscaled}e{exp}"


def canon(v):
    if v is None:
        return "\u0000"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, decimal.Decimal)):
        return number(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return f"t{(v - _EPOCH) // _US}"
    if isinstance(v, datetime.date):
        return f"d{(v - _EPOCH.date()).days}"
    if isinstance(v, dict):  # a struct, fields in declared order
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return "0x" + v.hex()
    raise TypeError(f"no canonical form for {type(v).__name__}: {v!r}")


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        s = "(" + ",".join(canon(r[i]) for i in order) + ")"
        h = hashlib.sha256(s.encode("utf-8")).digest()[:8]
        total += int.from_bytes(h, "big", signed=True)
    return f"{len(rows)}:{total & (2 ** 64 - 1):x}"


def oracle_fingerprints(tables_dir, oracle_sql):
    import duckdb
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    out = {}
    for q in QUERIES:
        rel = con.sql(oracle_sql[q])
        out[q] = fingerprint(rel.columns, rel.fetchall())
    return out


def main(tables_dir, sql_path):
    with open(sql_path) as f:
        fps = oracle_fingerprints(tables_dir, json.load(f))
    path = os.path.join(HERE, "expected_fingerprints.json")
    with open(path, "w") as f:
        json.dump({"scale_factor": run.QUERY_SF, "data_seed": tables.DATA_SEED,
                   "fingerprints": fps}, f, indent=1)
        f.write("\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
