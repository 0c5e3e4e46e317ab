#!/usr/bin/env python3
"""Check query outputs against the engine's DuckDB oracles.

    python3 perfbench/oracle.py TABLES OUT

TABLES holds the input tables as `<table>.parquet` directories. OUT holds
`oracle_sql.json` (key -> the key's oracle SQL from
`graft.SparkEntry.oracleSql`) and, per key, the engine's full output as
parquet under `OUT/<key>/`. Each oracle runs in DuckDB on the same tables,
independently of the engine, and its result is compared with the engine's
output: the same columns (by name), the same number of rows and equal
values, doubles within a relative 1e-9. Rows are compared in order first
and, failing that, as sorted multisets (ties may order differently).

Prints one line per key, `PASS <key>` or `FAIL <key> <reason>`; exits 0 once
every key has been compared, whatever the outcome.
"""
import datetime
import decimal
import glob
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def equal(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if fa == fb or (math.isnan(fa) and math.isnan(fb)):
            return True
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(equal(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(equal(a[k], b[k]) for k in a)
    return a == b


def sort_key(row):
    """A total order on rows that does not depend on the last bits of a
    double, so that rows equal within the tolerance sort alike."""
    def k(v):
        if v is None:
            return (0, "")
        if isinstance(v, float):
            return (1, "nan" if math.isnan(v) else f"{v:.9g}")
        if isinstance(v, (int, decimal.Decimal)):
            return (1, f"{float(v):.9g}")
        if isinstance(v, (datetime.date, datetime.datetime)):
            return (2, v.isoformat())
        if isinstance(v, (list, tuple)):
            return (3, tuple(k(x) for x in v))
        if isinstance(v, dict):
            return (4, tuple((str(x), k(y)) for x, y in sorted(v.items(), key=lambda i: str(i[0]))))
        return (5, str(v))
    return tuple(k(v) for v in row)


def by_name(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(r[i] for i in order) for r in rows]


def compare(con, sql, files):
    got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchall()
    gcols = [d[0] for d in con.description]
    exp = con.execute(sql).fetchall()
    ecols = [d[0] for d in con.description]
    if sorted(gcols) != sorted(ecols):
        return f"columns {sorted(gcols)} != {sorted(ecols)}"
    if len(got) != len(exp):
        return f"{len(got)} rows != {len(exp)}"
    got, exp = by_name(got, gcols), by_name(exp, ecols)
    if all(equal(g, e) for g, e in zip(got, exp)):
        return None
    got, exp = sorted(got, key=sort_key), sorted(exp, key=sort_key)
    for g, e in zip(got, exp):
        if not equal(g, e):
            return f"row {g!r} != oracle {e!r}"[:300]
    return None


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    tables, out = sys.argv[1], sys.argv[2]
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet/*.parquet')")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    for key in sorted(oracles):
        files = sorted(glob.glob(os.path.join(out, key, "*.parquet")))
        try:
            why = compare(con, oracles[key], files) if files else "no output written"
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"{type(e).__name__}: {e}"
        print(f"PASS {key}" if why is None else f"FAIL {key} {' '.join(str(why).split())}", flush=True)


if __name__ == "__main__":
    main()
