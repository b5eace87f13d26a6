#!/usr/bin/env python3
"""One set-up round's inputs and expected outputs for a benchmark run.

Usage:
  python3 clifbench/prepare.py clif  <dir> --seed N --scale S
  python3 clifbench/prepare.py board <dir> --seed N --sf F --oracle <json>

`clif` writes the raw C19 extracts under <dir>/raw. `board` writes the
synthetic tables under <dir>/tables, runs each query's oracle SQL (the
`SparkEntry.oracleSql` entries in <json>) in DuckDB over them, and
writes <dir>/expected.json: per query, the oracle's row count, the
dtype kind of each column and a hash of the rows canonicalized as
tools/check.py does.
"""
import argparse
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "..", "tools"))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon_digest(df):
    """Row count, column dtype kinds and a digest of the rows after
    tools/check.py's canonicalization (columns sorted by name, cells
    stringified, rows sorted)."""
    from check import canon
    c = canon(df)
    h = hashlib.sha256("\x1f".join(c.columns).encode())
    for row in c.itertuples(index=False):
        h.update(("\x1e" + "\x1f".join(row)).encode())
    kinds = {col: df[col].dtype.kind for col in df.columns}
    return {"rows": len(df), "kinds": kinds, "hash": h.hexdigest()}


def oracle(tables_dir, oracle_json, out_json):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(tables_dir, t)}.parquet'")
    sqls = json.load(open(oracle_json))
    expected = {name: canon_digest(con.execute(sql).fetchdf())
                for name, sql in sorted(sqls.items())}
    with open(out_json, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("kind", choices=["clif", "board"])
    ap.add_argument("dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--oracle")
    a = ap.parse_args()
    if a.kind == "clif":
        import gen_c19
        gen_c19.generate(os.path.join(a.dir, "raw"), a.seed, a.scale)
    else:
        import gen_tables
        tables = os.path.join(a.dir, "tables")
        gen_tables.generate(tables, a.seed, a.sf)
        oracle(tables, a.oracle, os.path.join(a.dir, "expected.json"))


if __name__ == "__main__":
    main()
