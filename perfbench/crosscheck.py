#!/usr/bin/env python3
"""Cross-check the pinned checksums against DuckDB.

    python3 perfbench/crosscheck.py

Writes every benchmark query's output with the current engine (run.py
--dump), runs each query's oracle SQL (`graft.SparkEntry.oracleSql`) in
DuckDB over the same generated fixtures, and compares the two results as
multisets of rows, values exact, columns matched by name. It also checks
that each output's row count equals the count pinned in expected.json, so a
pass means the pinned checksums were taken from outputs DuckDB agrees with.
"""
import json
import os
import subprocess
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if isinstance(v, float):
        return "NaN" if v != v else repr(v)
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return repr(v)


def rows(rel):
    cols = sorted(rel.columns)
    return cols, sorted(tuple(canon(x) for x in r)
                        for r in rel.project(", ".join(f'"{c}"' for c in cols)).fetchall())


def main():
    subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"), "--dump"], check=True)
    data = run.fixtures()
    dump = os.path.join(run.BUILD, "out", "dump")
    with open(os.path.join(run.HERE, "expected.json")) as f:
        expected = json.load(f)["queries"]
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = 0
    for q in sorted(expected):
        got_cols, got = rows(con.sql(f"SELECT * FROM read_parquet('{dump}/{q}/*.parquet')"))
        pinned = int(expected[q].split(":")[0])
        if q not in oracle:
            status = "NO-ORACLE"
        else:
            want_cols, want = rows(con.sql(oracle[q]))
            status = ("OK" if (got_cols, got) == (want_cols, want) else
                      f"MISMATCH spark {len(got)} rows {got_cols} vs duckdb {len(want)} rows {want_cols}")
        if len(got) != pinned:
            status += f" ROWCOUNT {len(got)} != pinned {pinned}"
        bad += status != "OK"
        print(f"{q:22s} {status} rows={len(got)}")
    print(f"{len(expected) - bad}/{len(expected)} agree")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
