#!/usr/bin/env python3
"""Cross-checks the recorded headline results against DuckDB.

After `python3 perfbench/run.py --record --workload headline`, the record
directory holds the generated tables (`tables/<name>.parquet`) and every
headline query's Spark result (`oracle/<query>/`) plus the oracle SQL the
program declares for it (`oracle/oracle_sql.json`). This script runs each
oracle SQL in DuckDB over the same tables and compares the two results
exactly (columns by name, rows sorted), as the repository's gate does.
The fingerprints in perfbench/expected/headline.json are those of results
that pass here.

    python3 perfbench/oracle_check.py [record_dir]
"""
import json
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# oracles that pin constants measured on the repository's sf0.01 fixture;
# they cannot match generated tables (the repository's gate skips them
# off that fixture too)
PINNED = {"q_recommend_charts", "q_profile_sketch"}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].astype("float64")
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(a, b):
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        x, y = a[c], b[c]
        if (x.dtype.kind == "f") != (y.dtype.kind == "f"):
            return f"column {c}: dtype {x.dtype} vs {y.dtype}"
        same = (x.isna() & y.isna()) | (x == y) if x.dtype.kind == "f" else \
            x.astype(str) == y.astype(str)
        if not same.all():
            i = (~same).idxmax()
            return f"column {c} row {i}: {x[i]!r} vs {y[i]!r}"
    return None


def main(record):
    tables, dump = os.path.join(record, "tables"), os.path.join(record, "oracle")
    with open(os.path.join(dump, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet/*.parquet')")
    queries = sorted(d for d in os.listdir(dump) if os.path.isdir(os.path.join(dump, d)))
    ok, bad = 0, []
    for q in queries:
        spark = con.execute(f"SELECT * FROM read_parquet('{dump}/{q}/*.parquet')").df()
        if q in PINNED:
            print(f"pinned {q}: oracle holds fixture constants, skipped")
            continue
        if q not in oracles:
            problem = None if len(spark) > 0 else "no rows (and no oracle SQL)"
        else:
            problem = compare(canon(spark), canon(con.execute(oracles[q]).df()))
        if problem:
            bad.append(q)
            print(f"MISMATCH {q}: {problem}")
        else:
            ok += 1
    print(f"{ok} ok, {len(bad)} bad")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else
                  os.path.join(ROOT, ".bench_build", "perfbench", "record")))
