#!/usr/bin/env python3
"""Old-vs-new oracle text check for oracle-only refactors.

    python3 tools/oracle_diff.py OLD_ORACLE_JSON NEW_ORACLE_JSON SF_DIR [SF_DIR ...]

Both JSON files are `oracle_sql.json` maps as `graft.Verify` writes them
(run it with a name-filter regex to dump only the entries in question).
For every entry in both maps whose SQL text differs, both texts run in
DuckDB over each SF_DIR's tables, and the column names, column types and
ordered rows must be equal (floats bit for bit, NaN equal to NaN).
Prints one line per entry and SF; exits 1 on any difference.
"""
import json
import math
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or \
            math.copysign(1, a) == math.copysign(1, b) and a == b
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    return type(a) is type(b) and a == b


def run(con, sql):
    cur = con.execute(sql)
    return [(d[0], str(d[1])) for d in cur.description], cur.fetchall()


def main():
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    old, new = (json.load(open(p)) for p in sys.argv[1:3])
    changed = sorted(k for k in old.keys() & new.keys() if old[k] != new[k])
    print(f"{len(changed)} entries with changed oracle text: {', '.join(changed)}")
    bad = 0
    for sf in sys.argv[3:]:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        for k in changed:
            (ca, ra), (cb, rb) = run(con, old[k]), run(con, new[k])
            diff = [f"row {i}" for i, (x, y) in enumerate(zip(ra, rb)) if not same(x, y)]
            if ca != cb:
                msg = f"columns {ca} -> {cb}"
            elif len(ra) != len(rb):
                msg = f"rows {len(ra)} -> {len(rb)}"
            elif diff:
                msg = f"{len(diff)} rows differ, first {diff[0]}"
            else:
                msg = None
            bad += msg is not None
            print(f"  [{'DIFF' if msg else 'same'}] {sf} {k}: {msg or f'{len(ra)} rows'}")
        con.close()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
