#!/usr/bin/env python3
"""Diff two Verify output directories: same answers, same oracle SQL.

Usage: python3 scripts/same_outputs.py <verifyDirA> <verifyDirB>

A change that must not move any result (a refactor, a plan rewrite) is
checked by running `graft.Verify` on both commits and diffing the dumps:
 - every query directory in EITHER dump is compared on its schema and its
   sorted, typed rows (check.py's `rows_of`, so BIGINT vs HUGEINT or
   1 vs 1.0 is a difference); a directory on one side only is one too;
 - `oracle_sql.json` must be byte-identical.
Prints one line per difference and exits 1 if there is any, else 0.
"""
import os, sys
import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import rows_of


def query_dirs(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def read_rows(con, d, name):
    return rows_of(con.sql(
        f"SELECT * FROM read_parquet('{os.path.join(d, name)}/*.parquet')"))


def differences(a, b):
    out = []
    con = duckdb.connect()
    names_a, names_b = query_dirs(a), query_dirs(b)
    for name in sorted(names_a | names_b):
        if name not in names_b:
            out.append(f"{name}: only in {a}")
            continue
        if name not in names_a:
            out.append(f"{name}: only in {b}")
            continue
        try:
            cols_a, rows_a = read_rows(con, a, name)
            cols_b, rows_b = read_rows(con, b, name)
        except Exception as e:
            out.append(f"{name}: unreadable: {e}")
            continue
        if cols_a != cols_b:
            out.append(f"{name}: schema {cols_a} != {cols_b}")
        elif len(rows_a) != len(rows_b):
            out.append(f"{name}: {len(rows_a)} rows != {len(rows_b)}")
        elif rows_a != rows_b:
            i = next(i for i in range(len(rows_a)) if rows_a[i] != rows_b[i])
            out.append(f"{name}: first diff at sorted row {i}: "
                       f"{rows_a[i]} != {rows_b[i]}")
    oracles = [os.path.join(d, "oracle_sql.json") for d in (a, b)]
    missing = [p for p in oracles if not os.path.isfile(p)]
    if missing:
        out.append(f"oracle_sql.json: missing {', '.join(missing)}")
    else:
        with open(oracles[0], "rb") as fa, open(oracles[1], "rb") as fb:
            if fa.read() != fb.read():
                out.append("oracle_sql.json: bytes differ")
    return out, len(names_a | names_b)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = sys.argv[1], sys.argv[2]
    out, n = differences(a, b)
    for line in out:
        print(f"DIFF {line}")
    print(f"== {n} query dirs compared, {len(out)} differences ==")
    sys.exit(1 if out else 0)


if __name__ == "__main__":
    main()
