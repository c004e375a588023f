#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query.

    python3 scripts/verify_diff.py <dirA> <dirB>

Each query's result parquet gets an order-free digest computed by DuckDB:
the column schema (names sorted, with types), the row count and the md5 of
its rows rendered as text and sorted. Prints one line per query whose
digest differs or that exists in only one directory, then a summary line.
Exits 1 when any query differs, 0 otherwise."""
import os
import sys

import duckdb


def queries(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def digest(con, path):
    src = f"read_parquet('{path}/*.parquet')"
    cols = sorted(con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall())
    schema = ", ".join(f"{name} {ty}" for name, ty, *_ in cols)
    # one text line per row, columns in name order; NULL is spelled out so
    # it cannot collide with the string 'NULL' shifting a separator
    row = " || chr(31) || ".join(
        f"coalesce(CAST(\"{name}\" AS VARCHAR), chr(0))" for name, *_ in cols)
    n, h = con.execute(
        f"SELECT count(*), md5(coalesce(string_agg(r, chr(10) ORDER BY r), '')) "
        f"FROM (SELECT {row} AS r FROM {src})").fetchone()
    return schema, n, h


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    qa, qb = queries(a), queries(b)
    differ = 0
    for name in sorted(qa | qb):
        if name not in qb or name not in qa:
            differ += 1
            print(f"{name}: only in {a if name in qa else b}")
            continue
        da, db = digest(con, f"{a}/{name}"), digest(con, f"{b}/{name}")
        if da != db:
            differ += 1
            what = [f"{k} {x} vs {y}" for k, x, y in zip(("schema", "rows", "md5"), da, db)
                    if x != y]
            print(f"{name}: " + "; ".join(what))
    print(f"{len(qa | qb)} queries compared, {differ} differ")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
