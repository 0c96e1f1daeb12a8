#!/usr/bin/env python3
"""Compare two graft.Verify output dirs query by query.

Usage: python3 tools/compare_outputs.py <verify_out_a> <verify_out_b> [query ...]

Each <dir>/<query>/ is the parquet result `graft.Verify` writes. Two
results are the same when they have the same column names and the same
rows as multisets: `EXCEPT ALL` in DuckDB both ways is empty, so row
order does not matter and duplicate rows count. With no query names,
every query present in either dir is compared. Prints one
`same <query>` or `DIFF <query>: <reason>` line per query and exits
non-zero when any differs. This checks a refactor of queries that have
no DuckDB oracle: run Verify at the parent and at the change, then
compare the two dirs.
"""
import os
import sys

import duckdb


def result_dirs(out_dir):
    return {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}


def compare(con, a, b):
    """None when the two parquet dirs hold the same rows, else a reason."""
    ta, tb = (f"read_parquet('{d}/*.parquet')" for d in (a, b))
    cols_a = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {ta}").fetchall()]
    cols_b = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {tb}").fetchall()]
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {cols_a} vs {cols_b}"
    cols = ", ".join(f'"{c}"' for c in sorted(cols_a))
    n_a = con.execute(f"SELECT count(*) FROM {ta}").fetchone()[0]
    n_b = con.execute(f"SELECT count(*) FROM {tb}").fetchone()[0]
    only_a = con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM {ta} EXCEPT ALL SELECT {cols} FROM {tb})"
    ).fetchone()[0]
    only_b = con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM {tb} EXCEPT ALL SELECT {cols} FROM {ta})"
    ).fetchone()[0]
    if only_a or only_b:
        return f"rows {n_a} vs {n_b}: {only_a} only in the first, {only_b} only in the second"
    return None


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    a_dir, b_dir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or sorted(result_dirs(a_dir) | result_dirs(b_dir))
    con = duckdb.connect()
    ndiff = 0
    for name in names:
        a, b = os.path.join(a_dir, name), os.path.join(b_dir, name)
        missing = [d for d in (a, b) if not os.path.isdir(d)]
        reason = f"missing {', '.join(missing)}" if missing else compare(con, a, b)
        if reason is None:
            print(f"same {name}")
        else:
            ndiff += 1
            print(f"DIFF {name}: {reason}")
    print(f"== {len(names) - ndiff}/{len(names)} same ==")
    sys.exit(1 if ndiff else 0)


if __name__ == "__main__":
    main()
