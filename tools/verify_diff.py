#!/usr/bin/env python3
"""Compare two graft.Verify output directories.

Usage: python3 tools/verify_diff.py <outA> <outB>

For every query directory in either output: the row counts, the
column names and types, and DuckDB `EXCEPT ALL` in both directions
(multiset equality, row order ignored). Then byte equality of
`oracle_sql.json` and `_FAILED`. Prints one line per difference and a
summary; exits 1 when anything differs, 0 when the outputs are equal.
"""
import os
import sys
import glob
import duckdb


def queries(out_dir):
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))}


def source(out_dir, name):
    """A DuckDB table expression over a query's parquet files, or None."""
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    if not files:
        return None
    return "read_parquet([%s])" % ", ".join("'%s'" % f for f in files)


def compare(con, a_dir, b_dir, name):
    """Returns a description of the first difference, or None."""
    a, b = source(a_dir, name), source(b_dir, name)
    if a is None or b is None:
        return "no parquet output in %s" % (a_dir if a is None else b_dir)

    def schema(src):
        return con.sql("DESCRIBE SELECT * FROM %s" % src).fetchall()

    def count(sql):
        return con.sql("SELECT count(*) FROM (%s)" % sql).fetchone()[0]

    if schema(a) != schema(b):
        return "schema %s vs %s" % (schema(a), schema(b))
    na, nb = count("SELECT * FROM " + a), count("SELECT * FROM " + b)
    if na != nb:
        return "rows %d vs %d" % (na, nb)
    only_a = count("SELECT * FROM %s EXCEPT ALL SELECT * FROM %s" % (a, b))
    only_b = count("SELECT * FROM %s EXCEPT ALL SELECT * FROM %s" % (b, a))
    if only_a or only_b:
        return "%d rows only in A, %d rows only in B" % (only_a, only_b)
    return None


def same_bytes(a_dir, b_dir, fname):
    pa, pb = os.path.join(a_dir, fname), os.path.join(b_dir, fname)
    if not (os.path.exists(pa) and os.path.exists(pb)):
        return False
    with open(pa, "rb") as fa, open(pb, "rb") as fb:
        return fa.read() == fb.read()


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a_dir, b_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    names = sorted(queries(a_dir) | queries(b_dir))
    n_diff = 0
    for name in names:
        diff = compare(con, a_dir, b_dir, name)
        if diff:
            print("DIFF %s: %s" % (name, diff))
            n_diff += 1
    for fname in ("oracle_sql.json", "_FAILED"):
        if not same_bytes(a_dir, b_dir, fname):
            print("DIFF %s: not byte-identical" % fname)
            n_diff += 1
    print("%d tables compared, %d differences" % (len(names), n_diff))
    sys.exit(1 if n_diff else 0)


if __name__ == "__main__":
    main()
