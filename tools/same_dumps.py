#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query.

Usage: python3 tools/same_dumps.py <dirA> <dirB> [--sorted q1,q2,...]

For every query dump (one parquet directory per query) it compares the
schema, the row count and the rows in order, doubles by bit pattern.
Queries named in --sorted have their rows sorted on both sides first
(for dumps whose row order is not stable from run to run); the report
says so. oracle_sql.json is compared byte for byte. Each query that
differs is printed; the exit status is 1 if anything differs.
"""
import argparse
import os
import struct
import sys

import pyarrow.parquet as pq


def canon(v):
    """A value as an orderable tuple; floats by their IEEE bit pattern."""
    if v is None:
        return (0,)
    if isinstance(v, float):
        return (1, struct.pack(">d", v))
    if isinstance(v, dict):
        return (1, tuple((k, canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return (1, tuple(canon(x) for x in v))
    return (1, v)


def rows(table):
    cols = [[canon(v) for v in table.column(i).to_pylist()] for i in range(table.num_columns)]
    return list(zip(*cols))


def dumps(d):
    return {q for q in os.listdir(d) if os.path.isdir(os.path.join(d, q))}


def compare(a, b, sort):
    ta = pq.read_table(a)
    tb = pq.read_table(b)
    if not ta.schema.equals(tb.schema, check_metadata=False):
        return f"schema {ta.schema} != {tb.schema}"
    if ta.num_rows != tb.num_rows:
        return f"row count {ta.num_rows} != {tb.num_rows}"
    ra, rb = rows(ta), rows(tb)
    if sort:
        ra.sort()
        rb.sort()
    for i, (x, y) in enumerate(zip(ra, rb)):
        if x != y:
            return f"row {i} differs{' (sorted)' if sort else ''}"
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--sorted", default="", help="comma-separated queries to compare sorted")
    args = ap.parse_args()
    sort = set(filter(None, args.sorted.split(",")))
    qa, qb = dumps(args.a), dumps(args.b)
    bad = 0
    for q in sorted(qa ^ qb):
        print(f"{q}: only in {args.a if q in qa else args.b}")
        bad += 1
    same = 0
    for q in sorted(qa & qb):
        diff = compare(os.path.join(args.a, q), os.path.join(args.b, q), q in sort)
        if diff:
            print(f"{q}: {diff}")
            bad += 1
        else:
            same += 1
    with open(os.path.join(args.a, "oracle_sql.json"), "rb") as fa, \
            open(os.path.join(args.b, "oracle_sql.json"), "rb") as fb:
        oracle_same = fa.read() == fb.read()
    if not oracle_same:
        print("oracle_sql.json: differs")
        bad += 1
    sorted_note = f", {len(sort & qa & qb)} of them compared sorted ({', '.join(sorted(sort & qa & qb))})" \
        if sort & qa & qb else ""
    print(f"{same} of {len(qa | qb)} queries identical{sorted_note}; "
          f"oracle_sql.json {'identical' if oracle_same else 'differs'}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
