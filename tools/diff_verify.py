#!/usr/bin/env python3
"""Compare two `graft.Verify` dumps: a parent commit's and a change's.

Usage: python3 tools/diff_verify.py <parent_out> <change_out>

Exits 0 only when both hold:
  - <out>/oracle_sql.json is byte-identical on both sides;
  - every dumped output (<out>/<gate>/*.parquet) has the same schema
    (column names and types) and the same rows, both in file order and
    sorted.
Prints each gate that differs, and why.
"""
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def gates(out_dir):
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))}


def load(out_dir, gate):
    path = os.path.join(out_dir, gate)
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    tables = [pq.read_table(os.path.join(path, f)) for f in files]
    if not tables:
        return None, []
    table = pa.concat_tables(tables)
    # repr keeps NULL and NaN comparable (nan != nan as a float)
    rows = [repr(tuple(r.values())) for r in table.to_pylist()]
    return table.schema, rows


def diff(parent, change, gate):
    ps, prows = load(parent, gate)
    cs, crows = load(change, gate)
    if ps is None or cs is None:
        return "no parquet output on " + ("both sides" if ps is None and cs is None
                                          else "the parent" if ps is None else "the change")
    pfields = [(f.name, str(f.type)) for f in ps]
    cfields = [(f.name, str(f.type)) for f in cs]
    if pfields != cfields:
        return f"schema {pfields} -> {cfields}"
    if len(prows) != len(crows):
        return f"rows {len(prows)} -> {len(crows)}"
    if sorted(prows) != sorted(crows):
        return "rows differ"
    if prows != crows:
        return "same rows, different file order"
    return None


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    parent, change = sys.argv[1], sys.argv[2]
    failures = 0
    with open(os.path.join(parent, "oracle_sql.json"), "rb") as f:
        poracle = f.read()
    with open(os.path.join(change, "oracle_sql.json"), "rb") as f:
        coracle = f.read()
    if poracle != coracle:
        print("oracle_sql.json: differs")
        failures += 1
    pg, cg = gates(parent), gates(change)
    for g in sorted(pg ^ cg):
        print(f"{g}: dumped only by the {'parent' if g in pg else 'change'}")
        failures += 1
    same = sorted(pg & cg)
    for g in same:
        why = diff(parent, change, g)
        if why:
            print(f"{g}: {why}")
            failures += 1
    print(f"{len(same)} gates compared, {failures} difference(s); "
          f"oracle_sql.json {'identical' if poracle == coracle else 'DIFFERS'}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
