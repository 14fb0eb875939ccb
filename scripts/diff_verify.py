#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query.

Usage: python3 scripts/diff_verify.py PARENT_OUT CHANGE_OUT

For every query directory (a subdirectory holding parquet parts) in
either output, compares the parquet schema (column names, types and
nullability, in order) and the MD5 of the rows sorted as canonical
strings. Prints one line per differing query name and a summary; exits 1
on any difference, including a query present on one side only. Oracle SQL
text (oracle_sql.json) is not compared: a refactor may rewrite it while
the rows stay identical.
"""
import glob
import hashlib
import os
import sys

import pyarrow.parquet as pq


def query_dirs(out_dir):
    return {os.path.basename(os.path.dirname(p))
            for p in glob.glob(os.path.join(out_dir, "*", "*.parquet"))}


def schema_of(table):
    return [(f.name, str(f.type), f.nullable) for f in table.schema]


def rows_md5(table):
    cols = table.column_names
    lines = sorted(repr(tuple(row[c] for c in cols)) for row in table.to_pylist())
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest(), len(lines)


def read(out_dir, name):
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    return pq.ParquetDataset(files).read()


def main(parent, change):
    a, b = query_dirs(parent), query_dirs(change)
    diffs = []
    for name in sorted(a | b):
        if name not in a or name not in b:
            diffs.append(f"{name}: only in {'change' if name in b else 'parent'}")
            continue
        ta, tb = read(parent, name), read(change, name)
        sa, sb = schema_of(ta), schema_of(tb)
        if sa != sb:
            diffs.append(f"{name}: schema {sa} != {sb}")
            continue
        (ha, na), (hb, nb) = rows_md5(ta), rows_md5(tb)
        if ha != hb:
            diffs.append(f"{name}: rows md5 {ha} ({na} rows) != {hb} ({nb} rows)")
    for d in diffs:
        print(d)
    print(f"{len(a | b) - len(diffs)}/{len(a | b)} queries identical")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
