#!/usr/bin/env python3
"""Compare two parquet output directories by what a reader sees.

usage: python3 tools/compare_parquet_dirs.py A B

A and B are each a directory of tables (a ScaleUp output, an sf corpus,
an ETL output directory) or one table directory (`combined_parquet`).
A table is a top-level `*.parquet` file, or a top-level directory with
parquet files at any depth (partition directories included). A
directory whose own entries are `part-` files or `key=value`
directories is one table.

For each table it compares, between A and B:
  - the data files: their count, and the partition directory of each;
  - each file's schema, key-value metadata included (the Spark schema
    a Spark writer stores, its version);
  - each file's rows, in file order.
Files are paired in (partition directory, file name) order: a writer's
file names begin with the part number, and differ between runs only in
the write's UUID after it.

Footer bytes are not compared: parquet-mr lists a column chunk's
encodings in hash-set order, so two equal writes can differ there
(docs/DIVERGENCES.md item 9).

Prints one line per table and exits 0 when every table is equal, 1
otherwise.
"""
import os
import sys

import pyarrow.parquet as pq


def data_files(table):
    """Relative paths of the table's data files, sorted; hidden and
    `_`-prefixed names (markers, checksums, summaries) are skipped. A
    one-file table is the one path ""."""
    if os.path.isfile(table):
        return [""]
    found = []
    for d, dirs, files in os.walk(table):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                found.append(os.path.relpath(os.path.join(d, f), table))
    return sorted(found, key=lambda p: (os.path.dirname(p), os.path.basename(p)))


def tables(root):
    entries = sorted(os.listdir(root))
    if any(e.startswith("part-") or "=" in e for e in entries):
        return {".": root}
    out = {}
    for e in entries:
        p = os.path.join(root, e)
        if (os.path.isfile(p) and e.endswith(".parquet")) or (os.path.isdir(p) and data_files(p)):
            out[e] = p
    return out


def compare_table(a, b):
    """(None, files, rows) when the tables are equal, else (the first
    difference, files, rows compared so far)."""
    fa, fb = data_files(a), data_files(b)
    if len(fa) != len(fb):
        return f"{len(fa)} vs {len(fb)} data files", 0, 0
    rows = 0
    for x, y in zip(fa, fb):
        x, y = x or os.path.basename(a), y or os.path.basename(b)
        if os.path.dirname(x) != os.path.dirname(y):
            return f"partition directories differ: {x} vs {y}", len(fa), rows
        px, py = (pq.ParquetFile(t if os.path.isfile(t) else os.path.join(t, f)) for t, f in ((a, x), (b, y)))
        if not px.schema_arrow.equals(py.schema_arrow, check_metadata=True):
            return f"schemas differ: {x} vs {y}", len(fa), rows
        tx, ty = px.read(), py.read()
        if not tx.equals(ty):
            return f"rows differ: {x} ({tx.num_rows} rows) vs {y} ({ty.num_rows} rows)", len(fa), rows
        rows += tx.num_rows
    return None, len(fa), rows


def main(argv):
    if len(argv) != 3:
        print("usage: python3 tools/compare_parquet_dirs.py A B", file=sys.stderr)
        return 2
    ta, tb = tables(argv[1]), tables(argv[2])
    same = True
    for name in sorted(set(ta) | set(tb)):
        if name not in ta or name not in tb:
            print(f"{name}: only in {argv[1] if name in ta else argv[2]}")
            same = False
            continue
        diff, files, rows = compare_table(ta[name], tb[name])
        if diff:
            print(f"{name}: DIFFERENT, {diff}")
            same = False
        else:
            print(f"{name}: equal, {files} files, {rows} rows")
    print("all tables equal" if same else "tables differ")
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
