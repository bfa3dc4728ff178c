#!/usr/bin/env python3
"""Compare two graft.Verify output trees by decoded rows.

Usage: python3 tools/compare_dumps.py <dirA> <dirB>

Each subdirectory of a tree is one query's dump (parquet part files). Two
dumps are equal when they hold the same schema (column names and Arrow
types) and the same rows in the same order, part files read in name
order. Floating-point values compare by bit pattern, so NaN equals NaN,
-0.0 differs from 0.0 and no tolerance applies. The parquet bytes
themselves are not compared: a rerun of the same query may write its
footer differently while every decoded row agrees.

Prints one line per differing or unmatched dump and a summary line;
exits 1 if any dump differs or exists on one side only, 0 otherwise.
"""
import os
import struct
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def dumps(root):
    return {n for n in os.listdir(root) if os.path.isdir(os.path.join(root, n))}


def read(path):
    parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    tables = [pq.read_table(os.path.join(path, f)) for f in parts]
    if not tables:
        return None
    return pa.concat_tables(tables) if len(tables) > 1 else tables[0]


def canon(v):
    """A value with every float replaced by its IEEE-754 bit pattern."""
    if isinstance(v, float):
        return ("f64", struct.pack("<d", v))
    if isinstance(v, dict):
        return tuple((k, canon(x)) for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def diff(a, b):
    """None if the two tables are equal, else a short reason."""
    if a is None or b is None:
        return None if a is None and b is None else "one side has no part file"
    sa = [(f.name, str(f.type)) for f in a.schema]
    sb = [(f.name, str(f.type)) for f in b.schema]
    if sa != sb:
        return f"schema {sa} != {sb}"
    if a.num_rows != b.num_rows:
        return f"rows {a.num_rows} != {b.num_rows}"
    for name in a.column_names:
        ca = a.column(name).to_pylist()
        cb = b.column(name).to_pylist()
        for i, (x, y) in enumerate(zip(ca, cb)):
            if canon(x) != canon(y):
                return f"column {name} row {i}: {x!r} != {y!r}"
    return None


def main(dir_a, dir_b):
    names_a, names_b = dumps(dir_a), dumps(dir_b)
    bad = 0
    for n in sorted(names_a ^ names_b):
        print(f"ONLY_IN {'A' if n in names_a else 'B'} {n}")
        bad += 1
    common = sorted(names_a & names_b)
    for n in common:
        reason = diff(read(os.path.join(dir_a, n)), read(os.path.join(dir_b, n)))
        if reason is not None:
            print(f"DIFF {n}: {reason}")
            bad += 1
    print(f"{len(common)} dumps compared, {bad} differ or unmatched")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
