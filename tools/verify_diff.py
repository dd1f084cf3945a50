#!/usr/bin/env python3
"""Row-by-row comparison of two graft.Verify output directories.

Usage: verify_diff.py <parentOut> <changeOut>
  Each directory holds one <name>/ parquet dir per registry row, as
  written by graft.Verify. For every row name in either directory this
  compares, in order: presence on both sides, column names and their
  order, column types, row count, and every cell of every row in file
  order (NaN equals NaN; floats compare exactly, both sides ran the same
  arithmetic). Prints one line per differing row name, then a summary
  `DIFF differing=D of=N`, and exits 1 when D > 0.
"""
import glob
import math
import os
import sys

import duckdb


def row_names(out_dir):
    return {os.path.basename(d) for d in glob.glob(os.path.join(out_dir, "*"))
            if os.path.isdir(d)}


def read_row(con, path):
    """(columns, types, rows) of one Verify output, rows in file order."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return [], [], []
    src = ("read_parquet([" + ", ".join(f"'{f}'" for f in files) +
           "], filename = true, file_row_number = true)")
    desc = con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()
    cols = [(n, str(t)) for n, t, *_ in desc
            if n not in ("filename", "file_row_number")]
    names = ", ".join('"' + n.replace('"', '""') + '"' for n, _ in cols)
    rows = con.execute(f"SELECT {names} FROM {src} "
                       "ORDER BY filename, file_row_number").fetchall()
    return [n for n, _ in cols], [t for _, t in cols], rows


def same_cell(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(map(same_cell, a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same_cell(a[k], b[k]) for k in a)
    return a == b


def diff_row(con, parent, change):
    pc, pt, pr = read_row(con, parent)
    cc, ct, cr = read_row(con, change)
    if pc != cc:
        return f"columns {pc} -> {cc}"
    if pt != ct:
        return f"types {pt} -> {ct}"
    if len(pr) != len(cr):
        return f"row count {len(pr)} -> {len(cr)}"
    for i, (a, b) in enumerate(zip(pr, cr)):
        if not all(map(same_cell, a, b)):
            return f"row {i} differs: {a} -> {b}"
    return None


def main(parent_out, change_out):
    con = duckdb.connect()
    p_names, c_names = row_names(parent_out), row_names(change_out)
    names = sorted(p_names | c_names)
    n_diff = 0
    for name in names:
        if name not in p_names:
            msg = "only in the change's output"
        elif name not in c_names:
            msg = "only in the parent's output"
        else:
            msg = diff_row(con, os.path.join(parent_out, name),
                           os.path.join(change_out, name))
        if msg:
            n_diff += 1
            print(f"DIFF {name}: {msg}")
    print(f"DIFF differing={n_diff} of={len(names)}")
    return 1 if n_diff else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
