#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB correctness gate.

Usage: oracle_check.py <sfDir> <outDir>
  <outDir> must contain <name>/ parquet dirs written by graft.Verify plus
  oracle_sql.json. Registers each table in <sfDir> as a DuckDB view, runs
  each oracle SQL, and compares against the Spark result: schema (sorted
  column names), row count, and cell-exact values after sorting columns by
  name and rows by their full tuple. A name with Spark output but no
  oracle, or an oracle but no Spark output, fails.
"""
import glob
import json
import math
import os
import sys

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon_type(t):
    """Canonicalize a DuckDB type name to the classes the driver's typed
    hash distinguishes. HUGEINT (DuckDB's sum/window-int default) is NOT
    folded into BIGINT — that leak is exactly what this check exists to
    catch (see ADVICE round 6: pack_token_budget)."""
    t = str(t).upper()
    for a, b in [("INTEGER", "INT32"), ("INT", "INT32"), ("BIGINT", "INT64"),
                 ("INT64", "INT64"), ("HUGEINT", "INT128"),
                 ("SMALLINT", "INT16"), ("TINYINT", "INT8"),
                 ("DOUBLE", "FLOAT64"), ("FLOAT", "FLOAT32"),
                 ("VARCHAR", "STRING"), ("BLOB", "BINARY"),
                 ("BOOLEAN", "BOOL")]:
        if t == a:
            return b
    return t  # DECIMAL(p,s), DATE, TIMESTAMP*, LIST<...> compared verbatim


def type_mismatches(s_rel_types, s_cols, o_rel_types, o_cols):
    s_map = {c: canon_type(t) for c, t in zip(s_cols, s_rel_types)}
    o_map = {c: canon_type(t) for c, t in zip(o_cols, o_rel_types)}
    return [(c, s_map[c], o_map[c]) for c in sorted(s_map)
            if c in o_map and s_map[c] != o_map[c]]


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                # driver-style stabilization: exact repr; queries should
                # pre-round floats so this never carries fp noise
                v = repr(round(v, 9))
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return [cols[i] for i in order], out


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)

    n_pass = n_fail = 0
    names = sorted(set(list(oracles.keys()) +
                       [os.path.basename(d) for d in glob.glob(out_dir + "/*")
                        if os.path.isdir(d)]))
    for name in names:
        spark_dir = os.path.join(out_dir, name)
        if not os.path.isdir(spark_dir):
            print(f"FAIL {name}: no Spark output")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"FAIL {name}: no oracle")
            n_fail += 1
            continue
        s_rel = con.sql(f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
        s_cols, s_types = list(s_rel.columns), list(s_rel.types)
        s_rows = s_rel.fetchall()
        try:
            o_rel = con.sql(oracles[name])
            o_cols, o_types = list(o_rel.columns), list(o_rel.types)
            o_rows = o_rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        s_cols_n, s_norm = normalize(s_rows, s_cols)
        o_cols_n, o_norm = normalize(o_rows, o_cols)
        if s_cols_n != o_cols_n:
            print(f"FAIL {name}: schema {s_cols_n} != {o_cols_n}")
            n_fail += 1
            continue
        tmis = type_mismatches(s_types, s_cols, o_types, o_cols)
        if tmis:
            print(f"FAIL {name}: column type mismatch (spark vs oracle): "
                  + ", ".join(f"{c}: {a} != {b}" for c, a, b in tmis))
            n_fail += 1
            continue
        if len(s_norm) != len(o_norm):
            print(f"FAIL {name}: rows {len(s_norm)} != {len(o_norm)}")
            n_fail += 1
            continue
        bad = [(a, b) for a, b in zip(s_norm, o_norm) if a != b]
        if bad:
            print(f"FAIL {name}: {len(bad)}/{len(s_norm)} rows differ; first:")
            print(f"  spark:  {bad[0][0]}")
            print(f"  oracle: {bad[0][1]}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(s_norm)} rows")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
