#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
       python3 tools/check_oracle.py --same-as <other oracle_sql.json> <sfDir> <verifyOutDir|oracle_sql.json>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs
the matching SQL from oracle_sql.json in DuckDB against the same sfDir
parquet tables, and compares: row count, column names (sorted), and a hash
of all values with columns sorted by name (row order normalized by sorting
on all columns — the strictest plausible interpretation of the driver).

With --same-as, no query output is read: both oracle sets run in DuckDB
over the same sfDir and each key's normalized results are compared, so an
oracle rewrite can be shown to return exactly the rows of the oracles it
replaces. Keys present on one side only are reported as such.

Dev-only tooling; the engine itself never depends on Python.
"""
import sys, json, glob, os
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # canonicalize types: floats → rounded repr, ints/bools → int64 where possible
    out = {}
    for c in df.columns:
        col = df[c]
        if col.dtype == object:
            col = col.map(lambda v: tuple(np.asarray(v).tolist()) if isinstance(v, (list, np.ndarray)) else v)
        if str(col.dtype).startswith("float"):
            col = col.round(6)
        if str(col.dtype) in ("int8", "int16", "int32", "uint8", "uint16",
                              "uint32", "uint64"):
            col = col.astype("int64")
        if str(col.dtype).startswith("datetime"):
            col = col.astype("datetime64[us]")
        out[c] = col
    df = pd.DataFrame(out)
    try:
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    except Exception:
        df = df.reset_index(drop=True)
    return df


def connect(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def load_oracles(path):
    if os.path.isdir(path):
        path = os.path.join(path, "oracle_sql.json")
    with open(path) as f:
        return json.load(f)


def same_as(other_path, sf_dir, path):
    """Run both oracle sets over sf_dir; report per key whether the
    normalized results are equal. Exit 1 unless every key is equal."""
    con = connect(sf_dir)
    mine, other = load_oracles(path), load_oracles(other_path)
    results = {}
    for k in sorted(set(mine) | set(other)):
        if k not in other or k not in mine:
            results[k] = f"ONLY_IN_{'THIS' if k in mine else 'OTHER'}"
            continue
        try:
            a, b = norm(con.execute(mine[k]).df()), norm(con.execute(other[k]).df())
        except Exception as e:
            results[k] = f"ORACLE_SQL_ERROR: {e}"
            continue
        if list(a.columns) != list(b.columns):
            results[k] = f"SCHEMA_DIFF this={list(a.columns)} other={list(b.columns)}"
        elif len(a) != len(b):
            results[k] = f"ROWCOUNT_DIFF this={len(a)} other={len(b)}"
        elif not a.equals(b):
            results[k] = "VALUE_DIFF"
        else:
            results[k] = f"EQUAL({len(a)})"
    n_eq = sum(v.startswith("EQUAL") for v in results.values())
    for k in sorted(results):
        print(f"{'SAME' if results[k].startswith('EQUAL') else 'DIFF'} {k}: {results[k]}")
    print(f"\n{n_eq}/{len(results)} equal")
    sys.exit(0 if n_eq == len(results) else 1)


def main():
    if sys.argv[1:2] == ["--same-as"] and len(sys.argv) == 5:
        same_as(*sys.argv[2:5])
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = connect(sf_dir)
    oracles = load_oracles(out_dir)

    results = {}
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    for name in names:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            results[name] = "NO_OUTPUT"
            continue
        got = pd.concat([pd.read_parquet(f) for f in sorted(files)], ignore_index=True)
        if name not in oracles:
            results[name] = f"ROWS_ONLY({len(got)})"
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as e:
            results[name] = f"ORACLE_SQL_ERROR: {e}"
            continue
        g, e = norm(got), norm(exp)
        if list(g.columns) != list(e.columns):
            results[name] = f"SCHEMA_MISMATCH spark={list(g.columns)} duck={list(e.columns)}"
        elif len(g) != len(e):
            results[name] = f"ROWCOUNT_MISMATCH spark={len(g)} duck={len(e)}"
        elif not g.equals(e):
            neq = (g != e) & ~(g.isna() & e.isna())
            bad = neq.any(axis=1)
            results[name] = (f"VALUE_MISMATCH rows={int(bad.sum())}/{len(g)} "
                             f"first_bad:\nspark:\n{g[bad].head(3)}\nduck:\n{e[bad].head(3)}")
        else:
            results[name] = f"OK({len(g)})"

    n_ok = sum(1 for v in results.values() if v.startswith("OK") or v.startswith("ROWS_ONLY"))
    for k in sorted(results):
        print(f"{'PASS' if results[k].startswith(('OK','ROWS_ONLY')) else 'FAIL'} {k}: {results[k]}")
    print(f"\n{n_ok}/{len(results)} pass")
    sys.exit(0 if n_ok == len(results) else 1)


if __name__ == "__main__":
    main()
