#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB differential: for every query parquet
dumped by graft.Verify, run its oracle SQL in DuckDB over the same testdata
tables and compare (columns sorted by name, rows sorted, values normalized).

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

The first line is the sha256 of oracle_sql.json, so each run records which
reference it checked against. Each query's line carries its time in DuckDB,
in reading the Spark output and in normalize+compare; the run ends with the
ten slowest queries.
"""
import hashlib
import json
import sys
import time

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if np.issubdtype(s.dtype, np.floating):
            out[c] = s.round(6)
        elif np.issubdtype(s.dtype, np.datetime64):
            out[c] = s.astype("datetime64[us]")
        elif s.dtype == object or str(s.dtype) == "string":
            out[c] = s.map(lambda v: None if v is None else str(v))
        elif np.issubdtype(s.dtype, np.integer):
            out[c] = s.astype("int64")
        elif s.dtype == bool:
            out[c] = s
        else:
            out[c] = s
    r = pd.DataFrame(out)
    key = r.apply(lambda row: tuple(str(x) for x in row), axis=1)
    return r.iloc[key.argsort(kind="stable")].reset_index(drop=True)


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    with open(f"{outdir}/oracle_sql.json", "rb") as f:
        raw = f.read()
    print(f"oracle_sql.json sha256 {hashlib.sha256(raw).hexdigest()}", flush=True)
    oracle = json.loads(raw)
    n_ok, fails, times = 0, [], []
    for name in sorted(oracle):
        why = compare(con, oracle[name], f"{outdir}/{name}", name, times)
        if why is None:
            n_ok += 1
        else:
            fails.append((name, why))
        duck, read, cmp = times[-1][1:]
        print(f"     {name}: duckdb {duck:.2f}s  spark read {read:.2f}s  "
              f"normalize+compare {cmp:.2f}s")
    for name, why in fails:
        print(f"FAIL {name}: {why}")
    print("\nslowest queries (duckdb / spark read / normalize+compare, s):")
    for name, duck, read, cmp in sorted(times, key=lambda t: -sum(t[1:]))[:10]:
        print(f"  {name:40s} {sum((duck, read, cmp)):8.2f}  = {duck:.2f} / {read:.2f} / {cmp:.2f}")
    print(f"\n{n_ok}/{len(oracle)} queries match")
    sys.exit(1 if fails else 0)


def compare(con, sql, path, name, times):
    """None if the Spark output at `path` matches the oracle SQL, else why
    not; appends (name, duckdb s, read s, normalize+compare s) to `times`."""
    t = [time.perf_counter()]
    def lap():
        t.append(time.perf_counter())
    def done(why):
        while len(t) < 4:
            lap()
        times.append((name, t[1] - t[0], t[2] - t[1], t[3] - t[2]))
        return why
    try:
        want = con.execute(sql).fetchdf()
    except Exception as e:
        return done(f"duckdb error: {e}")
    lap()
    try:
        got = pd.read_parquet(path)
    except Exception as e:
        return done(f"spark output missing: {e}")
    lap()
    w, g = norm(want), norm(got)
    if sorted(w.columns) != sorted(g.columns):
        return done(f"columns differ: duck={list(w.columns)} spark={list(g.columns)}")
    if len(w) != len(g):
        return done(f"row count: duck={len(w)} spark={len(g)}")
    diff_cols = []
    for c in w.columns:
        a, b = w[c], g[c]
        if np.issubdtype(a.dtype, np.floating) or np.issubdtype(b.dtype, np.floating):
            eq = np.isclose(a.astype(float), b.astype(float),
                            rtol=1e-9, atol=1e-9, equal_nan=True)
        else:
            eq = (a.astype(str).fillna("∅") == b.astype(str).fillna("∅"))
        if not bool(np.all(eq)):
            i = int(np.argmin(eq))
            diff_cols.append(f"{c}[row{i}]: duck={a.iloc[i]!r} spark={b.iloc[i]!r}")
    if diff_cols:
        return done("; ".join(diff_cols[:3]))
    print(f"OK   {name} ({len(w)} rows)")
    return done(None)


if __name__ == "__main__":
    main()
