#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run graft.Verify first
(sbt "runMain graft.Verify <sfDir> <outDir>"), then this script compares
each <outDir>/<name> parquet result against the DuckDB oracle SQL in
<outDir>/oracle_sql.json over the same sf tables.

A query named in oracle_sql.json with no output dir (Verify logs
`[verify] <name> failed` and writes nothing) is reported as MISSING and
counts against the total. Exits 1 unless every oracle-backed query is OK.

Usage: python3 tools/check_oracle.py <sfDir> <outDir>
"""
import sys, os, json, glob
import duckdb
import pandas as pd

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p).replace(".parquet", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = {name: "MISSING (no output dir: the query threw in Verify)"
               for name in oracles
               if not os.path.isdir(os.path.join(out_dir, name))}
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        try:
            got = pd.read_parquet(d)
        except Exception as e:
            results[name] = f"SPARK-READ-FAIL {e}"
            continue
        if name not in oracles:
            results[name] = f"ROWS-ONLY rows={len(got)}" + (" EMPTY!" if len(got) == 0 else "")
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as e:
            results[name] = f"ORACLE-SQL-FAIL {str(e)[:200]}"
            continue
        g, e = norm(got), norm(exp)
        if list(g.columns) != list(e.columns):
            results[name] = f"COLS-MISMATCH spark={list(g.columns)} duck={list(e.columns)}"
            continue
        if len(g) != len(e):
            results[name] = f"ROWCOUNT-MISMATCH spark={len(g)} duck={len(e)}"
            continue
        # value compare with per-cell string rendering (hash-equality proxy)
        mism = []
        for c in g.columns:
            a = g[c].astype(str).values
            b = e[c].astype(str).values
            bad = (a != b)
            if bad.any():
                i = bad.argmax()
                mism.append(f"{c}[{i}]: spark={a[i]!r} duck={b[i]!r} ({bad.sum()} cells)")
        if mism:
            results[name] = "VALUE-MISMATCH " + "; ".join(mism[:3])
        else:
            results[name] = f"OK rows={len(g)}"
    width = max(len(k) for k in results) if results else 0
    for k, v in sorted(results.items()):
        print(f"{k:<{width}}  {v}")
    n_ok = sum(1 for k in oracles if results[k].startswith("OK"))
    print(f"\n{n_ok}/{len(oracles)} exact-match OK")
    return 0 if n_ok == len(oracles) else 1

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
