#!/usr/bin/env python3
"""Local dev harness mirroring the driver's DuckDB-oracle compare.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>

For every name in <verifyOutDir>/oracle_sql.json (written by graft.Verify),
reads the <verifyOutDir>/<name> parquet, runs the name's SQL in DuckDB
(tables = <sfDir>/*.parquet registered as views by bare name),
canonicalizes both sides (columns sorted by name, rows sorted, doubles
compared bitwise) and reports match/mismatch.
The count is over the declared names, so a query whose output is missing
(it threw in Verify) counts as a failure instead of dropping out.
Dev-only tooling — not part of the shipped library.
"""
import sys, os, json, glob
import duckdb
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort", ignore_index=True)
    return df


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    n_ok = 0
    names = sorted(oracle)
    for name in names:
        if not os.path.isdir(os.path.join(out_dir, name)):
            print(f"[FAIL] {name}: no engine output"); continue
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            print(f"[FAIL] {name}: no engine output parquet"); continue
        got = pd.concat([pd.read_parquet(f) for f in sorted(files)],
                        ignore_index=True)
        try:
            exp = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"[FAIL] {name}: oracle sql error: {e}"); continue
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns):
            print(f"[FAIL] {name}: columns {list(g.columns)} vs {list(e.columns)}")
            continue
        if len(g) != len(e):
            print(f"[FAIL] {name}: rows {len(g)} vs {len(e)}"); continue
        if g.dtypes.to_dict() != e.dtypes.to_dict():
            print(f"[warn] {name}: dtypes differ: "
                  f"{ {c: (str(g.dtypes[c]), str(e.dtypes[c])) for c in g.columns if g.dtypes[c] != e.dtypes[c]} }")
        bad = None
        for c in g.columns:
            gv, ev = g[c], e[c]
            try:
                eq = (gv == ev) | (gv.isna() & ev.isna())
            except Exception:
                eq = gv.astype(str) == ev.astype(str)
            if not eq.all():
                i = int((~eq).idxmax())
                bad = (c, i, gv.iloc[i], ev.iloc[i],
                       int((~eq).sum()))
                break
        if bad:
            c, i, gv, ev, n = bad
            print(f"[FAIL] {name}: col {c} differs on {n} rows; first at row "
                  f"{i}: engine={gv!r} oracle={ev!r}")
        else:
            print(f"[ OK ] {name}: {len(g)} rows")
            n_ok += 1
    print(f"== {n_ok}/{len(names)} OK ==")
    return 0 if n_ok == len(names) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
