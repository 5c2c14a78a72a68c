#!/usr/bin/env python3
"""Computes the battery rows' expected answers with DuckDB.

Usage (from the repository root):
  python3 flarebench/expected.py

For every row of the battery_rows workload it takes the
row's oracle SQL from `SparkEntry.oracleSql`, runs it in DuckDB over the
benchmark's SF directory (FLAREBENCH_SF_DIR, default in run.py)
and writes the canonical form of each answer (row count, columns, digest) to
flarebench/expected/<sf>.json. The benchmark only reads that file; run this
again when a row, its oracle SQL or the test data changes.
"""
import json
import os
import sys
import time

import oracle
import run


def main():
    classpath = run.build()
    rows = run.BATTERY_ROWS
    os.makedirs(run.WORK, exist_ok=True)
    sql_file = os.path.join(run.WORK, "oracle_sql.json")
    code = run.run_jvm(run.java_cmd(classpath, "flarebench.OracleSql", [sql_file] + rows, run.WORK),
                       os.path.join(run.WORK, "oracle_sql.log"), 120)
    if code != 0:
        sys.exit(f"expected: oracle SQL dump failed ({code})")
    with open(sql_file) as f:
        sqls = json.load(f)
    con = oracle.connect()
    oracle.tables(con, run.SF_DIR)
    out = {"sf": os.path.basename(run.SF_DIR.rstrip("/")), "rows": {}}
    for r in rows:
        t = time.time()
        out["rows"][r] = dict(oracle.canon(con, sqls[r]), sql=sqls[r])
        print(f"{r}: {out['rows'][r]['rows']} rows in {time.time() - t:.1f} s", flush=True)
    path = os.path.join(run.BENCH, "expected", os.path.basename(run.SF_DIR.rstrip("/")) + ".json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {os.path.relpath(path, run.REPO)}")


if __name__ == "__main__":
    main()
