"""Canonical form of a query result, shared by the expected-answer command
and the run's output check.

Same canonical form as tools/oracle_check.py: columns sorted by name, rows
sorted, values compared exactly (doubles by value, so 0.0 == -0.0 and NaN
matches NaN). Both sides are read through DuckDB, so the engine's parquet and
DuckDB's own answer get one type mapping. A result is kept as its row count,
column names and a SHA-256 digest of the sorted, normalised rows.
"""
import decimal
import hashlib
import math

import duckdb


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0.0 else v
    if isinstance(v, decimal.Decimal):
        return v.normalize()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    return v


def _key(row):
    # None sorts first; values of mixed type sort by type name, then value
    return tuple((x is not None, type(x).__name__, x if x is not None else 0)
                 for x in row)


def canon(con, sql):
    """(row count, sorted column names, digest) of the rows `sql` returns."""
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_norm(r[i]) for i in order) for r in rel.fetchall()]
    rows.sort(key=_key)
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
        h.update(b"\n")
    return {"rows": len(rows), "columns": [cols[i] for i in order],
            "digest": h.hexdigest()}


def tables(con, sf_dir):
    """Registers each table of an SF directory as a view named after it."""
    import glob
    import os
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")


def connect():
    return duckdb.connect()
