"""Compare a query's output with its stored oracle result.

The rule is tools/check.py's: columns sorted by name, rows sorted, column
names and DuckDB types equal, values equal; floats may differ by a relative
1e-9 at most.
"""
import glob
import math
import os

import duckdb


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _rows(con, path):
    rel = con.sql(f"SELECT * FROM read_parquet('{path}')")
    cols = rel.columns
    types = {c.lower(): str(t) for c, t in zip(cols, rel.types)}
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_norm(r[i]) for i in order) for r in rel.fetchall()]
    rows.sort(key=lambda r: tuple(map(str, r)))
    return [cols[i].lower() for i in order], types, rows


def _close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def compare(expected_file, out_dir):
    """(ok, reason) for the parquet output directory `out_dir`."""
    if not os.path.exists(expected_file):
        return False, "no stored oracle result"
    if not glob.glob(os.path.join(out_dir, "*.parquet")):
        return False, "no output written"
    con = duckdb.connect()
    try:
        ecols, etypes, erows = _rows(con, expected_file)
        scols, stypes, srows = _rows(con, os.path.join(out_dir, "*.parquet"))
    finally:
        con.close()
    if ecols != scols:
        return False, f"columns {scols} != oracle {ecols}"
    if etypes != stypes:
        return False, f"types {stypes} != oracle {etypes}"
    if len(erows) != len(srows):
        return False, f"{len(srows)} rows != oracle {len(erows)}"
    for e, s in zip(erows, srows):
        if e != s and not all(_close(a, b) for a, b in zip(e, s)):
            return False, f"row {s} != oracle {e}"
    return True, ""
