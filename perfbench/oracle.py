"""Checks entry outputs against each entry's DuckDB oracle SQL.

The comparison is `scripts/oracle_check.py`'s: sorted column names, row
count, and a hash over rows canonicalised column-name-sorted and
row-sorted.
"""
import importlib.util
import os
from pathlib import Path

import duckdb

_spec = importlib.util.spec_from_file_location(
    "oracle_check",
    Path(__file__).resolve().parent.parent / "scripts" / "oracle_check.py")
oracle_check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(oracle_check)


def check(data_dir, out_dir, oracle_sql, names):
    """Returns {entry: None if its output matches its oracle, else a
    one-line reason}. An entry without oracle SQL must still have
    produced a readable output."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        con.execute("SET threads TO 2")
        for t in oracle_check.TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS "
                            f"SELECT * FROM read_parquet('{p}')")
        return {n: _check_one(con, out_dir, oracle_sql.get(n), n)
                for n in names}
    finally:
        con.close()


def _check_one(con, out_dir, sql, name):
    files = os.path.join(out_dir, name, "*.parquet")
    try:
        got = con.execute(f"SELECT * FROM read_parquet('{files}')").fetchall()
        got_cols = [d[0] for d in con.description]
    except Exception as e:  # noqa: BLE001 - reported as the entry's failure
        return f"output unreadable: {type(e).__name__}: {e}"[:300]
    if sql is None:
        return None
    try:
        exp = con.execute(sql).fetchall()
        exp_cols = [d[0] for d in con.description]
    except Exception as e:  # noqa: BLE001
        return f"oracle SQL failed: {type(e).__name__}: {e}"[:300]
    gc, gn, gh, gr = oracle_check.frame_sig(got_cols, got)
    ec, en, eh, er = oracle_check.frame_sig(exp_cols, exp)
    if gc != ec:
        return f"schema mismatch: got {gc}, expected {ec}"[:300]
    if gn != en:
        return f"row count mismatch: got {gn}, expected {en}"
    if gh != eh:
        i = next(i for i, (a, b) in enumerate(zip(gr, er)) if a != b)
        return (f"value mismatch at sorted row {i} of {gn}: "
                f"got {gr[i][:100]!r}, expected {er[i][:100]!r}")
    return None
