#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Reads the Verify output dir (parquet per query + oracle_sql.json), runs each
oracle SQL in DuckDB against the same testdata parquet tables, and compares:
row count, column names (sorted), and a value hash over column-name-sorted,
row-sorted data. Mirrors what we believe the driver does; stricter is fine.

DuckDB runs under a fixed memory limit and spills to a temp directory
inside the output dir (removed at exit), so an oracle whose working set
exceeds the limit spills to disk instead of failing or taking the host's
memory. The spill is capped too: an oracle that outgrows the cap fails
with its own error instead of filling the disk (q125's k-core peel
outgrew a 20 GB disk at sf0.001).

Usage: oracle_check.py <sfDir> <verifyOutDir>
"""
import sys, os, json, math, shutil
import duckdb
import pyarrow.parquet  # noqa: F401  (ensures duckdb can use arrow)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
MEMORY_LIMIT = "4GB"
SPILL_LIMIT = "8GB"
SPILL_DIR = "_duckdb_spill"  # under the output dir; not a result entry


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr of double: exact round-trip — catches any ulp difference
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_sig(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    crows = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    import hashlib
    h = hashlib.sha256("\n".join(crows).encode()).hexdigest()[:16]
    return sorted_cols, len(rows), h, crows


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    names = [d for d in sorted(os.listdir(out_dir))
             if os.path.isdir(os.path.join(out_dir, d)) and d != SPILL_DIR]
    spill = os.path.join(out_dir, SPILL_DIR)
    try:
        results = check(sf_dir, out_dir, names, spill)
    finally:
        shutil.rmtree(spill, ignore_errors=True)
    n_ok = sum(1 for v in results.values() if v.startswith("OK"))
    n_ro = sum(1 for v in results.values() if v.startswith("rows-only"))
    for k in sorted(results):
        print(f"{k:28s} {results[k]}")
    print(f"\n{n_ok} OK, {n_ro} rows-only, {len(results) - n_ok - n_ro} FAILED "
          f"of {len(results)}")
    sys.exit(0 if n_ok + n_ro == len(results) else 1)


def check(sf_dir, out_dir, names, spill):
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{MEMORY_LIMIT}'")
    con.execute(f"SET temp_directory='{spill}'")
    con.execute(f"SET max_temp_directory_size='{SPILL_LIMIT}'")
    # lets blocking operators spill without holding rows in input order
    con.execute("SET preserve_insertion_order=false")
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = {}
    for name in names:
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchall()
            got_cols = [d[0] for d in con.description]
        except Exception as e:
            results[name] = f"READ-FAIL {e}"
            continue
        if name not in oracle:
            results[name] = f"rows-only rows={len(got)}" + (" EMPTY!" if not got else "")
            continue
        try:
            exp = con.execute(oracle[name]).fetchall()
            exp_cols = [d[0] for d in con.description]
        except Exception as e:
            results[name] = f"ORACLE-FAIL {e}"
            continue
        gc, gn, gh, gr = frame_sig(got_cols, got)
        ec, en, eh, er = frame_sig(exp_cols, exp)
        if gc != ec:
            results[name] = f"SCHEMA-MISMATCH got={gc} exp={ec}"
        elif gn != en:
            results[name] = f"ROWCOUNT-MISMATCH got={gn} exp={en}"
        elif gh != eh:
            diff = next((i for i, (a, b) in enumerate(zip(gr, er)) if a != b), -1)
            results[name] = (f"HASH-MISMATCH rows={gn} first-diff-row={diff}\n"
                             f"    got: {gr[diff][:200]}\n    exp: {er[diff][:200]}")
        else:
            results[name] = f"OK rows={gn}"
    return results


if __name__ == "__main__":
    main()
