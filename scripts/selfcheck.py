#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify at a
scale factor, then run each oracle SQL in DuckDB over the same parquet
tables and compare values AND dtypes strictly.

Usage: python3 scripts/selfcheck.py [sfDir] [outDir] [--skip-verify]
"""
import atexit, json, shutil, subprocess, sys, tempfile

import duckdb
import pandas as pd

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

if "--skip-verify" not in sys.argv:
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}'],
        capture_output=True, text=True)
    tail = "\n".join((r.stdout + r.stderr).splitlines()[-15:])
    if r.returncode != 0:
        print("VERIFY RUN FAILED:\n", tail)
        sys.exit(1)

# a spill directory under /tmp, so operators larger than DuckDB's memory
# limit (t73's window over the corpus x eval cross product) can spill
spill = tempfile.mkdtemp(prefix="selfcheck_duckdb_", dir="/tmp")
atexit.register(shutil.rmtree, spill, ignore_errors=True)
con = duckdb.connect(config={"temp_directory": spill})
for t in TABLES:
    con.sql(f"CREATE OR REPLACE VIEW {t} AS FROM read_parquet('{SF}/{t}.parquet')")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
# the queries Verify itself recorded as failed (written by every run)
try:
    verify_failed = json.load(open(f"{OUT}/verify_failed.json"))
except FileNotFoundError:
    verify_failed = None
# honor the same dev-loop subset filter Verify/Bench use, so a
# SPARK_GRAFT_ONLY run compares only the queries it actually dumped
import os
only = os.environ.get("SPARK_GRAFT_ONLY")
if only is not None:
    prefixes = only.split(",")
    oracle = {n: s for n, s in oracle.items()
              if any(n.startswith(p) for p in prefixes)}
fails, passes = [], []
for name, sql in sorted(oracle.items()):
    try:
        got = pd.read_parquet(f"{OUT}/{name}")
    except Exception as e:
        fails.append((name, f"spark result unreadable: {e}"))
        continue
    try:
        want = con.sql(sql).df()
    except Exception as e:
        fails.append((name, f"oracle SQL error: {e}"))
        continue
    # driver sorts columns by name before hashing values
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        fails.append((name, f"columns differ: spark={list(got.columns)} oracle={list(want.columns)}"))
        continue
    if got.shape != want.shape:
        fails.append((name, f"shape differs: spark={got.shape} oracle={want.shape}"))
        continue
    dt_mismatch = [(c, str(got[c].dtype), str(want[c].dtype))
                   for c in got.columns if str(got[c].dtype) != str(want[c].dtype)]
    # exact value compare (row order as emitted)
    try:
        eq = got.reset_index(drop=True).equals(want.reset_index(drop=True))
    except Exception as e:
        eq = False
    if not eq:
        diffs = []
        for c in got.columns:
            a, b = got[c].reset_index(drop=True), want[c].reset_index(drop=True)
            try:
                neq = (a != b) & ~(a.isna() & b.isna())
            except Exception:
                neq = pd.Series([True] * len(a))
            if neq.any():
                i = int(neq.idxmax())
                diffs.append(f"{c}[{i}]: spark={a[i]!r} oracle={b[i]!r} ({int(neq.sum())} cells)")
        fails.append((name, "; ".join(diffs[:4]) +
                      (f" | dtypes: {dt_mismatch}" if dt_mismatch else "")))
    elif dt_mismatch:
        fails.append((name, f"values equal but dtypes differ: {dt_mismatch}"))
    else:
        passes.append((name, len(got)))

for name, n in passes:
    print(f"PASS {name} ({n} rows)")
for name, msg in fails:
    print(f"FAIL {name}: {msg}")
if verify_failed is None:
    print(f"\nno {OUT}/verify_failed.json")
else:
    print(f"\nVerify recorded {len(verify_failed)} failed queries: "
          + (", ".join(f["name"] for f in verify_failed) or "none"))
print(f"\n{len(passes)} pass / {len(fails)} fail / {len(oracle)} total")
sys.exit(1 if fails else 0)
