#!/usr/bin/env python3
"""Row identity of two output roots: every parquet dataset under either
root must exist under both, with equal schemas and equal rows as a
multiset (DuckDB `EXCEPT ALL` empty in both directions), and the two
`verify_failed.json` files must hold the same entries. When both roots
hold an `oracle_sql.json`, every oracle must match key by key once each
`read_parquet` path is cut down to the artifact's `<name>_<hash8>`
directory and its glob, so each side's artifacts root drops out but a
glob resolved against another corpus still shows as another `hash8`.

Usage: python3 scripts/rowdiff.py A B

A and B are typically two `graft.Verify` output directories (one
dataset per query). A parquet dataset is a directory that holds
`.parquet` files directly, or through hive-style `key=value`
subdirectories. Prints one line per mismatch, then a summary, and
exits 1 on any mismatch. Needs only the standard library and the
`duckdb` module scripts/selfcheck.py already uses.
"""
import json
import os
import re
import sys

import duckdb


def datasets(root):
    """Relative paths of the parquet datasets under root."""
    found = set()
    for d, _, files in os.walk(root):
        if not any(f.endswith(".parquet") for f in files):
            continue
        while "=" in os.path.basename(d) and d != root:
            d = os.path.dirname(d)
        found.add(os.path.relpath(d, root))
    return found


def relation(con, path):
    return con.read_parquet(os.path.join(path, "**", "*.parquet"),
                            hive_partitioning=True)


def compare(con, a, b):
    """None when a and b hold the same schema and rows, else a reason."""
    ra, rb = relation(con, a), relation(con, b)
    sa = list(zip(ra.columns, map(str, ra.types)))
    sb = list(zip(rb.columns, map(str, rb.types)))
    if sa != sb:
        return f"schema {sa} != {sb}"
    con.register("ra", ra)
    con.register("rb", rb)
    n_a = con.sql("SELECT count(*) FROM "
                  "(SELECT * FROM ra EXCEPT ALL SELECT * FROM rb)").fetchone()[0]
    n_b = con.sql("SELECT count(*) FROM "
                  "(SELECT * FROM rb EXCEPT ALL SELECT * FROM ra)").fetchone()[0]
    if n_a or n_b:
        return f"{n_a} rows only in A, {n_b} rows only in B"
    return None


def failed(root):
    p = os.path.join(root, "verify_failed.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return sorted(json.dumps(e, sort_keys=True) for e in json.load(f))


PARQUET_PATH = re.compile(r"(read_parquet\(\s*')([^']*)'")


def artifact_glob(m):
    """A read_parquet path from the artifact directory on: the last
    component without a wildcard and everything after it."""
    parts = m.group(2).split("/")
    keep = max(i for i, p in enumerate(parts) if "*" not in p)
    return m.group(1) + "/".join(parts[keep:]) + "'"


def oracles(root):
    p = os.path.join(root, "oracle_sql.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return {k: PARQUET_PATH.sub(artifact_glob, v)
                for k, v in json.load(f).items()}


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a_root, b_root = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    da, db = datasets(a_root), datasets(b_root)
    bad = 0
    for rel in sorted(da | db):
        if rel not in da or rel not in db:
            reason = f"missing under {'A' if rel not in da else 'B'}"
        else:
            try:
                reason = compare(con, os.path.join(a_root, rel),
                                 os.path.join(b_root, rel))
            except duckdb.Error as e:
                reason = f"unreadable: {str(e).splitlines()[0]}"
        if reason:
            print(f"{rel}: {reason}")
            bad += 1
    oa, ob = oracles(a_root), oracles(b_root)
    n_oracles = 0
    if oa is not None and ob is not None:
        for k in sorted(oa.keys() | ob.keys()):
            n_oracles += 1
            if oa.get(k) != ob.get(k):
                print(f"oracle_sql.json: {k} differs")
                bad += 1
    fa, fb = failed(a_root), failed(b_root)
    if fa != fb:
        print(f"verify_failed.json: {fa} != {fb}")
    print(f"{len(da | db) + n_oracles - bad} identical / {bad} mismatched "
          f"datasets and oracles; "
          f"verify_failed.json {'equal' if fa == fb else 'differs'}")
    sys.exit(1 if bad or fa != fb else 0)


if __name__ == "__main__":
    main()
