#!/usr/bin/env python3
"""Out-of-JVM cross-check of SqliteWriter exports with the STOCK
sqlite3 C library (via Python's bundled binding — the library the
zero-dependency sbt build cannot link).

The i26/i27/i29 queries leave their exported .db files in the
artifacts dir; this script opens each with stock sqlite3 and verifies:
  - PRAGMA integrity_check == 'ok' (b-tree structure, page layout,
    overflow chains, header, AND the index-vs-table cross-audit —
    sqlite's own full structural validation)
  - i26: every (id, content, vector) row equals the reference store
    it exported (REFERENCE_DIR/vectors.db), byte for byte
  - i27: every blob equals the little-endian float32 packing of the
    matching embeddings.parquet row (via duckdb + struct)
  - write-path continuation on a COPY of each export (full-schema
    files): INSERT of a duplicate content raises the UNIQUE
    constraint through the shipped autoindex; a fresh INSERT gets
    id = seeded-sequence + 1 (AUTOINCREMENT continues where the
    exporter left off); content lookups run on the index (EXPLAIN
    QUERY PLAN); integrity still 'ok' after the mutation.

Run AFTER a Verify/Bench pass has executed i26/i27 (any SF):
    python3 scripts/sqlitecheck.py [REFERENCE_DIR [ARTIFACTS_DIR]]

REFERENCE_DIR is the directory the run read as -Dgraft.reference.dir;
it defaults to that setting's default, the committed fixture
src/test/resources/graft/reference. ARTIFACTS_DIR is the run's
-Dgraft.artifacts.dir; it defaults to that setting's default,
/tmp/graft_artifacts_<user> (graft.queries.Artifacts).
"""
import glob
import os
import pwd
import re
import shutil
import sqlite3
import struct
import sys
import tempfile

fails = []
REF_DB = os.path.join(
    sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "src", "test", "resources", "graft", "reference"),
    "vectors.db")
ARTIFACTS = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
    "/tmp", "graft_artifacts_" + re.sub(
        r"[^A-Za-z0-9._-]", "_", pwd.getpwuid(os.getuid()).pw_name))


def exports(query, file):
    return sorted(glob.glob(os.path.join(ARTIFACTS, f"{query}_*", file)))


def check_integrity(path):
    con = sqlite3.connect(path)
    (res,) = con.execute("PRAGMA integrity_check").fetchone()
    ok = res == "ok"
    print(f"  integrity_check: {res}")
    if not ok:
        fails.append(f"{path}: integrity_check={res}")
    return con


def check_write_continuation(path):
    """Full-schema exports must keep WORKING as sqlite stores: mutate a
    throwaway copy with the stock library."""
    names = {r[0] for r in sqlite3.connect(path).execute(
        "SELECT name FROM sqlite_master")}
    if "sqlite_sequence" not in names:
        return  # bare-schema export
    work = os.path.join(tempfile.mkdtemp("graft_sqchk"), "w.db")
    shutil.copy(path, work)
    con = sqlite3.connect(work)
    (seq,) = con.execute(
        "SELECT seq FROM sqlite_sequence WHERE name='documents'").fetchone()
    (some_content,) = con.execute(
        "SELECT content FROM documents LIMIT 1").fetchone()
    try:
        con.execute("INSERT INTO documents (content, vector) VALUES (?, ?)",
                    (some_content, b"x"))
        fails.append(f"{path}: duplicate INSERT did not raise UNIQUE")
    except sqlite3.IntegrityError as e:
        assert "UNIQUE" in str(e).upper(), e
    cur = con.execute("INSERT INTO documents (content, vector) VALUES (?, ?)",
                      ("graft-continuation-probe", b"\x01\x02"))
    new_id = cur.lastrowid
    if new_id != seq + 1:
        fails.append(f"{path}: AUTOINCREMENT continued at {new_id}, "
                     f"expected seq+1 = {seq + 1}")
    plan = " ".join(str(x) for r in con.execute(
        "EXPLAIN QUERY PLAN SELECT id FROM documents WHERE content = ?",
        (some_content,)) for x in r)
    if "sqlite_autoindex_documents_1" not in plan:
        fails.append(f"{path}: content lookup not index-backed: {plan}")
    con.commit()
    (res,) = con.execute("PRAGMA integrity_check").fetchone()
    if res != "ok":
        fails.append(f"{path}: integrity after stock INSERTs: {res}")
    print(f"  write continuation: UNIQUE enforced, id {seq}->{new_id}, "
          "index-backed lookup, integrity ok after mutation")


i26 = exports("i26_export_db", "vectors_export.db")
i27 = exports("i27_export_db", "embeddings_export.db")
if not i26 and not i27:
    print(f"no exported .db artifacts under {ARTIFACTS} — run the i26/i27 "
          "queries first")
    sys.exit(1)

for path in i26:
    print(f"[i26] {path}")
    con = check_integrity(path)
    got = con.execute(
        "SELECT id, content, vector FROM documents ORDER BY id").fetchall()
    ref = sqlite3.connect(REF_DB).execute(
        "SELECT id, content, vector FROM documents ORDER BY id").fetchall()
    if got == ref:
        print(f"  rows == reference original: {len(got)}/{len(ref)}")
    else:
        fails.append(f"{path}: rows differ from reference original")
    # schema parity: the export stores the reference's DDL verbatim
    (sql,) = sqlite3.connect(path).execute(
        "SELECT sql FROM sqlite_master WHERE name='documents'").fetchone()
    (ref_sql,) = sqlite3.connect(REF_DB).execute(
        "SELECT sql FROM sqlite_master WHERE name='documents'").fetchone()
    if sql == ref_sql:
        print("  CREATE TABLE sql == reference, verbatim")
    else:
        fails.append(f"{path}: schema sql differs from reference")
    check_write_continuation(path)

for path in i27:
    print(f"[i27] {path}")
    con = check_integrity(path)
    got = con.execute(
        "SELECT id, content, vector FROM documents ORDER BY id").fetchall()
    # the matching corpus: the artifact dir name hashes the sfDir, so
    # find the SF whose row count matches (counts differ across SFs)
    import duckdb
    matched = False
    for sf in ("0.001", "0.01", "0.1"):
        pq = f"/root/testdata/sf{sf}/embeddings.parquet"
        if not os.path.exists(pq):
            continue
        rows = duckdb.sql(
            f"SELECT vec_id, embedding FROM read_parquet('{pq}') "
            "ORDER BY vec_id").fetchall()
        if len(rows) != len(got):
            continue
        bad = 0
        for (gid, gc, gb), (vid, emb) in zip(got, rows):
            want = struct.pack(f"<{len(emb)}f", *emb)
            if gid != vid + 1 or gc != f"vec-{vid}" or bytes(gb) != want:
                bad += 1
        if bad == 0:  # several SFs share a row count — try each
            print(f"  all {len(got)} blobs == float32-packed sf{sf} parquet")
            matched = True
            break
    if not matched:
        fails.append(f"{path}: no SF corpus matches the exported rows")
    check_write_continuation(path)

# i29: the DSv2 WRITE route (df.write.format("sqlite")) — same file
# shape as i27 but DDL derived from the DataFrame schema (INTEGER
# PRIMARY KEY rowid alias + UNIQUE on content, no AUTOINCREMENT), so
# validate structure + UNIQUE enforcement through the shipped index
i29 = exports("i29_export_db", "embeddings_dsv2w.db")
for path in i29:
    print(f"[i29] {path}")
    con = check_integrity(path)
    (sql,) = con.execute(
        "SELECT sql FROM sqlite_master WHERE name='documents'"
    ).fetchone()
    if "INTEGER PRIMARY KEY" in sql and "UNIQUE" in sql:
        print(f"  derived DDL carries rowid alias + UNIQUE: {sql!r}")
    else:
        fails.append(f"{path}: derived DDL missing rowid/UNIQUE: {sql}")
    # UNIQUE enforced through the shipped autoindex on a COPY
    tmp = tempfile.mktemp(suffix=".db")
    shutil.copy(path, tmp)
    mut = sqlite3.connect(tmp)
    (c0,) = mut.execute(
        "SELECT content FROM documents ORDER BY id LIMIT 1").fetchone()
    try:
        mut.execute(
            "INSERT INTO documents (id, content, vector) VALUES "
            "(999999, ?, x'00')", (c0,))
        fails.append(f"{path}: duplicate INSERT not rejected")
    except sqlite3.IntegrityError:
        print("  stock INSERT of duplicate content rejected via index")
    (res,) = mut.execute("PRAGMA integrity_check").fetchone()
    if res != "ok":
        fails.append(f"{path}: integrity after stock attempt: {res}")
    os.unlink(tmp)

if fails:
    print("\nFAIL:")
    for f in fails:
        print(" ", f)
    sys.exit(1)
print("\nALL STOCK-SQLITE3 CHECKS PASS")
