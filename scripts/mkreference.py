#!/usr/bin/env python3
"""Write the reference-store fixture: a 7-row `vectors.db` and its two
`documents/*.txt` transcripts, in the layout the reference service ships.

    python3 scripts/mkreference.py [OUT_DIR]

OUT_DIR defaults to src/test/resources/graft/reference, the default of
the `graft.reference.dir` setting (graft.sources.Sources.referenceDir).
Standard library only; the output is a pure function of SEED, so a re-run
rewrites the same bytes.

The schema is the reference's, verbatim: `documents(id INTEGER PRIMARY
KEY AUTOINCREMENT, content TEXT UNIQUE, vector BLOB)`, ids 1..7, each
vector 1536 little-endian float32 values (6144 bytes). The contents are
the reference store's seven rows; the two transcript texts are generated
at the reference files' lengths (2,294 and 3,115 bytes).

The vectors are synthetic but keep the shape of ada-002 embeddings: unit
norm and anisotropic. Each is a shared direction plus a group direction
(short sentences vs transcripts) plus its own direction, weighted so
cosine is about 0.84 within a group and 0.72 across groups.
"""
import math
import os
import random
import sqlite3
import struct
import sys

SEED = 20240117
DIM = 1536
# squared weights: shared 0.72, group 0.12, own 0.16 (sum 1)
W_SHARED, W_GROUP, W_OWN = math.sqrt(0.72), math.sqrt(0.12), math.sqrt(0.16)

# the reference server's CREATE TABLE text, indentation included, as
# sqlite_master stores it (graft.sources.Sources.RefCreateSql)
DDL = """CREATE TABLE documents (
                id INTEGER PRIMARY KEY AUTOINCREMENT,
                content TEXT UNIQUE,
                vector BLOB
            )"""

TRANSCRIPTS = [
    ("AADataStudio001.txt", 2294,
     "data studio report dashboard source connector field metric "
     "dimension chart table filter date range control sheet query "
     "blend calculated share view editor layout theme page"),
    ("AAVisualization.txt", 3115,
     "visualization chart axis color scale bar line scatter map "
     "encoding perception pattern trend outlier story audience "
     "design legend label grid compare highlight insight data"),
]


def transcript(rng, n_bytes, vocab):
    words = vocab.split()
    out = []
    length = 0
    while length < n_bytes:
        sentence = " ".join(rng.choice(words)
                            for _ in range(rng.randint(6, 14)))
        sentence = sentence[0].upper() + sentence[1:] + ". "
        out.append(sentence)
        length += len(sentence)
    text = "".join(out)[:n_bytes - 1].rstrip() + "."
    return text + "x" * (n_bytes - len(text))


def unit(rng):
    v = [rng.gauss(0.0, 1.0) for _ in range(DIM)]
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def main():
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "src", "test", "resources", "graft", "reference")
    rng = random.Random(SEED)
    texts = [transcript(rng, n, vocab) for _, n, vocab in TRANSCRIPTS]
    contents = ["John Likes ice", "John Likes ice creme", "Rita likes jon",
                texts[0], texts[1], "John likes tea", "john likes beer"]
    groups = [0, 0, 0, 1, 1, 0, 0]

    shared = unit(rng)
    group_dirs = [unit(rng), unit(rng)]
    vectors = []
    for g in groups:
        own = unit(rng)
        v = [W_SHARED * s + W_GROUP * t + W_OWN * o
             for s, t, o in zip(shared, group_dirs[g], own)]
        n = math.sqrt(sum(x * x for x in v))
        vectors.append(struct.pack(f"<{DIM}f", *(x / n for x in v)))

    docs = os.path.join(out, "documents")
    os.makedirs(docs, exist_ok=True)
    for (name, n, _), text in zip(TRANSCRIPTS, texts):
        with open(os.path.join(docs, name), "w", encoding="ascii",
                  newline="") as fh:
            fh.write(text)
        assert os.path.getsize(os.path.join(docs, name)) == n

    db = os.path.join(out, "vectors.db")
    if os.path.exists(db):
        os.remove(db)
    con = sqlite3.connect(db)
    con.execute(DDL)
    con.executemany("INSERT INTO documents (content, vector) VALUES (?, ?)",
                    zip(contents, vectors))
    con.commit()
    (ok,) = con.execute("PRAGMA integrity_check").fetchone()
    rows = con.execute("SELECT id, length(vector) FROM documents "
                       "ORDER BY id").fetchall()
    con.close()
    assert ok == "ok", ok
    assert rows == [(i, 4 * DIM) for i in range(1, 8)], rows
    print(f"wrote {db} (7 rows) and {len(TRANSCRIPTS)} documents")


if __name__ == "__main__":
    main()
