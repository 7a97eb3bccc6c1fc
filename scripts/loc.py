#!/usr/bin/env python3
"""Scala code-line delta between two git revisions.

Usage: python3 scripts/loc.py BASE [HEAD]

Counts the non-blank lines that hold something outside `//` and
`/* ... */` comments (nested, as Scala nests them) in
src/main/**/*.scala and src/test/**/*.scala. String literals count as
code, so a `//` inside one does not start a comment. BASE and HEAD are
read with `git show`; without HEAD the working tree is counted. Prints
one line per file whose count changed, then the main and test totals.
Standard library only; run from the repository root.
"""
import glob
import subprocess
import sys

ROOTS = ("src/main", "src/test")


def code_lines(text):
    count, i, n = 0, 0, len(text)
    depth = 0          # block-comment nesting
    string = None      # None, '"' or '"""'
    has_code = False
    while i < n:
        c = text[i]
        if c == "\n":
            count += has_code
            has_code = False
            i += 1
        elif depth:
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                i += 1
        elif string == '"""':
            if text.startswith('"""', i):
                while i < n and text[i] == '"':  # the last three close it
                    i += 1
                string, has_code = None, True
            else:
                has_code = has_code or not c.isspace()
                i += 1
        elif string == '"':
            has_code = True
            if c == "\\":
                i += 2
            else:
                string = None if c == '"' else string
                i += 1
        elif text.startswith("//", i):
            nl = text.find("\n", i)
            i = n if nl < 0 else nl
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
        elif text.startswith('"""', i):
            string, has_code, i = '"""', True, i + 3
        elif c == '"':
            string, has_code, i = '"', True, i + 1
        elif c == "'" and text.startswith("\\", i + 1):
            end = text.find("'", i + 2)
            has_code, i = True, (n if end < 0 else end + 1)
        elif c == "'" and text.startswith("'", i + 2):
            has_code, i = True, i + 3
        else:
            has_code = has_code or not c.isspace()
            i += 1
    return count + has_code


def scala_files(rev):
    if rev is None:
        return sorted(p for r in ROOTS
                      for p in glob.glob(f"{r}/**/*.scala", recursive=True))
    out = subprocess.run(["git", "ls-tree", "-r", "--name-only", rev, "--",
                          *ROOTS], capture_output=True, text=True, check=True)
    return [p for p in out.stdout.splitlines() if p.endswith(".scala")]


def counts(rev):
    res = {}
    for path in scala_files(rev):
        if rev is None:
            with open(path, encoding="utf-8") as f:
                text = f.read()
        else:
            text = subprocess.run(["git", "show", f"{rev}:{path}"],
                                  capture_output=True, text=True,
                                  check=True).stdout
        res[path] = code_lines(text)
    return res


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    base = counts(argv[1])
    head = counts(argv[2] if len(argv) == 3 else None)
    totals = {r: [0, 0] for r in ROOTS}
    for path in sorted(set(base) | set(head)):
        b, h = base.get(path, 0), head.get(path, 0)
        root = next(r for r in ROOTS if path.startswith(r + "/"))
        totals[root][0] += b
        totals[root][1] += h
        if b != h:
            print(f"{h - b:+6d}  {b:6d} -> {h:6d}  {path}")
    for root, (b, h) in totals.items():
        print(f"{h - b:+6d}  {b:6d} -> {h:6d}  {root} total")


if __name__ == "__main__":
    main(sys.argv)
