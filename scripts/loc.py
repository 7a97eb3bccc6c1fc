#!/usr/bin/env python3
"""Scala code-line delta between two git revisions.

Usage: python3 scripts/loc.py BASE [HEAD]

Counts the non-blank lines that hold something outside `//` and
`/* ... */` comments (nested, as Scala nests them) in
src/main/**/*.scala and src/test/**/*.scala. String literals count as
code, so a `//` inside one does not start a comment. BASE and HEAD are
read with `git show`; without HEAD the working tree is counted. Prints
one line per file whose count changed, then the main and test totals.
Each file line ends with the file's repeated lines at BASE and HEAD:
code lines, compared with comments and surrounding whitespace cut, that
lie in a run of at least 4 consecutive code lines equal to a run that
starts earlier in the same file. Standard library only; run from the
repository root.
"""
import glob
import subprocess
import sys

ROOTS = ("src/main", "src/test")
RUN = 4


def code_text(text):
    """The code of each line that holds some, comments cut, stripped."""
    out, line, i, n = [], [], 0, len(text)
    depth = 0          # block-comment nesting
    string = None      # None, '"' or '"""'
    has_code = False

    def take(j):       # text[i:j] is code
        line.append(text[i:j])
        return j
    while i < n:
        c = text[i]
        if c == "\n":
            if has_code:
                out.append("".join(line).strip())
            line, has_code = [], False
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
                j = i
                while j < n and text[j] == '"':  # the last three close it
                    j += 1
                string, has_code, i = None, True, take(j)
            else:
                has_code = has_code or not c.isspace()
                i = take(i + 1)
        elif string == '"':
            has_code = True
            if c == "\\":
                i = take(min(i + 2, n))
            else:
                string = None if c == '"' else string
                i = take(i + 1)
        elif text.startswith("//", i):
            nl = text.find("\n", i)
            i = n if nl < 0 else nl
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
            line.append(" ")
        elif text.startswith('"""', i):
            string, has_code, i = '"""', True, take(i + 3)
        elif c == '"':
            string, has_code, i = '"', True, take(i + 1)
        elif c == "'" and text.startswith("\\", i + 1):
            end = text.find("'", i + 2)
            has_code, i = True, take(n if end < 0 else end + 1)
        elif c == "'" and text.startswith("'", i + 2):
            has_code, i = True, take(i + 3)
        else:
            has_code = has_code or not c.isspace()
            i = take(i + 1)
    if has_code:
        out.append("".join(line).strip())
    return out


def repeated(lines):
    """How many of `lines` lie in a RUN-line run equal to an earlier one."""
    seen, hit = set(), [False] * len(lines)
    for i in range(len(lines) - RUN + 1):
        run = tuple(lines[i:i + RUN])
        if run in seen:
            hit[i:i + RUN] = [True] * RUN
        else:
            seen.add(run)
    return sum(hit)


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
        lines = code_text(text)
        res[path] = (len(lines), repeated(lines))
    return res


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    base = counts(argv[1])
    head = counts(argv[2] if len(argv) == 3 else None)
    totals = {r: [0, 0] for r in ROOTS}
    for path in sorted(set(base) | set(head)):
        (b, rb), (h, rh) = base.get(path, (0, 0)), head.get(path, (0, 0))
        root = next(r for r in ROOTS if path.startswith(r + "/"))
        totals[root][0] += b
        totals[root][1] += h
        if b != h:
            print(f"{h - b:+6d}  {b:6d} -> {h:6d}  {path}"
                  f"  (repeated {rb} -> {rh})")
    for root, (b, h) in totals.items():
        print(f"{h - b:+6d}  {b:6d} -> {h:6d}  {root} total")


if __name__ == "__main__":
    main(sys.argv)
