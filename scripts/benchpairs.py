#!/usr/bin/env python3
"""Alternating parent/change pairs of the repository benchmark.

Usage: python3 scripts/benchpairs.py PARENT_DIR CHANGE_DIR --workload W
                                     --pairs N [--seconds S]

Runs `python3 perfbench/run.py --workload W --seed i --seconds S
--trace 0` once in each checkout for every seed i in 1..N, the two runs
of a pair back to back and their order swapped from pair to pair, so
slow drift on the host falls on both sides. S defaults to the
`run_seconds` of CHANGE_DIR's BENCHMARK.json. Each checkout builds
what it runs from its own source (perfbench/run.py does that).

Prints one line per end-to-end metric: the parent's and the change's
median, the ratio change / parent, the parent's interquartile range,
and in how many pairs the change was better (the metric's `better`
direction in BENCHMARK.json). A run that fails is reported and leaves
its pair out. Only invokes perfbench/run.py; standard library only.
"""
import argparse
import json
import os
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    """The metrics of one run as {name: value}, or None if it failed."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        tail = proc.stderr.strip().splitlines()[-1:] or ["no output"]
        print(f"  {checkout} seed {seed} failed: {tail[0]}", flush=True)
        return None
    result = json.loads(lines[-1])
    return {name: m["value"] for name, m in result["metrics"].items()}


def quantile(xs, q):
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", required=True, type=int)
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = a.seconds or spec["run_seconds"]
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}

    pairs = []
    for seed in range(1, a.pairs + 1):
        sides = [("parent", a.parent), ("change", a.change)]
        if seed % 2 == 0:
            sides.reverse()
        got = {side: run(path, a.workload, seed, seconds)
               for side, path in sides}
        if None in got.values():
            continue
        pairs.append((got["parent"], got["change"]))
        print(f"pair {seed}: " + "  ".join(
            f"{n} {got['parent'][n]:.4g} -> {got['change'][n]:.4g}"
            for n in better), flush=True)

    print(f"{a.workload}: {len(pairs)} of {a.pairs} pairs complete")
    if not pairs:
        sys.exit(1)
    for name, direction in better.items():
        p = [pp[name] for pp, _ in pairs]
        c = [cc[name] for _, cc in pairs]
        pm, cm = quantile(p, 0.5), quantile(c, 0.5)
        wins = sum((cv < pv) if direction == "lower" else (cv > pv)
                   for pv, cv in zip(p, c))
        ratio = f"{cm / pm:.3f}" if pm else "n/a"
        print(f"{name}: parent median {pm:.4g}  change median {cm:.4g}  "
              f"ratio {ratio}  parent IQR "
              f"{quantile(p, 0.75) - quantile(p, 0.25):.4g}  "
              f"change better in {wins}/{len(pairs)}")


if __name__ == "__main__":
    main()
