#!/usr/bin/env python3
"""A/A steadiness report: two sets of runs of the same tree.

    python3 perfbench/aa.py

Run from the repository root. For each workload of BENCHMARK.json it
makes ten untraced runs with seeds 1001.., then ten more with seeds 2001..,
each through perfbench/run.py with BENCHMARK.json's run_seconds. For each
end-to-end metric it prints both sets' median and quartiles, the spread
(quartile distance over the median, as statistics.quantiles(n=4) gives
the quartiles) against the metric's bound, and how far the second
median moved from the first. Then one traced run per workload, on the
first seed, gives the tracing overhead: the traced cycle median minus
the untraced one. Exits non-zero if a run fails or reports a failure.
"""
import json
import statistics
import subprocess
import sys


RUNS = 10


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit(f"aa: {workload} seed {seed} trace {trace} exited {r.returncode}")
    res = json.loads(lines[-1])
    if not res["correct"] or res["failed"]:
        sys.exit(f"aa: {workload} seed {seed}: correct={res['correct']} "
                 f"failed={res['failed']}/{res['attempted']}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / statistics.median(values)


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    ok = True
    for w in [w["name"] for w in spec["workloads"]]:
        sets = [[run(w, base + i, seconds, 0) for i in range(RUNS)]
                for base in (1001, 2001)]
        print(f"\n## {w} ({RUNS} runs per set, {seconds} s each)\n")
        print("| metric | set | median | q1 | q3 | spread | bound | spread ok "
              "| shift vs set 1 |")
        print("|---|---|---|---|---|---|---|---|---|")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds = []
            for k, runs in enumerate(sets, 1):
                q1, med, q3, sp = spread([r[name] for r in runs])
                meds.append(med)
                worse = (med - meds[0]) / meds[0] * (1 if m["better"] == "lower" else -1)
                sp_ok = sp <= bound
                shift_ok = worse <= bound
                ok &= sp_ok and shift_ok
                print(f"| {name} | {k} | {med:.4g} | {q1:.4g} | {q3:.4g} | "
                      f"{sp:.3f} | {bound} | {'yes' if sp_ok else 'NO'}"
                      f"{' (< bound/3)' if sp < bound / 3 else ''} | "
                      f"{worse:+.3f}{'' if shift_ok else ' NO'} |")
        traced = run(w, 1001, seconds, 1)
        base = sets[0][0]["cycle_p50_ms"]
        over = traced["trace.cycle_p50_ms"] - base
        print(f"\ntracing overhead, seed 1001: traced cycle_p50_ms "
              f"{traced['trace.cycle_p50_ms']:.1f} - untraced {base:.1f} = "
              f"{over:+.1f} ms ({over / base:+.1%})")
    print(f"\nverdict: {'every spread and shift within its bound' if ok else 'OUT OF BOUND'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
