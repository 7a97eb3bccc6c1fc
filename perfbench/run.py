#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload rag_serve --seed 1 --seconds 10 --trace 0

Run from the root of a repository checkout. Builds the program from
source if needed (perfbench/build.py), starts one JVM with a local Spark
session at local[nproc], and prints two JSON lines: the host metadata
(nproc, MemTotal, heap, Spark master, commit, sample counts), then the
result `{"correct", "attempted", "failed", "metrics"}`. With --trace 0
the metrics are BENCHMARK.json's end_to_end list, with --trace 1 its
per_layer list; the spans of a traced run are written to
.bench_build/perfbench/traces/. Everything the run writes stays under
.bench_build/. Exits non-zero, without a result line, on any failure to
build, set up or report.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["rag_serve", "ann_walk"]
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def host():
    """nproc, MemTotal and the driver heap sized as the Tier-1 test
    command sizes it: MemTotal / 2, in whole GiB, clamped to [2, 8]."""
    nproc = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_g = min(8, max(2, mem_kb // 2097152))
    return nproc, mem_kb, heap_g


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                       capture_output=True, text=True)
    return r.stdout.strip() or None


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    classes, source_sha = build.build(root)
    nproc, mem_kb, heap_g = host()

    out = os.path.join(root, build.OUT)
    work = os.path.join(out, f"work-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(out, "traces", f"{a.workload}-{a.seed}.json")
    cmd = (["java", f"-Xmx{heap_g}g", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--cpus", str(nproc), "--work", work]
           + (["--trace-out", trace_out] if a.trace == "1" else []))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    t0 = time.time()
    print(f"perfbench: launching JVM", file=sys.stderr, flush=True)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {JVM_TIMEOUT_S}s")
    print(f"perfbench: JVM done after {time.time() - t0:.1f}s", file=sys.stderr, flush=True)
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}")

    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if len(lines) < 2:
        fail("benchmark JVM printed no result")
    samples = json.loads(lines[-2]).get("samples", {})
    result = json.loads(lines[-1])
    want = spec["end_to_end" if a.trace == "0" else "per_layer"]
    got = result.get("metrics", {})
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        fail(f"malformed result keys {sorted(result)}")
    if sorted(m["name"] for m in want) != sorted(got) or any(
            got[m["name"]]["unit"] != m["unit"] for m in want):
        fail("reported metrics do not match BENCHMARK.json: "
             f"{sorted(set(m['name'] for m in want) ^ set(got))}")

    meta = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": int(a.trace), "nproc": nproc, "mem_total_kb": mem_kb,
            "heap": f"{heap_g}g", "master": f"local[{nproc}]",
            "git_commit": git_commit(root), "source_sha256": source_sha,
            "wall_s": round(time.time() - t0, 3), "samples": samples}
    print(json.dumps({"meta": meta}))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
