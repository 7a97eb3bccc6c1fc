"""Build file of the benchmark.

Compiles the program (src/main/scala) together with the benchmark's own
sources (perfbench/src) using the Scala compiler that ships in the Spark
distribution's jars, so no build tool, network or dependency cache is
needed. The classes land in .bench_build/perfbench/classes; a digest of
every source file is stored next to them and the compile is skipped when
it still matches.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys

OUT = os.path.join(".bench_build", "perfbench")
SOURCE_DIRS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "src")]


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first spark-submit on PATH
    that sits in a Spark distribution (one whose jars include the Scala
    compiler)."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars) and any(n.startswith("scala-compiler") for n in os.listdir(jars)):
            return jars
    raise SystemExit("perfbench: no Spark distribution found; set SPARK_HOME")


def sources(root):
    files = []
    for d in SOURCE_DIRS:
        for dirpath, _, names in os.walk(os.path.join(root, d)):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Returns (classes directory, source digest); compiles if stale."""
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "Engine.scala")):
        raise SystemExit("perfbench: no program sources under src/main/scala; "
                         "run from the root of a repository checkout")
    files = sources(root)
    tag = digest(root, files)
    out = os.path.join(root, OUT)
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.sha256")
    if os.path.isdir(classes) and os.path.isfile(stamp) and open(stamp).read() == tag:
        return classes, tag
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars] + files
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(tag)
    return classes, tag


if __name__ == "__main__":
    print(build(os.getcwd())[0])
