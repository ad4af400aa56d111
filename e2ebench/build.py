"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's JVM side (e2ebench/scala) with the Scala compiler that
ships in Spark's jars, into BUILD_DIR/classes.

    python3 e2ebench/build.py        # from the repository root

A stamp of the sources' digest skips the compile when nothing changed.
Spark's jars are found under $SPARK_HOME/jars, or beside the first Spark
`bin` directory on PATH.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, ".bench_build", "e2ebench")
CLASSES = os.path.join(BUILD_DIR, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "e2ebench", "scala")]


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.abspath(b)) for b in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(b, "spark-submit"))]
    d = next((os.path.join(h, "jars") for h in homes if h and os.path.isdir(os.path.join(h, "jars"))), None)
    if d is None:
        raise SystemExit("build: no Spark jars found (set SPARK_HOME or put Spark's bin on PATH)")
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar"))


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {d}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def classpath():
    return CLASSES + os.pathsep + os.pathsep.join(spark_jars())


def build(log=sys.stderr):
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx3g", "-cp", os.pathsep.join(spark_jars()),
           "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism", "4",
           "-d", CLASSES, "-classpath", os.pathsep.join(spark_jars()), "@" + argfile]
    print(f"build: compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(stamp, "w") as f:
        f.write(digest)


if __name__ == "__main__":
    build()
