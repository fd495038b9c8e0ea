"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's own sources (`perfbench/src`) with the Scala compiler that
ships in `$SPARK_HOME/jars`, into `.bench_build/classes`. A stamp holding
the hash of every source makes a rebuild happen only when a source changed.

    python3 perfbench/build.py      # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def spark_jars():
    home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(home, "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit("perfbench: SPARK_HOME does not point at a Spark install with jars/")
    return os.path.join(jars, "*")


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(os.path.join(ROOT, d)):
            sys.exit(f"perfbench: {d} not found; run from the repository root")
        found += glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True)
    return sorted(found)


def build():
    """Compile if needed; return the runtime classpath."""
    cp = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(OUT, "classes.stamp")
    runtime_cp = f"{CLASSES}{os.pathsep}{cp}"
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return runtime_cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-d", CLASSES, "-classpath", cp, "-nowarn", "-Ybackend-parallelism", "4",
           f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit("perfbench: compile failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return runtime_cp


if __name__ == "__main__":
    print(build())
