"""Build the benchmark: compile the engine's sources (src/main/scala) and the
benchmark's own (perfbench/src) into one class directory with scalac from
the Spark distribution's jars. A stamp of the source hashes skips the
compile when nothing changed.

    python3 perfbench/build.py          # from the repository root
"""
import glob
import hashlib
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark distribution whose
    bin/spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(p)))
        for p in (os.path.join(d, "spark-submit")
                  for d in os.environ.get("PATH", "").split(os.pathsep))
        if os.path.isfile(p)]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(MAIN_SRC):
        raise SystemExit(f"perfbench: engine sources not found at {MAIN_SRC}; "
                         "run from the root of a repository checkout")
    files = []
    for top in (MAIN_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def classpath():
    return os.pathsep.join([CLASSES, MAIN_RES, os.path.join(spark_jars(), "*")])


def build(quiet=True):
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    if os.path.isdir(CLASSES):
        subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-encoding", "utf8", "-nowarn", "-Ybackend-parallelism", "4",
           "-classpath", jars, "-d", CLASSES, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit("perfbench: compile failed")
    if not quiet:
        sys.stderr.write(r.stdout)
    with open(STAMP, "w") as fh:
        fh.write(digest)


if __name__ == "__main__":
    build(quiet=False)
