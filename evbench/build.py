"""Builds the benchmark harness together with the program it drives.

Compiles the program's main sources (`src/main/scala`) and the harness
(`evbench/src`) with the Scala compiler that ships with Spark into
`evbench/.build/classes`. A content stamp skips the compile when no
source changed, so only the first run in a checkout pays for it.

Usage: python3 evbench/build.py   (from the repository root)
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")


def spark_jars():
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            cands.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")) and glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise SystemExit("evbench: no Spark jars with a Scala compiler found (set SPARK_HOME)")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not prog:
        raise SystemExit("evbench: program sources (src/main/scala) not found; run from the repository root")
    if not harness:
        raise SystemExit("evbench: harness sources (evbench/src) not found")
    return prog + harness


def stamp_of(files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles if needed; returns the run classpath."""
    jars = spark_jars()
    files = sources()
    stamp = stamp_of(files, jars)
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        # one compile at a time; a run that waited finds the stamp current
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES)):
            compile_into(files, jars)
            with open(STAMP, "w") as fh:
                fh.write(stamp)
    return cp


def compile_into(files, jars):
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("evbench: compile failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)


if __name__ == "__main__":
    print(build())
