"""Build file of the benchmark: compiles the graft library sources together
with the benchmark harness into one class directory, using the Scala compiler
that ships in Spark's jar directory (no sbt, so nothing of sbt's start-up or
log prefixes reaches a benchmark run).

    python3 perfbench/build.py          # build if any source changed

Run from the repository root. The classes land in .bench_build/perfbench;
a stamp over every input file skips the compile when nothing changed.
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
LIB_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")
BUILD_SBT = "build.sbt"
OUT = os.path.join(".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory (it also carries the Scala
    compiler, library and reflect jars of the Scala version Spark uses)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark distribution: set SPARK_HOME")
    return jars


def add_opens():
    """The --add-opens list build.sbt gives forked JVMs, read from build.sbt
    so the benchmark JVM is launched exactly like `sbt run`."""
    if not os.path.isfile(BUILD_SBT):
        raise BuildError("build.sbt not found (run from the repository root)")
    text = open(BUILD_SBT, encoding="utf-8").read()
    m = re.search(r"val jdk17AddOpens = Seq\((.*?)\)", text, re.S)
    pkgs = re.findall(r'"(java\.base/[^"]+)"', m.group(1)) if m else []
    if not pkgs:
        raise BuildError("build.sbt: jdk17AddOpens list not found")
    out = []
    for p in pkgs:
        out += ["--add-opens", p + "=ALL-UNNAMED"]
    return out


def sources():
    if not os.path.isdir(LIB_SRC):
        raise BuildError(LIB_SRC + " not found (run from the repository root)")
    files = []
    for base in (LIB_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp_of(files, jars):
    h = hashlib.sha256()
    for f in files + [BUILD_SBT, __file__]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(",".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; returns the runtime classpath."""
    jars = spark_jars()
    files = sources()
    os.makedirs(OUT, exist_ok=True)
    classpath = CLASSES + os.pathsep + os.path.join(jars, "*")
    with open(os.path.join(OUT, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = stamp_of(files, jars)
        if os.path.isfile(STAMP) and open(STAMP).read() == want \
                and os.path.isdir(CLASSES):
            return classpath
        tmp = CLASSES + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(OUT, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files) + "\n")
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", tmp, "@" + argfile]
        print("[perfbench] compiling %d sources" % len(files), file=log)
        r = subprocess.run(cmd, stdout=log, stderr=log)
        if r.returncode != 0:
            raise BuildError("scalac failed with exit code %d" % r.returncode)
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.rename(tmp, CLASSES)
        with open(STAMP, "w") as fh:
            fh.write(want)
    return classpath


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        sys.exit(1)
