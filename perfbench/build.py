"""Builds the benchmark: compiles the engine's sources (src/main/scala) and
the benchmark's own (perfbench/scala) with the Scala compiler that ships
with Spark, into .bench_build/perfbench/classes. A build is reused while the
sources, compiler and jars are unchanged.

    python3 perfbench/build.py        # build, print the classes directory
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars():
    """The jar directory build.sbt compiles against, else $SPARK_HOME/jars."""
    candidates = []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in candidates:
        if os.path.isdir(d) and any(f.startswith("scala-compiler") for f in os.listdir(d)):
            return d
    raise SystemExit("perfbench: no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def sources():
    found = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    if not any(f.startswith(SOURCE_DIRS[0]) for f in found):
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    return sorted(found)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def ensure_built():
    """Returns (classes dir, jar dir), compiling first when needed."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(CLASSES, "STAMP")
        if os.path.exists(stamp_file) and open(stamp_file).read() == want:
            return CLASSES, jars
        tmp = CLASSES + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        args = os.path.join(OUT, "sources.txt")
        with open(args, "w") as fh:
            fh.write("\n".join(files))
        cmd = [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + args]
        print("perfbench: compiling %d sources" % len(files), file=sys.stderr)
        # the compiler also searches its working directory for classes
        if subprocess.run(cmd, stdout=sys.stderr, cwd=OUT).returncode != 0:
            raise SystemExit("perfbench: compilation failed")
        with open(os.path.join(tmp, "STAMP"), "w") as fh:
            fh.write(want)
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.rename(tmp, CLASSES)
        return CLASSES, jars


if __name__ == "__main__":
    print(ensure_built()[0])
