#!/usr/bin/env python3
"""Build file of the benchmark package: compiles graft's main sources plus
the harness under perfbench/src with the Scala compiler among the Spark jars
graft builds against, into .bench_build/perfbench/classes-<source hash>.

Usage (from the root of a checkout):  python3 perfbench/build.py
Prints the class directory. A build whose source hash already has a class
directory is reused, so only the first run in a checkout pays for it.
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_ROOT = os.path.join(".bench_build", "perfbench")
GRAFT_SRC = os.path.join("src", "main")
HARNESS_SRC = os.path.join(HERE, "src")
SCALA_VERSION = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jars graft builds against: the `unmanagedBase` directory
    build.sbt names, else $SPARK_HOME/jars."""
    candidates = []
    if os.path.exists("build.sbt"):
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in candidates:
        if os.path.isdir(c):
            return c
    raise BuildError("no Spark jars found: set unmanagedBase in build.sbt or SPARK_HOME")


def sources():
    if not os.path.isdir(os.path.join(GRAFT_SRC, "scala", "graft")):
        raise BuildError(f"{GRAFT_SRC}/scala/graft not found: run from the root of a graft checkout")
    found = []
    for root in (GRAFT_SRC, HARNESS_SRC):
        for dirpath, _, files in os.walk(root):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    jars = spark_jars()
    files = sources()
    out = os.path.join(BUILD_ROOT, "classes-" + source_hash(files))
    os.makedirs(BUILD_ROOT, exist_ok=True)
    with open(os.path.join(BUILD_ROOT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, "BUILD_OK")):
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        compiler = ":".join(os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
                            for m in ("compiler", "library", "reflect"))
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
               "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp] + files
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise BuildError("scalac failed:\n" + r.stdout[-4000:])
        open(os.path.join(tmp, "BUILD_OK"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
        for stale in glob.glob(os.path.join(BUILD_ROOT, "classes-*")):
            if stale != out:
                shutil.rmtree(stale, ignore_errors=True)
        return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
