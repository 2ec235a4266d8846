#!/usr/bin/env python3
"""Build file of the log-store benchmark.

Compiles the engine (`src/main/scala`) together with the benchmark's own
sources (`perfbench/src/main/scala`) with the Scala 2.13 compiler that ships
in the Spark distribution's jar directory (the jar directory the engine's
build.sbt compiles against), so a build needs neither sbt nor a network.

The output is `<build dir>/classes`; a stamp over every source file makes a
rebuild happen only when a source changed.  Usage:

    python3 perfbench/build.py            # build into $CARGO_TARGET_DIR or .bench_build
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """`$SPARK_HOME/jars`, else the `unmanagedBase` jar directory the engine's build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = None
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("build: set SPARK_HOME; build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    """Engine sources plus benchmark sources; fails if either is missing."""
    found = {}
    for label, base in (("engine", os.path.join(ROOT, "src", "main", "scala")),
                        ("benchmark", os.path.join(HERE, "src", "main", "scala"))):
        files = []
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
        if not files:
            raise SystemExit(f"build: no {label} sources under {base}")
        found[label] = sorted(files)
    return found["engine"] + found["benchmark"]


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build():
    """Return the classes directory, compiling first if any source changed."""
    files = sources()
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"build: Spark jars not found at {jars} (set SPARK_HOME)")
    out = build_dir()
    classes = os.path.join(out, "classes")
    want = stamp(files, jars)
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == want:
                return classes
    os.makedirs(out, exist_ok=True)
    staging = classes + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    print(f"build: compiling {len(files)} Scala files", file=sys.stderr, flush=True)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", staging, "@" + argfile]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {res.returncode}")
    with open(os.path.join(staging, ".stamp"), "w") as fh:
        fh.write(want)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    return classes


if __name__ == "__main__":
    print(build())
