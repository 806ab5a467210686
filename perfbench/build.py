#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources
(src/main/scala) together with the benchmark driver (perfbench/src) into
one class directory, with the Scala compiler that ships among Spark's
jars, the same jars the engine's sbt build compiles against.

    python3 perfbench/build.py        # from the root of a checkout

The build is skipped when a class directory built from the same sources
already exists. Prints the class directory and the Spark jar directory.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
OUT = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def fail(msg):
    print(f"build: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """SPARK_HOME/jars, else the `unmanagedBase` the sbt build declares."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            cands.append(m.group(1))
    for c in cands:
        if os.path.isdir(c) and any(f.startswith("scala-compiler") for f in os.listdir(c)):
            return c
    fail("no Spark jar directory with a Scala compiler (set SPARK_HOME)")


def sources():
    out = []
    for base in ("src/main/scala", "perfbench/src"):
        d = os.path.join(ROOT, base)
        if not os.path.isdir(d):
            fail(f"missing {base}: run from the root of a full checkout")
        for dp, _, fs in os.walk(d):
            out += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(OUT, f"classes-{stamp}")
    if os.path.isdir(classes):
        return classes, jars
    os.makedirs(OUT, exist_ok=True)
    tmp = f"{classes}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    t = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", cp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        fail("scalac failed")
    # older builds of other sources are stale
    for d in os.listdir(OUT):
        if d.startswith("classes-") and os.path.join(OUT, d) != tmp:
            shutil.rmtree(os.path.join(OUT, d), ignore_errors=True)
    os.rename(tmp, classes)
    print(f"build: compiled {len(srcs)} sources in {time.time() - t:.1f} s", file=sys.stderr)
    return classes, jars


if __name__ == "__main__":
    c, j = build()
    print(c)
    print(j)
