#!/usr/bin/env python3
"""Build file of the engine benchmark.

Compiles the engine sources (src/main/scala) together with the benchmark's
own sources (perfbench/src) into one class directory, using the Scala
compiler that ships in the Spark distribution: $SPARK_HOME/jars, else the
`unmanagedBase` of the repository's build.sbt, whose scalaVersion it also
uses. No sbt, no dependency resolution: the Spark jars are the whole
classpath, exactly as in build.sbt.

The build is skipped when a stamp file records the same hash of every
source file. Output goes to $CARGO_TARGET_DIR if set, else .bench_build,
relative to the repository root.

    python3 perfbench/build.py          # build (or confirm up to date)
"""
import hashlib
import os
import re
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")


def sbt_setting(pattern):
    """First group of `pattern` in the repository's build.sbt."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(pattern, fh.read())
    if not m:
        raise SystemExit(f"build.sbt has no match for {pattern}")
    return m.group(1)


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    return sbt_setting(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)')


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def classes_dir():
    return os.path.join(build_dir(), "classes")


def sources():
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for dirpath, _, files in os.walk(base):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr, timeout=850):
    """Compile if needed; returns the source hash of the built classes."""
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"engine sources not found at {ENGINE_SRC}; "
                         "run from the root of a full checkout")
    files = sources()
    digest = source_hash(files)
    stamp = os.path.join(build_dir(), "stamp")
    if os.path.exists(stamp) and open(stamp).read().strip() == digest:
        return digest
    jars = spark_jars()
    scala_version = sbt_setting(r'scalaVersion\s*:=\s*"([^"]+)"')
    compiler = [os.path.join(jars, f"scala-{p}-{scala_version}.jar")
                for p in ("compiler", "library", "reflect")]
    missing = [j for j in compiler if not os.path.exists(j)]
    if missing:
        raise SystemExit(f"Scala compiler jars not found: {missing}")
    out = classes_dir()
    subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    tmp = os.path.join(build_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    print(f"[perfbench] compiling {len(files)} sources -> {out}", file=log, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-d", out,
           "-cp", os.path.join(jars, "*")] + files
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=timeout)
    if r.returncode != 0:
        raise SystemExit(f"compile failed (exit {r.returncode})")
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    return digest


if __name__ == "__main__":
    print(build())
