#!/usr/bin/env python3
"""The engine benchmark: one command, three workloads, checked outputs.

    python3 perfbench/run.py --workload asof_features|annotate_cli|near_dup_keep
                             --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine plus the benchmark from
source (perfbench/build.py), then runs one JVM (graftbench.BenchMain, Spark
local mode) that generates the seeded input, measures the workload for S
seconds and checks every output against an independent reference. The last
line of stdout is one JSON object:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1)
named in BENCHMARK.json. See perfbench/README.md.
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("asof_features", "annotate_cli", "near_dup_keep")
RUN_TIMEOUT_S = 175
JVM_HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (the list in build.sbt,
# from org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    digest = build.build()
    work = os.path.join(build.BENCH_DIR, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = build.classes_dir() + ":" + os.path.join(build.spark_jars(), "*")
    # ParallelGC: G1's concurrent threads compete with the 4 task threads on
    # a 4-core host; the throughput collector halves the run-to-run spread.
    # No perf-data file: the JVM would write it to /tmp.
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dgraftbench.sourceSha256={digest}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.BenchMain",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--bench-dir", build.BENCH_DIR]
    # Spark logs go to stderr; the JVM's stdout carries its detail lines and
    # the final result line, relayed here so the result is our last line.
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"benchmark JVM exceeded {RUN_TIMEOUT_S} s; killed")
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    for l in lines:
        if l.startswith("RESULT "):
            result = json.loads(l[len("RESULT "):])
        else:
            print(l)
    if proc.returncode != 0 or result is None:
        sys.exit(f"benchmark JVM failed (exit {proc.returncode})")
    # BENCHMARK.json is the one place metric names and units are declared
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if a.trace else "end_to_end"]
    values = result["metrics"]
    if set(values) != {m["name"] for m in declared}:
        sys.exit(f"metrics {sorted(values)} differ from BENCHMARK.json")
    result["metrics"] = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                         for m in declared}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
