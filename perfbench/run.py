#!/usr/bin/env python3
"""Benchmark of the graft engine, driven from outside through its public
entry points.

    python3 perfbench/run.py --workload dedup_daily --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload mapreduce_core --seed 1 --seconds 3 --trace 1 --size smoke

Workloads: dedup_daily, mapreduce_core, dedup_serve (see README.md).
Run from the root of a checkout. Builds the engine and the driver from
source on first use (perfbench/build.py), then runs one JVM with
`Graft.session(k)`, k = min(4, cores). Human-readable lines go to
stdout; the last line is the result JSON. With --trace 1 the spans are
written to .bench_run/spans/<workload>-seed<seed>.jsonl.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("dedup_daily", "mapreduce_core", "dedup_serve")
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--size", default="full", choices=("full", "smoke"))
    a = p.parse_args()
    started = time.time()

    classes, jars = build.build()
    root = os.getcwd()
    run_dir = os.path.join(root, ".bench_run")
    work = os.path.join(run_dir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    spans = os.path.join(run_dir, "spans", f"{a.workload}-seed{a.seed}.jsonl")
    cores = min(4, os.cpu_count() or 1)

    cmd = ["java"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        "-Dspark.ui.enabled=false",
        "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
        "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--size", a.size, "--cores", str(cores),
        "--work", work, "--spans", spans, "--result", result,
    ]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"run: timed out; JVM log in {log_path}", file=sys.stderr)
            return 3
    sys.stdout.write(out)
    if proc.returncode != 0 or not os.path.isfile(result):
        print(f"run: JVM exited with {proc.returncode}; log in {log_path}", file=sys.stderr)
        return 4
    with open(result) as f:
        res = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
