#!/usr/bin/env python3
"""Pipeline benchmark of the graft engine.

    python3 perfbench/run.py --workload grid-etl --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from source (see build.py), then runs
one workload in one JVM at local[4] under a closed loop with one client,
and prints the result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, and the run's spans and per-call-site table are
written to .bench_build/traces/. Workloads, metrics and their caveats are
described in perfbench/NOTES.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("grid-etl", "query-panel")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args()


def main():
    args = parse_args()
    cp = build.build()
    runs = os.path.join(build.BUILD, "runs")
    traces = os.path.join(build.BUILD, "traces")
    os.makedirs(runs, exist_ok=True)
    os.makedirs(traces, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs)
    log_path = os.path.join(build.BUILD, f"last-{args.workload}.log")
    try:
        os.makedirs(os.path.join(work, "tmp"))
        cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.Main",
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--work-dir", work,
                "--trace-out", os.path.join(traces, f"{args.workload}-seed{args.seed}.json")]
        with open(log_path, "w") as log:
            try:
                proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log,
                                      text=True, timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                sys.exit(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s (log: {log_path})")
        lines = proc.stdout.rstrip("\n").split("\n")
        if proc.returncode != 0:
            sys.stderr.write("\n".join(lines[-20:]) + "\n")
            sys.exit(f"benchmark JVM failed with code {proc.returncode} (log: {log_path})")
        result = json.loads(lines[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            sys.exit("benchmark JVM printed a malformed result line")
        for line in lines[:-1]:
            print(line)
        print(json.dumps(result, separators=(",", ":")))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
