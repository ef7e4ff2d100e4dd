#!/usr/bin/env python3
"""Run one graft benchmark workload.

    python3 perfbench/run.py --workload log_scan --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The first run builds the library and the
harness (see build.py); every run then starts one JVM that generates the
workload's inputs from the seed, sets up a Spark session, measures for
`--seconds` seconds, checks the outputs against the generator's ground
truth and prints a report followed by one JSON line. `--trace 1` also
records spans and prints the per-layer metrics instead of the end-to-end
ones. Workload sizes and documentation live in perfbench/workloads.json.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

# Every run must end within 180 s (900 s when it builds); keep a margin.
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    workloads = spec["workloads"]
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload!r}; known: {', '.join(workloads)}")

    root = os.getcwd()
    started = time.monotonic()
    try:
        classpath, built = build.ensure_built(root)
    except build.BuildError as e:
        fail(f"build failed: {e}")
    # a run that had to build may take up to 900 s in all
    budget = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - started)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(root, ".bench_work", tag)
    out = os.path.join(root, ".bench_out", tag)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(out)

    params = workloads[args.workload]["inputs"]
    cmd = ["java", f"-Xms{spec['jvm_heap']}", f"-Xmx{spec['jvm_heap']}",
           "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Xss4m",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(min(os.cpu_count() or 1, spec["max_cores"])),
            "--work", work, "--out", out]
    for k, v in params.items():
        cmd += ["--param", f"{k}={v}"]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=root)

    def stop_child(*_):
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    try:
        stdout, _ = proc.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {budget:.0f} s", 4)
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.stdout.write(stdout)
        fail(f"benchmark JVM exited with code {proc.returncode}", 5)

    lines = stdout.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        sys.stdout.write(stdout)
        fail("benchmark JVM did not end with a result line", 6)
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    sys.stdout.write(json.dumps(result) + "\n")


if __name__ == "__main__":
    main()
