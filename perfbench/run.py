#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload crawl_steady --seed 1 --seconds 10 --trace 0

Builds the program if needed (perfbench/build.py), sizes the JVM for the
box, runs the harness in one JVM on local[4N] (and local[N] for the N leg
of a traced crawl_steady run), and checks that the printed metrics are
exactly the ones BENCHMARK.json names. Everything it writes stays under
.bench_build/ and .bench_work/ in the checkout.
"""
import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("crawl_steady", "analytics_mix")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    """(N, 4N): N = max(1, nproc / 4), so 4N = 4 * N on any box."""
    nproc = len(os.sched_getaffinity(0))
    n = max(1, nproc // 4)
    return n, 4 * n


def heap_mb():
    """A fifth of the box's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(1024, min(4096, total_kb // 1024 // 5))


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build.ensure()
    n, n4 = cores()
    work = ROOT / ".bench_work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    java = build.java()
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap_mb()}m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        "-cp", os.pathsep.join(classpath), "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", str(work), "--cores-n", str(n),
        "--cores-4n", str(n4), "--conf", str(HERE / "session.properties"),
        "--expected", str(HERE / "expected_queries.tsv"),
        "--expected-hits", str(HERE / "expected_hits.tsv")]
    log = work / "jvm.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=ROOT)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"run: JVM exceeded {JVM_TIMEOUT_S}s; log at {log}")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        sys.exit(f"run: JVM exited {proc.returncode}; log at {log}")
    result = json.loads(lines[-1])
    names = list(result["metrics"])
    want = expected_metrics(a.trace)
    if sorted(names) != sorted(want):
        sys.exit(f"run: metrics {names} differ from BENCHMARK.json {want}")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
