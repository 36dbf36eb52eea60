#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 sketchbench/run.py --workload sketch_ingest --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark program when needed
(sketchbench/build.py), runs one workload in a fresh JVM at local[nproc], and
prints its report.
The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). Everything the run writes stays under .bench_build/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["sketch_ingest", "sketch_query", "curate_corpus", "curate_stream"]
DEADLINE_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classpath = build.ensure_built()
    t_jvm = time.monotonic()
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    base = os.path.abspath(build.BUILD_DIR)
    work = os.path.join(base, "run", f"{a.workload}-{os.getpid()}")
    logs = os.path.join(base, "logs")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    out_path, err_path = os.path.join(logs, tag + ".out"), os.path.join(logs, tag + ".err")
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")],
           f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
           "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
           "--work", work, "--traces", os.path.join(base, "traces")]
    # a run that had to build first gets the full deadline for the JVM
    budget = DEADLINE_S - min(t_jvm - t_start, 10.0)
    # SIGTERM ends this script through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    with open(out_path, "w") as out, open(err_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=out, stderr=err, start_new_session=True)
        timer = threading.Timer(budget, lambda: os.killpg(p.pid, signal.SIGKILL))
        timer.start()
        status = None
        try:
            _, status, usage = os.wait4(p.pid, 0)
        finally:
            timer.cancel()
            if status is None:
                os.killpg(p.pid, signal.SIGKILL)
                os.waitpid(p.pid, 0)
    code = os.waitstatus_to_exitcode(status)
    shutil.rmtree(work, ignore_errors=True)
    lines = open(out_path).read().splitlines()
    if code != 0 or len(lines) < 2:
        sys.stderr.write(open(err_path).read()[-4000:])
        sys.stderr.write(f"\nrun: benchmark JVM exited with {code}; log in {err_path}\n")
        sys.exit(1)
    # the JVM's peak resident set (ru_maxrss is in KiB on Linux) goes
    # on the report line, the one before the result
    report = json.loads(lines[-2])
    report["peak_rss_mb"] = usage.ru_maxrss / 1024.0
    for line in lines[:-2]:
        print(line)
    print(json.dumps(report, separators=(",", ":")))
    print(lines[-1])


if __name__ == "__main__":
    main()
