#!/usr/bin/env python3
"""Run one workload of the log-store benchmark.

    python3 perfbench/run.py --workload log_ingest --seed 1 --seconds 10 --trace 0

Builds the engine plus the benchmark from source on first use (see
build.py), then runs one single-client, closed-loop workload in one
local-mode Spark JVM.  The last line of standard output is the result
object; the line before it is the environment record.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("log_ingest", "log_serve", "index_lifecycle")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170
HEAP = "3g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes = build.build()
    out = build.build_dir()
    work = os.path.join(out, "work")
    tmp = os.path.join(out, "tmp")
    results = os.path.join(out, "results")
    for d in (work, tmp, results):
        os.makedirs(d, exist_ok=True)
    cpus = min(4, os.cpu_count() or 1)
    cmd = ["java", f"-Xmx{HEAP}", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus), "--heap", HEAP,
            "--work", work, "--tmp", tmp, "--results", results]
    proc = subprocess.Popen(cmd, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("run: workload exceeded its time limit", file=sys.stderr)
        code = 3
    except KeyboardInterrupt:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    sys.exit(code)


if __name__ == "__main__":
    main()
