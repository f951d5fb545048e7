#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload lake_etl --seed 1 --seconds 20 --trace 0

Builds the program and the driver (perfbench/build.py) when the sources
changed, then runs the driver in one JVM with pinned settings. Every
metric is printed by name with its unit; the last line of standard output
is one JSON object {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones from a traced run (spans go to .bench_build/traces/).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("lake_etl", "analyst_mix", "ml_corpus")
JVM_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        jar, archive = build.build()
    except (SystemExit, subprocess.SubprocessError, OSError) as e:
        sys.stderr.write(f"perfbench: build failed: {e}\n")
        return 1

    base = os.path.join(build.ROOT, ".bench_build")
    work = os.path.join(base, "run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(base, "logs"), exist_ok=True)
    log_path = os.path.join(base, "logs", f"{a.workload}-{a.seed}.log")
    out = os.path.join(work, "result.json")
    cds = [f"-XX:SharedArchiveFile={archive}"] if archive else []
    cmd = build.java_cmd(work, cds) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--out", out]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    try:
        if code != 0 or not os.path.exists(out):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-6000:])
            sys.stderr.write(f"perfbench: driver exited {code}\n")
            return 1
        with open(out) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds:g} "
          f"trace {a.trace}: local[{os.cpu_count()}], shuffle partitions "
          f"{os.cpu_count()}, heap {build.HEAP}, FAIR pools client0/client1")
    for name, m in result["metrics"].items():
        print(f"  {name:36s} {m['value']:>16.4f} {m['unit']}")
    print(f"  {'operations attempted':36s} {result['attempted']:>16d}")
    print(f"  {'operations failed':36s} {result['failed']:>16d}")
    print(f"  {'outputs correct':36s} {str(result['correct']):>16s}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
