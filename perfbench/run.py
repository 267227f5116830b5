#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload gateway_rest --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. Builds the program from source on first
use (perfbench/build.py), starts one JVM for the run with its own temp
root, and prints the run record followed, as the last line, by the
result: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones
from a traced run, whose spans are kept under .bench_build/perfbench/.
Exits nonzero when a run fails or an output check fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("gateway_rest", "pipeline_batch", "ingest_publish")
RUN_TIMEOUT_S = 170


def tree_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp, data = build.build()
    root = os.path.abspath(os.path.join(
        build.OUT, f"run-{os.getpid()}-{int(time.time() * 1000)}"))
    os.makedirs(os.path.join(root, "tmp"))
    cmd = ["java"] + build.java_opts(root) + [
        "-cp", cp, "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", data, "--sf", str(build.SF), "--root", root,
        "--spec", build.SPEC,
        "--cpus", str(build.CPUS)]
    try:
        proc = subprocess.Popen(cmd, stdout=sys.stderr)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
        if rc != 0:
            sys.exit(f"perfbench: benchmark JVM exited with {rc}")
        out = os.path.join(root, "out")
        with open(os.path.join(out, "record.json")) as f:
            record = json.load(f)
        with open(os.path.join(out, "result.json")) as f:
            result = json.load(f)
        # what the program left under the run's root once its JVM has
        # exited: everything but the benchmark's own outputs and the
        # workload's publish targets
        left_mb = (tree_bytes(root) - tree_bytes(out) -
                   tree_bytes(os.path.join(root, "work"))) / 1048576.0
        record["disk_left_mb"] = left_mb
        if a.trace:
            result["metrics"]["disk.left_mb"]["value"] = left_mb
            traces = os.path.join(build.OUT, "traces")
            os.makedirs(traces, exist_ok=True)
            stem = os.path.join(traces, f"{a.workload}-seed{a.seed}")
            shutil.copy(os.path.join(out, "spans.jsonl"), stem + ".spans.jsonl")
            shutil.copy(os.path.join(out, "self_times.tsv"), stem + ".self.tsv")
            with open(stem + ".self.tsv") as f:
                sys.stderr.write(f.read())
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"run": record}))
    print(json.dumps(result))
    if not result["correct"] or result["failed"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
