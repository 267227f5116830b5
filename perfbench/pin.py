#!/usr/bin/env python3
"""Re-pin the pipeline_batch output digests.

    python3 perfbench/pin.py

Run from the repository root, on a commit whose answers are trusted.
Computes each query's digest (row count and order-independent hash)
twice on the fixtures in perfbench/fixtures, checks every query that
has an oracle in SparkEntry.oracleSql against DuckDB with
tools/check.py, and only then writes perfbench/pins/pipeline_batch.tsv.
"""
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402


def main():
    cp, data = build.build()
    out = os.path.abspath(os.path.join(build.OUT, "pin"))
    root = os.path.abspath(os.path.join(build.OUT, "pin-root"))
    for d in (out, root):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    try:
        rc = subprocess.run(
            ["java"] + build.java_opts(root) + ["-cp", cp,
             "graft.perfbench.Main", "--mode", "pin", "--data", data,
             "--sf", str(build.SF), "--out", out, "--root", root,
             "--cpus", str(build.CPUS)]).returncode
    finally:
        shutil.rmtree(root, ignore_errors=True)
    if rc != 0:
        sys.exit("pin: digest run failed")
    rc = subprocess.run([sys.executable, os.path.join("tools", "check.py"),
                         data, os.path.join(out, "oracle")]).returncode
    if rc != 0:
        sys.exit("pin: DuckDB oracle check failed; pins not written")
    dst = os.path.join("perfbench", "pins", "pipeline_batch.tsv")
    shutil.copy(os.path.join(out, "pipeline_batch.tsv"), dst)
    print(f"pinned {dst}")


if __name__ == "__main__":
    main()
