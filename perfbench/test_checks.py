#!/usr/bin/env python3
"""Shows that the benchmark's result checks fire.

    python3 perfbench/test_checks.py

Runs each workload once as is and once with --corrupt, which damages one
result before its check: one ulp in one solver grid cell, or the last row of
each query result. The clean runs must report correct=true with no failures;
the corrupted runs must report correct=false and count every damaged
operation as failed. Takes about four minutes.
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload, corrupt):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", "0"] + (["--corrupt"] if corrupt else [])
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, check=True)
    return json.loads(out.stdout.splitlines()[-1])


def main():
    failures = []
    for workload in ["solver", "curation"]:
        clean = run(workload, corrupt=False)
        if not (clean["correct"] and clean["failed"] == 0 and clean["attempted"] > 0):
            failures.append(f"{workload}: clean run reported {clean}")
        bad = run(workload, corrupt=True)
        # solver: the write check still passes, the solve check must not
        expected_failed = bad["attempted"] // 2 if workload == "solver" else bad["attempted"]
        if bad["correct"] or bad["failed"] < expected_failed:
            failures.append(f"{workload}: corrupted run reported {bad}")
        print(f"{workload}: clean {clean['failed']}/{clean['attempted']} failed, "
              f"corrupted {bad['failed']}/{bad['attempted']} failed")
    if failures:
        raise SystemExit("\n".join(failures))
    print("checks fire: ok")


if __name__ == "__main__":
    main()
