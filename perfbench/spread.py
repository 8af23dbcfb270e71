#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, as the benchmark's bounds use it.

    python3 perfbench/spread.py WORKLOAD RUNS [FIRST_SEED]

Runs the workload RUNS times with consecutive seeds (untraced, the
run_seconds of BENCHMARK.json) and prints, per metric, the median and the
interquartile range as a share of the median (statistics.quantiles, n=4),
next to the metric's bound.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(workload, runs, first_seed=1):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    values = {}
    for seed in range(first_seed, first_seed + runs):
        out = subprocess.run(
            ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, check=True)
        notes = [l.split("] ", 1)[1] for l in out.stderr.splitlines()
                 if "hypervisor" in l or ": cold" in l]
        result = json.loads(out.stdout.splitlines()[-1])
        assert result["correct"], result
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              *notes, sep="\n    ", flush=True)
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{m['name']:>14}: median {statistics.median(xs):.4g} {m['unit']}, "
              f"spread {(q3 - q1) / statistics.median(xs):.3f} (bound {m['bound']})")


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        raise SystemExit(__doc__)
    main(sys.argv[1], int(sys.argv[2]), *(int(x) for x in sys.argv[3:]))
