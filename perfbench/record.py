#!/usr/bin/env python3
"""Record the result hashes the benchmark checks against (perfbench/expected.tsv).

    python3 perfbench/record.py SCRATCH_DIR

For each query workload this runs every operation once in record mode
(run.py --record), which leaves each operation's delivered rows as parquet
and its DuckDB oracle SQL under SCRATCH_DIR. It then runs tools/compare.py
(DuckDB) over them and the input tables in perfbench/fixture/, and rewrites
expected.tsv only if every operation of every workload passed. compare.py
opens a view over every table of the full fixture; the tables the benchmark
does not read are stood in for by empty files in SCRATCH_DIR/data. Run it from
the repository root after a change that legitimately alters a result or the
fixture.
"""
import os
import re
import shutil
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["curation"]
HEADER = "# workload\top\tmode\trows\tsha256 -- written by perfbench/record.py after a DuckDB-validated run\n"


def data_dir(scratch):
    """The fixture's tables plus an empty stand-in for every other table."""
    data = os.path.abspath(os.path.join(scratch, "data"))
    os.makedirs(data, exist_ok=True)
    with open(os.path.join(ROOT, "tools", "compare.py")) as fh:
        tables = re.search(r'TABLES = "([^"]+)"', fh.read()).group(1).split()
    for t in tables:
        src = os.path.join(HERE, "fixture", f"{t}.parquet")
        dst = os.path.join(data, f"{t}.parquet")
        if os.path.exists(src):
            shutil.copyfile(src, dst)
        else:
            duckdb.execute(f"COPY (SELECT 1 AS unused WHERE false) TO '{dst}' (FORMAT parquet)")
    return data


def main(scratch):
    data = data_dir(scratch)
    lines = []
    for w in WORKLOADS:
        out = os.path.abspath(os.path.join(scratch, w))
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                        "--seed", "0", "--seconds", "1", "--trace", "0", "--record", out],
                       cwd=ROOT, check=True)
        cmp = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare.py"),
                              data, os.path.join(out, "results")],
                             cwd=ROOT, stdout=subprocess.PIPE, text=True)
        print(cmp.stdout, end="")
        with open(os.path.join(out, "expected.tsv")) as fh:
            recorded = [l for l in fh.read().splitlines() if l]
        m = re.search(r"== (\d+) pass, (\d+) fail", cmp.stdout)
        if cmp.returncode != 0 or not m or int(m.group(1)) != len(recorded) or m.group(2) != "0":
            raise SystemExit(f"{w}: DuckDB comparison did not pass every operation; "
                             "expected.tsv left unchanged")
        lines += recorded
    with open(os.path.join(HERE, "expected.tsv"), "w") as fh:
        fh.write(HEADER + "\n".join(sorted(lines)) + "\n")
    print(f"wrote {len(lines)} hashes to perfbench/expected.tsv")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        raise SystemExit(__doc__)
    main(sys.argv[1])
