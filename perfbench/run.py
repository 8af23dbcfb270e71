#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {solver,curation} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The first run in a checkout compiles the
library and the harness (perfbench/build.sbt, offline sbt); later runs reuse
the build while no source changed. The harness runs in one JVM on
local[<cores>] with the JVM heap the repository's test command uses, in a
fresh work directory under .bench_runs/ that is removed afterwards. The input
tables are the parquet files in perfbench/fixture/. With --trace 1 the span
file goes to .bench_out/.

The last line of standard output is one JSON object: correct, attempted,
failed and metrics. Any failure to build or run exits non-zero without it.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
FIXTURE = os.path.join(HERE, "fixture")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: harness, build files, library."""
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "src"), LIB_SRC]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    # the repository's own build names the jar directory it compiles against
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    raise SystemExit("cannot find the Spark jars: set SPARK_HOME")


def sbt_env(jars):
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    env["PERFBENCH_SPARK_JARS"] = jars
    return env


def build(jars):
    """Compiles once per source state; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("building the library and the harness (sbt, offline)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(jars), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-6000:])
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    cps = [l.strip() for l in proc.stdout.splitlines() if ".jar" in l and os.pathsep in l]
    if not cps:
        sys.stderr.write(proc.stdout[-6000:])
        raise SystemExit("build printed no classpath")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1]


def jvm_heap():
    """MemTotal / 2, in whole GiB, clamped to [2, 8] — the test command's formula."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["solver", "curation"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--corrupt", action="store_true",
                    help="damage one result before its check (tests that checks fire)")
    ap.add_argument("--record", metavar="DIR",
                    help="record result hashes and DuckDB inputs instead of timing")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(LIB_SRC, "graft")) or \
            not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise SystemExit(f"no library sources under {ROOT}: run from a full checkout")
    jars = spark_jars()
    cp = build(jars)

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [f"-Xmx{jvm_heap()}", "-XX:MaxHeapFreeRatio=100", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--cpus", str(cpus), "--workdir", work, "--datadir", FIXTURE,
            "--outdir", os.path.join(ROOT, ".bench_out"),
            "--expected", os.path.join(HERE, "expected.tsv")]
    if a.corrupt:
        cmd += ["--corrupt", "1"]
    if a.record:
        os.makedirs(a.record, exist_ok=True)
        cmd += ["--record", os.path.abspath(a.record)]

    # a terminated run.py still stops the JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"harness exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    if proc.returncode != 0 or a.record:
        sys.stderr.write(out)
        raise SystemExit(proc.returncode)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(out)
        raise SystemExit("harness printed no result line")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
