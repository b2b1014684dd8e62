#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Builds the program and the harness
with sbt on first use (or when a source changed), lays out a fresh work
directory under perfbench/work/ with the run's inputs (for the warehouse, a
bronze table generated from the seed by bronze.py), starts one JVM for the
run, and prints the run's JSON result as the last line of stdout. The run's
artifact (and, with --trace 1, its spans) is kept in perfbench/out/.

    python3 perfbench/run.py --record ...       re-records expected/fingerprints.json
    python3 perfbench/run.py --all-queries ...  runs every query of the workload's
                                                modules, not just its sample
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import bronze

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("queries_sf0.01", "warehouse_20k")
RUN_TIMEOUT_S = 170
ALL_QUERIES_TIMEOUT_S = 1800
BUILD_TIMEOUT_S = 600
HEAP = "3g"
BRONZE_ROWS = 20000
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_mtime(*dirs):
    newest = 0.0
    for d in dirs:
        for base, _, files in os.walk(d):
            for f in files:
                if f.endswith((".scala", ".sbt", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(base, f)))
    return newest


def build():
    """Returns the harness classpath, building when a source is newer."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources next to the benchmark (build.sbt, src/main/scala)")
    cp_file = os.path.join(BENCH, "target", "bench-classpath.txt")
    sources = newest_mtime(os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                           os.path.join(BENCH, "src"), os.path.join(BENCH, "project"))
    sources = max(sources, os.path.getmtime(os.path.join(ROOT, "build.sbt")),
                  os.path.getmtime(os.path.join(BENCH, "build.sbt")))
    if not os.path.isfile(cp_file) or os.path.getmtime(cp_file) < sources:
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        r = subprocess.run(["sbt", "-batch", "benchClasspath"], cwd=BENCH, env=env,
                           stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0 or not os.path.isfile(cp_file):
            fail("build failed")
    with open(cp_file) as f:
        return f.read().strip()


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def prepare(work, workload, seed):
    """Fresh per-run inputs: the query fixtures are copied so that no run
    sees another's persisted index or scratch files, and the warehouse's
    bronze table is generated from the seed. Returns the harness arguments
    that describe the inputs."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if workload.startswith("queries"):
        data = os.path.join(BENCH, "data")
        shutil.copytree(data, os.path.join(work, "data"))
        shutil.copytree(data, os.path.join(work, "probe"))
        return []
    os.makedirs(os.path.join(work, "bronze"))
    fact_rows = bronze.write(os.path.join(work, "bronze", "part-0.parquet"), seed, BRONZE_ROWS)
    return ["--bronze-rows", str(BRONZE_ROWS), "--expected-fact-rows", str(fact_rows)]


def check_names(metrics, trace):
    """The reported metric names must be exactly those BENCHMARK.json lists."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    return sorted(want) == sorted(metrics)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--all-queries", action="store_true")
    a = ap.parse_args()

    cp = build()
    started_ms = int(time.time() * 1000)
    work = os.path.join(BENCH, "work", f"{a.workload}-{os.getpid()}")
    out_dir = os.path.join(BENCH, "out")
    os.makedirs(out_dir, exist_ok=True)
    inputs = prepare(work, a.workload, a.seed)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--bench", BENCH, "--work", work,
              "--started-ms", str(started_ms), "--commit", commit(),
              "--record", "1" if a.record else "0",
              "--all-queries", "1" if a.all_queries else "0"] + inputs)
    timeout = ALL_QUERIES_TIMEOUT_S if a.all_queries else RUN_TIMEOUT_S
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {timeout} s")
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(stdout)
        shutil.rmtree(work, ignore_errors=True)
        fail(f"harness exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    for src, dst in (("artifact.json", f"{name}.json"), ("spans.json", f"{name}-spans.json")):
        if os.path.isfile(os.path.join(work, src)):
            shutil.copy(os.path.join(work, src), os.path.join(out_dir, dst))
    shutil.rmtree(work, ignore_errors=True)
    if not check_names(result["metrics"], a.trace):
        fail("reported metrics differ from BENCHMARK.json")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
