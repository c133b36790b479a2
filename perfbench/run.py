#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse the
build while no source file is newer. Each run is one JVM on local[4] whose
scratch files stay under perfbench/.work and are removed when it ends.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LAUNCH = os.path.join(BENCH, "target", "launch.txt")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "-Xmx3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        for d, _, fs in os.walk(top):
            if os.sep + "target" in d:
                continue
            for f in fs:
                yield os.path.join(d, f)
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(BENCH, "build.sbt")


def build():
    """Compile with sbt unless the launch file is newer than every source."""
    if os.path.exists(LAUNCH):
        stamp = os.path.getmtime(LAUNCH)
        if all(os.path.getmtime(f) < stamp for f in sources()):
            return
    log("building the engine and the benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "writeLaunch"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(LAUNCH):
        raise SystemExit(f"build failed (sbt exit {r.returncode})")
    log(f"built in {time.time() - t0:.0f}s")


def metric_units(trace):
    """The run's metrics in BENCHMARK.json order, name -> unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0,
                    help="tamper with one output before it is checked (self-test)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("no engine sources next to the benchmark: run from a full checkout")
    build()
    with open(LAUNCH) as f:
        lines = [l for l in f.read().splitlines() if l]
    classpath, jvm_opts = lines[0], lines[1:]

    units = metric_units(a.trace == 1)
    work = os.path.join(BENCH, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    cmd = (["java", HEAP, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + jvm_opts +
           ["-cp", classpath, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--corrupt", str(a.corrupt),
            "--work", work, "--result", result, "--metrics", ",".join(units)])
    try:
        r = subprocess.run(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=RUN_TIMEOUT_S)
        if r.returncode != 0 or not os.path.exists(result):
            raise SystemExit(f"workload {a.workload} failed (exit {r.returncode})")
        with open(result) as f:
            out = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out["metrics"] = {k: {"value": out["metrics"][k], "unit": u} for k, u in units.items()}
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
