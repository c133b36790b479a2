#!/usr/bin/env python3
"""Check that the benchmark's correctness checks catch a wrong output.

    python3 perfbench/selftest.py [workload ...]

Runs each workload (default: every workload in BENCHMARK.json) for a
few seconds with `--corrupt 1`, which tampers with one output before it
is checked. Passes when every such run reports `correct: false` and at
least one failed operation.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        workloads = sys.argv[1:] or [w["name"] for w in json.load(f)["workloads"]]
    bad = []
    for w in workloads:
        r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                            "--seed", "7", "--seconds", "2", "--trace", "0", "--corrupt", "1"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = r.stdout.strip().splitlines()
        out = json.loads(lines[-1]) if r.returncode == 0 and lines else None
        caught = out is not None and not out["correct"] and out["failed"] >= 1
        print(f"{w}: {'caught' if caught else 'NOT caught'} "
              f"({'exit ' + str(r.returncode) if out is None else out['failed']} failed)")
        if not caught:
            bad.append(w)
    if bad:
        raise SystemExit(f"corrupted output not counted as failed: {', '.join(bad)}")


if __name__ == "__main__":
    main()
