#!/usr/bin/env python3
"""Diff two sets of benchmark results, per workload and metric.

    python3 perfbench/compare.py <dir A> <dir B>

Each directory holds one file per run, named `<workload>-<anything>.json`,
whose content is the result line `perfbench/run.py` printed. Runs of one
workload pair up in file-name order, so name them by their position in
an alternating A/B sequence (for example `medallion_cdc-03.json` on both
sides). For each (workload, metric) the table shows each side's median
and quartiles, the change of B against A, and the share of pairs B won
(ties count for neither). A change worse than the metric's bound in
BENCHMARK.json is flagged `worse`; when A's own quartile spread is wider
than the bound the verdict is `unresolved` unless every B run beats
every A run.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(d):
    runs = {}
    for name in sorted(os.listdir(d)):
        if not name.endswith(".json"):
            continue
        workload = name.rsplit("-", 1)[0]
        with open(os.path.join(d, name)) as f:
            lines = [l for l in f.read().splitlines() if l.strip()]
        runs.setdefault(workload, []).append(json.loads(lines[-1]))
    return runs


def quartiles(vs):
    if len(vs) < 2:
        return vs[0], vs[0], vs[0]
    q = statistics.quantiles(vs, n=4)
    return q[0], statistics.median(vs), q[2]


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    meta = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    a, b = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':<15} {'metric':<38} {'A median [q1, q3]':>30} "
          f"{'B median [q1, q3]':>30} {'B vs A':>8} {'B won':>7}  verdict")
    for workload in sorted(set(a) & set(b)):
        ra, rb = a[workload], b[workload]
        names = sorted(set(ra[0]["metrics"]) & set(rb[0]["metrics"]))
        for name in names:
            va = [r["metrics"][name]["value"] for r in ra]
            vb = [r["metrics"][name]["value"] for r in rb]
            m = meta.get(name, {"better": "lower"})
            sign = -1 if m["better"] == "higher" else 1
            qa, qb = quartiles(va), quartiles(vb)
            change = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
            pairs = list(zip(va, vb))
            won = sum(1 for x, y in pairs if sign * (y - x) < 0)
            verdict = ""
            if "bound" in m:
                spread = (qa[2] - qa[0]) / qa[1] if qa[1] else 0.0
                all_better = all(sign * (y - x) < 0 for x in va for y in vb)
                if sign * change > m["bound"]:
                    verdict = "worse"
                elif spread > m["bound"] and not all_better:
                    verdict = "unresolved"
                else:
                    verdict = "within bound"
            fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
            print(f"{workload:<15} {name:<38} {fmt(qa):>30} {fmt(qb):>30} "
                  f"{change:>+8.1%} {won:>3}/{len(pairs):<3}  {verdict}")
        fa = sum(r["failed"] for r in ra)
        fb = sum(r["failed"] for r in rb)
        print(f"{workload:<15} {'failed operations':<38} {fa:>30} {fb:>30}")


if __name__ == "__main__":
    main()
