#!/usr/bin/env python3
"""Steadiness self-check of the benchmark on the code in this checkout.

    python3 perfbench/steady.py --runs 10 --out set1.json [--workloads a,b]
    python3 perfbench/steady.py --runs 10 --out set2.json --compare set1.json

Runs every workload --runs times, each with another seed, and reports per
end-to-end metric the median and the spread: the distance between the first
and third quartile (statistics.quantiles, n=4) as a share of the median.
A spread above the metric's bound in BENCHMARK.json fails the check. With
--compare, the medians of a second set of runs of the same commit must
also lie within the bound of the first set's, in either direction.
Exits 1 when the check fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if r.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {r.returncode}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        raise SystemExit(f"{workload} seed {seed}: incorrect output ({res['failed']} failed)")
    return {k: v["value"] for k, v in res["metrics"].items()}


def worse(metric, first, second):
    """Relative change of `second` against `first`, positive = worse."""
    change = (second - first) / first
    return -change if metric["better"] == "higher" else change


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--out", required=True)
    ap.add_argument("--compare", default=None)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    summary, ok = {}, True
    for w in workloads:
        values = {}
        for i in range(a.runs):
            for k, v in run_once(w, a.first_seed + i, bench["run_seconds"]).items():
                values.setdefault(k, []).append(v)
        summary[w] = {}
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            bad = spread > metrics[k]["bound"]
            ok &= not bad
            summary[w][k] = {"median": statistics.median(vs), "spread": spread, "values": vs}
            print(f"{w:12s} {k:18s} median {statistics.median(vs):12.4f}  spread {spread:6.3f}"
                  f"  bound {metrics[k]['bound']:.2f}{'  SPREAD TOO WIDE' if bad else ''}")
    if a.compare:
        first = json.load(open(a.compare))
        for w, ms in summary.items():
            for k, s in ms.items():
                if w in first and k in first[w]:
                    d = worse(metrics[k], first[w][k]["median"], s["median"])
                    bad = abs(d) > metrics[k]["bound"]
                    ok &= not bad
                    print(f"{w:12s} {k:18s} second vs first median {100 * d:+7.2f}% worse"
                          f"{'  OUTSIDE BOUND' if bad else ''}")
    with open(a.out, "w") as f:
        json.dump(summary, f, indent=1)
    print("steady" if ok else "NOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
