#!/usr/bin/env python3
"""Steadiness self-check: run each workload once per seed and report, per
end-to-end metric, the median and the spread (distance between the first
and third quartile over the median, `statistics.quantiles(n=4)`) against
the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py [--seeds 10] [--first-seed 1] [--workload NAME ...]

Run from the repository root. Writes perfbench/.work/steadiness.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in workloads:
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                sys.exit("%s seed %d failed:\n%s" % (w, seed, out.stderr[-2000:]))
            res = json.loads(lines[-1])
            runs.append(res)
            print("%s seed %d: correct=%s %s" % (w, seed, res["correct"], {
                k: round(v["value"], 3) for k, v in res["metrics"].items()}), flush=True)
        rows = {}
        for m in bounds:
            vals = [r["metrics"][m]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            rows[m] = {"median": med, "spread": spread, "bound": bounds[m],
                       "steady": spread <= bounds[m] / 3, "values": vals}
        report[w] = {"all_correct": all(r["correct"] for r in runs), "metrics": rows}
        for m, r in rows.items():
            print("  %-12s median %12.4f  spread %.4f  bound %.2f  %s" % (
                m, r["median"], r["spread"], r["bound"],
                "steady" if r["steady"] else "SPREAD ABOVE BOUND/3"))
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    with open(os.path.join(HERE, ".work", "steadiness.json"), "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
