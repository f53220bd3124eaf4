#!/usr/bin/env python3
"""Steadiness check: runs each workload once per seed and reports, for
every end-to-end metric, the median, the quartiles and the spread (the
distance between the first and third quartile as a share of the
median), beside the host steal share of each run.

    python3 perfbench/steady.py [--workloads a,b] [--seeds 10] [--first-seed 1]

Quartiles are Python's statistics.quantiles(values, n=4). The bounds in
BENCHMARK.json are set from this output: a metric's spread should stay
well inside its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def run_once(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(BENCH_DIR, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(lines[-2])["detail"], json.loads(lines[-1]), wall


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    summary = {}
    for w in a.workloads.split(","):
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            detail, res, wall = run_once(w, seed, bench["run_seconds"])
            runs.append((seed, detail, res, wall))
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"{w} seed={seed} wall={wall:.1f}s steal={detail.get('steal_pct')}% "
                  f"correct={res['correct']} failed={res['failed']}/{res['attempted']} {vals}",
                  flush=True)
        summary[w] = {"runs": len(runs),
                      "wall_s": statistics.median(r[3] for r in runs),
                      "steal_pct": [r[1].get("steal_pct") for r in runs],
                      "failed_share": sorted({r[2]["failed"] / r[2]["attempted"] for r in runs}),
                      "metrics": {}}
        for m in bench["end_to_end"]:
            vals = [r[2]["metrics"][m["name"]]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            summary[w]["metrics"][m["name"]] = {
                "median": med, "q1": q1, "q3": q3, "spread": round(spread, 4),
                "bound": m["bound"], "within_third": spread < m["bound"] / 3}
            print(f"{w} {m['name']:<18} median={med:.4g} q1={q1:.4g} q3={q3:.4g} "
                  f"spread={spread:.3f} bound={m['bound']}", flush=True)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
