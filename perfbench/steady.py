#!/usr/bin/env python3
"""Steadiness check: run workloads over several seeds and report, per
end-to-end metric, the median and the spread (Q3 - Q1) / median, with the
quartiles from statistics.quantiles(values, n=4).

    python3 perfbench/steady.py --runs 10 [--workloads build select_rare]
        [--seconds 10] [--first-seed 1] [--out perfbench/baseline.json]

Run from the root of a checkout. Each run is `perfbench/run.py ... --trace 0`.
With --out the medians, spreads and raw values are written as JSON.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"seconds": a.seconds, "runs": a.runs, "workloads": {}}
    ok = True
    for w in a.workloads:
        values, walls = {}, []
        for i in range(a.runs):
            seed = a.first_seed + i
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            walls.append(time.time() - t0)
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if p.returncode != 0 or not res["correct"]:
                print(f"{w} seed {seed}: run failed (rc {p.returncode})", flush=True)
                ok = False
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: {walls[-1]:.0f} s", flush=True)
        rows = {}
        for k, vs in values.items():
            med = statistics.median(vs)
            q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else float("inf")
            rows[k] = {"median": med, "spread": spread, "values": vs}
            bound = bounds.get(k)
            flag = ""
            if bound is not None and k != "setup_s" and spread > bound / 3:
                flag = f"  > bound/3 ({bound / 3:.3f})"
            print(f"  {w:14s} {k:28s} median {med:14.4f}  spread {spread:.4f}{flag}", flush=True)
        report["workloads"][w] = {"metrics": rows, "median_wall_s": statistics.median(walls)}
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
