#!/usr/bin/env python3
"""Measure a machine's baseline: every workload of BENCHMARK.json run N
times, each with its own seed and in a fresh process, then per metric the
median, quartiles and spread (interquartile distance ÷ median) beside its
bound.

    python3 perfbench/baseline.py [--runs 10] [--first-seed 101] [--out perfbench/baseline.json]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--out", default=os.path.join(HERE, "baseline.json"))
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"runs": a.runs, "seeds": [a.first_seed, a.first_seed + a.runs - 1],
              "run_seconds": spec["run_seconds"], "workloads": {}}
    for w in spec["workloads"]:
        values, stamps = {}, []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                                  w["name"], "--seed", str(seed), "--seconds",
                                  str(spec["run_seconds"]), "--trace", "0"],
                                 cwd=ROOT, capture_output=True, text=True).stdout.splitlines()
            res, stamp = json.loads(out[-1]), json.loads(out[-2])["stamp"]
            stamps.append({"seed": seed, "wall_s": round(time.time() - t0, 1),
                           "correct": res["correct"], "failed": res["failed"],
                           "ext_cores": stamp["ext_cores"], "steal_cores": stamp["steal_cores"]})
            print(json.dumps({"workload": w["name"], **stamps[-1]}), flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        metrics = {}
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            metrics[k] = {"median": med, "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / med if med else 0.0, "bound": bounds[k]}
            print(f"  {w['name']:15s} {k:18s} median={med:<12.5g} spread={metrics[k]['spread']:.3f}"
                  f" bound={bounds[k]}", flush=True)
        report["workloads"][w["name"]] = {"runs": stamps, "metrics": metrics}
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
