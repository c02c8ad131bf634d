#!/usr/bin/env python3
"""Steadiness check: run the benchmark once per seed and report, for every
end-to-end metric, the median, the quartiles and the spread (quartile
distance over the median), next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload W --seeds 1-10 [--out FILE]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2 if q2 else None,
            "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for seed in seeds_of(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
        last = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append(last)
        print(f"seed {seed}: correct={last['correct']} failed={last['failed']}/{last['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()), flush=True)
    report = {"workload": a.workload, "seeds": a.seeds,
              "all_correct": all(r["correct"] for r in runs), "metrics": {}}
    for name in bounds:
        s = summarize([r["metrics"][name]["value"] for r in runs])
        s["bound"] = bounds[name]
        report["metrics"][name] = s
        print(f"{name}: median {s['median']:.4g} q1 {s['q1']:.4g} q3 {s['q3']:.4g} "
              f"spread {s['spread']:.3f} (bound {s['bound']})")
    if a.out:
        json.dump(report, open(a.out, "w"), indent=1)


if __name__ == "__main__":
    main()
