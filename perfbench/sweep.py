#!/usr/bin/env python3
"""Run the benchmark over many seeds and summarise each metric.

Usage (from the repo root):
  python3 perfbench/sweep.py --runs 10 [--sets K] [--trace 0|1]
                             [--first-seed N] [--workload W ...]
                             [--out summary.json]

Each run is `run.py --workload W --seed S --seconds <run_seconds>` with
a new seed. The summary gives, per workload and metric, the median, the
quartiles (as `statistics.quantiles(values, n=4)` gives them) and their
distance as a share of the median, next to the load probes the runs
recorded (each run's are kept beside its values) and the workload's
input sizes; a traced sweep also lists which end-to-end metric each
per-layer metric should move. With --sets K the runs are repeated K
times with new seeds, and each later set gives the shift of its medians
from the first set's: two sets of the same code should agree within
each metric's bound.
`perfbench/BASELINE_e2e.json` and `perfbench/BASELINE_layers.json` are
the untraced and traced summaries at the commit that added the
benchmark.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def run_once(workload, seed, seconds, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)], cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed:\n{r.stderr[-3000:]}")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-2])["annotation"], json.loads(lines[-1])


def summarise(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / q2 if q2 else None}


def run_set(w, first_seed, runs, seconds, trace):
    """Summary of `runs` runs of workload w, seeds first_seed onwards."""
    results, probes, per_run = [], [], []
    for seed in range(first_seed, first_seed + runs):
        ann, res = run_once(w, seed, seconds, trace)
        results.append(res)
        pr = [ann["load_probe_before_s"], ann["load_probe_after_s"]]
        probes += pr
        per_run.append({"seed": seed, "load_probe_s": pr,
                        "docs_per_s": ann["docs_per_s"],
                        "metrics": {m: v["value"]
                                    for m, v in res["metrics"].items()}})
    metrics = {}
    for m in results[0]["metrics"]:
        s = summarise([r["metrics"][m]["value"] for r in results])
        s["unit"] = results[0]["metrics"][m]["unit"]
        metrics[m] = s
    return {"seeds": [first_seed, first_seed + runs - 1],
            "correct_runs": sum(r["correct"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "load_probe_s": summarise(probes),
            "docs_per_s": summarise([r["docs_per_s"] for r in per_run]),
            "metrics": metrics, "runs": per_run}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1,
                    help="repeat the runs with new seeds; each later set "
                    "reports its medians' shift from the first set's")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    default=None, help="default: every workload")
    ap.add_argument("--out")
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    summary = {"run_seconds": bench["run_seconds"], "runs": a.runs,
               "trace": a.trace, "workloads": {}}
    if a.trace:
        summary["per_layer_moves"] = {k: v[2]
                                      for k, v in run.LAYER_METRICS.items()}
    for k in range(a.sets):
        for w in workloads:
            s = run_set(w, a.first_seed + k * a.runs, a.runs,
                        bench["run_seconds"], a.trace)
            if k == 0:
                summary["workloads"][w] = dict(s, input_sizes=gen.SIZES[w])
            else:
                first = summary["workloads"][w]["metrics"]
                s["median_shift"] = {
                    m: (v["median"] - first[m]["median"]) / first[m]["median"]
                    if first[m]["median"] else None
                    for m, v in s["metrics"].items()}
                summary["workloads"][w].setdefault("later_sets", []).append(s)
            print(json.dumps({w: s}), flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
