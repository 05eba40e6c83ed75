#!/usr/bin/env python3
"""Measure the benchmark's run-to-run spread and its tracing overhead.

    python3 posbench/spread.py [--runs 10] [--first-seed 1] [--workload NAME ...]

For every workload in BENCHMARK.json (or those named), runs posbench/run.py
untraced once per seed, then traced on the first seed. For each end-to-end
metric it prints the median, the quartiles as statistics.quantiles(n=4)
gives them, and their distance as a share of the median, next to the
metric's bound; for the traced run, the per-layer metrics and the tracing
overhead (traced wall_s minus untraced wall_s, same seed). The summary is
written to .bench_out/spread.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"{' '.join(cmd)} failed with exit {r.returncode}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workload", action="append")
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = a.workload or [w["name"] for w in bench["workloads"]]
    seeds = list(range(a.first_seed, a.first_seed + a.runs))
    summary = {}
    for w in names:
        values, steal = {}, []
        for seed in seeds:
            res = run(w, seed, bench["run_seconds"], 0)
            if not res["correct"] or res["failed"]:
                sys.exit(f"{w} seed {seed}: incorrect result {res}")
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            with open(os.path.join(ROOT, ".bench_out", f"{w}-seed{seed}-trace0.json")) as fh:
                steal.append(json.load(fh).get("steal_share"))
            print(f"{w} seed {seed}: wall_s {res['metrics']['wall_s']['value']:.3f}"
                  f" steal_share {steal[-1]}", file=sys.stderr)
        rows = {}
        print(f"\n{w} ({len(seeds)} runs, seeds {seeds[0]}..{seeds[-1]})")
        print(f"  {'metric':14s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s} {'bound':>6s}")
        for k in bounds:
            v = values[k]
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / statistics.median(v)
            rows[k] = {"median": statistics.median(v), "q1": q1, "q3": q3,
                       "spread": spread, "bound": bounds[k], "values": v}
            print(f"  {k:14s} {statistics.median(v):12.4f} {q1:12.4f} {q3:12.4f}"
                  f" {spread:7.3f} {bounds[k]:6.2f}")
        traced = run(w, seeds[0], bench["run_seconds"], 1)
        with open(os.path.join(ROOT, ".bench_out",
                               f"{w}-seed{seeds[0]}-trace1-rollup.json")) as fh:
            rollup = json.load(fh)
        print(f"  tracing overhead: {rollup['trace_overhead_s']} s"
              f" (traced wall_s {rollup['wall_s']:.3f} s)")
        summary[w] = {"seeds": seeds, "end_to_end": rows, "steal_share": steal,
                      "traced_correct": traced["correct"],
                      "per_layer": rollup["per_layer"],
                      "self_s_by_layer": rollup["self_s_by_layer"],
                      "trace_overhead_s": rollup["trace_overhead_s"]}
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_out", "spread.json"), "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
