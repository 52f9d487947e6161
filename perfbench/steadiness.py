"""Steadiness check: run every workload on several seeds, twice over,
and compare each end-to-end metric's spread with its bound.

    python3 perfbench/steadiness.py --seeds 10 --sets 2 --traced 2 --out perfbench/steadiness.json

For each workload, set and metric it records the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread, the distance
between the quartiles as a share of the median; then whether each
spread stays within the metric's bound and whether the last set's
median is worse than the first set's by no more than the bound.
``--traced N`` adds traced runs on the first N seeds of each workload;
the median of their ``trace.op_p50_ms`` minus the first set's median
``op_p50_ms`` is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One run's result line, plus its wall time as ``wall_s``."""
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n"
                           + p.stderr[-2000:])
    out = json.loads(lines[-1])
    out["wall_s"] = time.perf_counter() - t0
    return out


def summarize(values: list[float], bound: float) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med
    return {"median": med, "q1": q1, "q3": q3, "spread": spread,
            "bound": bound, "within_bound": spread <= bound,
            "within_third": spread <= bound / 3, "values": values}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--traced", type=int, default=0,
                    help="traced runs per workload, on the first seeds")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    lower = {m["name"]: m["better"] == "lower" for m in bench["end_to_end"]}
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    seeds = range(args.first_seed, args.first_seed + args.seeds)
    report: dict = {"run_seconds": bench["run_seconds"], "workloads": {}}
    for w in workloads:
        sets = []
        walls = []
        for s in range(args.sets):
            runs = []
            for seed in seeds:
                r = run_once(w, seed, bench["run_seconds"], 0)
                runs.append(r)
                walls.append(r["wall_s"])
                print(w, "set", s, "seed", seed,
                      {k: round(v["value"], 4)
                       for k, v in r["metrics"].items()}, flush=True)
            sets.append({
                name: summarize([r["metrics"][name]["value"] for r in runs],
                                bound)
                for name, bound in bounds.items()
            })
        # how much worse the last set's median is than the first's
        worse = {}
        for name in bounds:
            shift = sets[-1][name]["median"] / sets[0][name]["median"] - 1
            worse[name] = shift if lower[name] else -shift
        entry: dict = {"sets": sets, "median_worse_by": worse,
                       "medians_agree": all(worse[n] <= bounds[n]
                                            for n in bounds),
                       "run_wall_s": walls}
        if args.traced:
            traced = [run_once(w, seed, bench["run_seconds"], 1)
                      for seed in seeds[:args.traced]]
            t = statistics.median(
                r["metrics"]["trace.op_p50_ms"]["value"] for r in traced)
            entry["tracing_overhead_ms"] = t - sets[0]["op_p50_ms"]["median"]
            entry["traced_op_p50_ms"] = t
            entry["traced_metrics"] = traced[0]["metrics"]
        report["workloads"][w] = entry
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
