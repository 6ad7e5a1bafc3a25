"""Run one workload on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload drip

Runs ``perfbench/run.py`` once for each of the seeds 1 to 10, one run at
a time, reading the
command and ``run_seconds`` from BENCHMARK.json. For every metric it
prints the median, the quartiles (``statistics.quantiles(n=4)``) and the
spread: the inter-quartile distance as a share of the median, next to the
metric's bound, and the attempted and failed op counts over all runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEEDS = range(1, 11)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    values: dict[str, list[float]] = {}
    attempted = failed = 0
    for seed in SEEDS:
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        t = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=False)
        wall = time.perf_counter() - t
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        attempted += result["attempted"]
        failed += result["failed"]
        brief = " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())
        print(f"seed {seed} wall={wall:.1f}s correct={result['correct']} {brief}", flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    print(f"\n{args.workload}: {len(SEEDS)} runs, {attempted} attempted ops, {failed} failed")
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _q2, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(name)
        flag = "" if bound is None else f" bound={bound} {'ok' if spread <= bound / 3 else 'WIDE'}"
        print(f"  {name:40s} median={med:.6g} q1={q1:.6g} q3={q3:.6g} spread={spread:.3f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
