#!/usr/bin/env python3
"""Run every workload of BENCHMARK.json with ten seeds and report
each end-to-end metric's median and spread (the distance between the
first and third quartile as a share of the median, as
statistics.quantiles(values, n=4) gives them):

    python3 perfbench/baseline.py [--out DIR]

With --out, the result lines go to DIR/<workload>.jsonl, one traced
run per workload to DIR/<workload>-trace.json (Σ and per-query
tables, without spans), and the medians and spreads to
DIR/summary.json.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
RUNS = 10


def run_once(workload, seed, seconds, trace):
    proc = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        sys.exit(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", type=Path)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    summary = {}
    for w in (w["name"] for w in spec["workloads"]):
        lines = []
        for seed in range(1, RUNS + 1):
            lines.append(run_once(w, seed, spec["run_seconds"], 0))
            print(f"{w} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in lines[-1]["metrics"].items()), flush=True)
        summary[w] = {}
        for m in bounds:
            vals = [ln["metrics"][m]["value"] for ln in lines]
            s = spread(vals)
            summary[w][m] = {"median": statistics.median(vals), "spread": s,
                             "bound": bounds[m]}
            print(f"  {m}: median {statistics.median(vals):.4g} spread {s:.3f} "
                  f"(bound {bounds[m]}, a third {bounds[m] / 3:.3f})")
        summary[w]["failed"] = sum(ln["failed"] for ln in lines)
        summary[w]["correct"] = all(ln["correct"] for ln in lines)
        if a.out:
            a.out.mkdir(parents=True, exist_ok=True)
            (a.out / f"{w}.jsonl").write_text("".join(json.dumps(ln) + "\n" for ln in lines))
            run_once(w, 1, spec["run_seconds"], 1)
            trace = json.loads((BENCH / "out" / f"{w}-seed1-trace.json").read_text())
            trace.pop("spans")
            (a.out / f"{w}-trace.json").write_text(json.dumps(trace, indent=1) + "\n")
    if a.out:
        (a.out / "summary.json").write_text(json.dumps(summary, indent=1) + "\n")


if __name__ == "__main__":
    main()
