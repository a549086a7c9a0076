"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload pipeline --seeds 1-10 [--trace 0]

Runs the benchmark once per seed, sequentially, from the checkout root
and prints, per metric, the median, the quartiles and the interquartile
range as a share of the median (``statistics.quantiles(values, n=4)``),
next to a third of the metric's bound from BENCHMARK.json.  Each run's
result line is appended to ``.perfbench/spread-<workload>.jsonl``.
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


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", default="0")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    log = os.path.join(ROOT, ".perfbench", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        out = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed",
             str(seed), "--seconds", str(bench["run_seconds"]), "--trace",
             args.trace],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
            text=True, timeout=900, check=True)
        wall = time.perf_counter() - t0
        res = json.loads(out.stdout.strip().splitlines()[-1])
        ctx = [json.loads(line)["context"] for line in out.stderr.splitlines()
               if line.startswith('{"context"')]
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": wall, **res,
                                "context": ctx[-1] if ctx else None}) + "\n")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {wall:.1f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                  if k in bounds), file=sys.stderr)
    for k, xs in values.items():
        if k not in bounds or len(xs) < 2:
            continue
        q = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        print(f"{k:14s} median={med:.4g} q1={q[0]:.4g} q3={q[2]:.4g} "
              f"spread={(q[2] - q[0]) / med:.3f} third_of_bound="
              f"{bounds[k] / 3:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
