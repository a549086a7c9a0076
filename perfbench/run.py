"""gents_spark benchmark: one command, two workloads, one JSON line.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` gives
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced
run (spans + Spark job groups + event log) and the tracing overhead.
Progress, context and failures go to standard error.  See README.md in
this directory for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["pipeline", "query_battery"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "gents_spark", "pipeline.py")):
        print(f"perfbench: no gents_spark package under {ROOT}; run from "
              "the root of a gents_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.measure import run

    t0 = time.perf_counter()
    result, context = run(ROOT, args.workload, args.seed, args.seconds,
                          bool(args.trace))
    context["run_wall_s"] = time.perf_counter() - t0
    print(json.dumps({"context": context}), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
