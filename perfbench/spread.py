#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload service --seconds 5 --seeds 1-10

Runs the benchmark once per seed (tracing off) and prints, for each
end-to-end metric, the median over the runs and the inter-quartile range
as a share of that median (``statistics.quantiles(values, n=4)``), next
to a third of the metric's bound from ``BENCHMARK.json``, the target a
steady benchmark stays under.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from report import run_once
from stats import median, spread

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--seeds", default="1-10")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}

    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        rec = run_once(args.workload, seed, args.seconds, 0)
        res = rec["result"]
        print(
            f"seed {seed}: correct {res['correct']} {res['failed']}/{res['attempted']} "
            f"wall {rec['wall_s']:.1f}s steal {rec['steal_pct']}% "
            + " ".join(f"{k}={m['value']:.4f}" for k, m in res["metrics"].items()),
            flush=True,
        )
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for k, vs in values.items():
        print(
            f"{k:12s} median {median(vs):12.4f}  spread {spread(vs):.4f}"
            f"  (target < {bounds[k] / 3:.4f})"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
