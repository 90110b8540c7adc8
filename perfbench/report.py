#!/usr/bin/env python3
"""Traced-run report: self time per span and the tracing overhead.

    python3 perfbench/report.py --workload catalog --seed 1 --seconds 5

Runs the benchmark twice with the same seed, untraced and traced, and
prints (1) each span's self time and inclusive time in the traced run,
and (2) the tracing overhead: the end-to-end figures of the traced run
minus those of the untraced one. Every span runs on the benchmark's one
thread, which waits for it (streaming micro-batches included: it blocks
until each stream drains), so every span lies on the path that blocks
the result and self times add up to the run's traced wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One benchmark run; returns its run record with the result line
    under ``"result"``."""
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py"),
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", str(trace),
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, check=False)
    lines = out.stdout.splitlines()
    if out.returncode != 0 or len(lines) < 2 or not lines[-2].startswith("# record "):
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"run failed with exit code {out.returncode}: {' '.join(cmd)}")
    record = json.loads(lines[-2][len("# record "):])
    record["result"] = json.loads(lines[-1])
    return record


def setup_s(record: dict) -> float:
    return record["session_s"] + sum(record["setup_phases_s"].values())


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    args = p.parse_args()

    plain = run_once(args.workload, args.seed, args.seconds, 0)
    traced = run_once(args.workload, args.seed, args.seconds, 1)

    self_s, total_s = traced["self_s"], traced["total_s"]
    print(f"# {args.workload}, seed {args.seed}: traced self time per span")
    print(f"{'span':48s} {'self_s':>9s} {'incl_s':>9s} {'self%':>6s}")
    whole = sum(self_s.values())
    for name, s in sorted(self_s.items(), key=lambda kv: -kv[1]):
        if s < 0.001:  # spans whose children cover them, e.g. one entry
            continue
        print(f"{name:48s} {s:9.3f} {total_s[name]:9.3f} {100 * s / whole:6.1f}")
    print(f"{'(sum of self time)':48s} {whole:9.3f}")

    print("\n# tracing overhead (traced - untraced)")
    rows = [("setup_s", setup_s(plain), setup_s(traced))]
    rows += [(k, plain["e2e"][k], traced["e2e"][k]) for k in plain["e2e"]]
    for name, a, b in rows:
        print(f"{name:20s} untraced {a:12.4f}  traced {b:12.4f}  diff {b - a:+12.4f} ({100 * (b - a) / a:+.1f}%)")
    print("\n# per-layer metrics (traced run)")
    for name, m in traced["result"]["metrics"].items():
        print(f"{name:48s} {m['value']:14.4f} {m['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
