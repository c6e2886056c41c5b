"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py WORKLOAD SEED [SEED ...] [--seconds S]

Runs the benchmark once per seed, one run at a time, and prints for
each metric the median and the quartile spread (Q3 - Q1) / median, the
statistic the benchmark's bounds are checked against.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("seeds", nargs="+", type=int)
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True, check=False,
        )
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        if out.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {out.returncode}\n{out.stdout[-2000:]}{out.stderr[-2000:]}")
            return 1
        result = json.loads(last)
        print(f"seed {seed}: " + " ".join(f"{k}={m['value']:.4f}" for k, m in result["metrics"].items()), flush=True)
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, v in values.items():
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med
        print(f"{k:16s} median {med:10.4f} spread {spread:.4f} bound {bounds.get(k)} "
              f"({'ok' if spread < bounds.get(k, 0) / 3 else 'WIDE'})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
