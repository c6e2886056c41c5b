"""Smoke test: every workload at a tiny size, traced and untraced.

    python3 perfbench/smoke.py

Checks that each run exits 0, prints a well-formed result line with the
metrics BENCHMARK.json names, reports zero failures, leaves no process
and no temp directory behind, and that the corpus results do not depend
on the seed (the tables of adhoc_queries are fixed; only their row
order varies).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, trace: int) -> tuple[dict, str]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--tiny",
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, timeout=600, check=False)
    assert out.returncode == 0, f"{' '.join(cmd)} exited {out.returncode}:\n{out.stdout}\n{out.stderr[-3000:]}"
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
    digest = next((ln.split()[-1] for ln in lines if ln.startswith("result digest:")), "")
    return result, digest


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = {
        0: {m["name"] for m in bench["end_to_end"]},
        1: {m["name"] for m in bench["per_layer"]},
    }
    digests = {}
    for workload in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            result, digest = run(workload, 1, trace)
            assert set(result["metrics"]) == names[trace], (workload, trace, sorted(result["metrics"]))
            for m in result["metrics"].values():
                assert isinstance(m["value"], (int, float)), m
            if digest:
                digests[workload] = digest
            print(f"ok  {workload} trace={trace} attempted={result['attempted']}", flush=True)
    _, digest = run("adhoc_queries", 2, 0)
    assert digest == digests["adhoc_queries"], f"adhoc_queries results: seed 2 gave {digest}, seed 1 {digests['adhoc_queries']}"
    print("ok  adhoc_queries results identical for seeds 1 and 2", flush=True)
    work = os.path.join(HERE, ".work")
    assert not os.path.exists(work), "temp root left behind"
    # every JVM a run starts carries its temp root on the command line
    leftover = subprocess.run(["pgrep", "-f", work], capture_output=True, text=True).stdout.split()
    assert not leftover, f"processes left: {leftover}"
    print("smoke test passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
