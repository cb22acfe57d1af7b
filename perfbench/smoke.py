#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001.

    python3 perfbench/smoke.py

For every workload it runs ``run.py`` untraced and traced and checks that
the last output line is the result object, that the run is correct, and
that every metric of ``BENCHMARK.json`` prints with its declared unit. It
then runs each workload with every output corrupted before its check and
requires ``failed`` > 0. Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, corrupt: bool = False) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--smoke",
    ]
    if corrupt:
        cmd.append("--corrupt")
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        sys.exit(f"{' '.join(cmd[2:])}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for w in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            res = run(w, trace)
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                sys.exit(f"{w} trace={trace}: result keys {sorted(res)}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                sys.exit(f"{w} trace={trace}: metric names/units differ: {got} vs {want[trace]}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                sys.exit(f"{w} trace={trace}: not correct: {res}")
            print(f"ok  {w:12s} trace={trace}  {len(got)} metrics, {res['attempted']} jobs")
        res = run(w, 0, corrupt=True)
        if res["failed"] < 1 or res["correct"]:
            sys.exit(f"{w}: a corrupted output passed its check: {res}")
        print(f"ok  {w:12s} corrupted output -> failed_share {res['failed'] / res['attempted']:.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
