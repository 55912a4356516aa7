"""Smoke check: run every workload of BENCHMARK.json at tiny size, traced
and untraced, and assert that each run passes its output check and prints
exactly the metrics BENCHMARK.json names, each with its unit.

    python3 perfbench/smoke.py        # from the repository root, ~7 min on 4 cores
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for w in bench["workloads"]:
        for trace in (0, 1):
            cmd = [*bench["command"], "--workload", w["name"], "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--tiny"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            if out.returncode != 0:
                sys.exit(f"{w['name']} trace={trace}: exit {out.returncode}\n{out.stderr[-2000:]}")
            res = json.loads(out.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace] or not res["correct"] or res["failed"]:
                sys.exit(f"{w['name']} trace={trace}: {res}")
            print(f"ok {w['name']} trace={trace}", flush=True)


if __name__ == "__main__":
    main()
