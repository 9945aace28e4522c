"""Self-check of the benchmark at a tiny scale.

    python3 perfbench/smoke.py

Runs perfbench/run.py once per workload at ``--scale smoke`` with tracing
off and on, and fails unless every metric BENCHMARK.json names is
printed with its unit, every output check passes and nothing failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = spec["command"] + [
                "--workload", w["name"], "--seed", "1", "--seconds", "0",
                "--trace", str(trace), "--scale", "smoke",
            ]
            proc = subprocess.run(
                cmd, cwd=ROOT, capture_output=True, text=True, timeout=600
            )
            where = f"{w['name']} trace={trace}"
            if proc.returncode != 0:
                problems.append(f"{where}: exit {proc.returncode}: {proc.stderr[-2000:]}")
                continue
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            if not result["correct"] or result["failed"]:
                problems.append(f"{where}: output check failed: {proc.stderr[-2000:]}")
            for m in spec[key]:
                got = result["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{where}: metric {m['name']} [{m['unit']}] missing: {got}")
            print(f"{where}: {result['attempted']} runs, "
                  f"{len(result['metrics'])} metrics", flush=True)
    for p in problems:
        print(p, file=sys.stderr)
    print("smoke: " + ("FAILED" if problems else "ok"))
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
