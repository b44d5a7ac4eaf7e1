"""Self-test of the benchmark itself, at toy size.

    python3 perfbench/selftest.py

For each workload it checks that
- a ``--trace 0`` run emits exactly the end-to-end metrics of
  BENCHMARK.json, with their units, and a ``--trace 1`` run exactly the
  per-layer ones, with no failed operation (a traced run also fails when its triples differ from the
  untraced run's);
- a run whose output lost one triple (``--corrupt``) fails every operation.
Exits non-zero on the first violation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "toy", *extra]
    out = subprocess.run(cmd, cwd=ROOT, check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for workload in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            r = run(workload, trace)
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != names[trace]:
                print(f"{workload} trace {trace}: got {sorted(got.items())}, "
                      f"want {sorted(names[trace].items())}")
                return 1
            if not r["correct"] or r["failed"] or r["attempted"] < 1:
                print(f"{workload} trace {trace}: {r['attempted']} attempted, {r['failed']} failed")
                return 1
        r = run(workload, 0, "--corrupt")
        if r["correct"] or r["failed"] != r["attempted"]:
            print(f"{workload}: a dropped triple went unnoticed ({r['failed']}/{r['attempted']} failed)")
            return 1
        print(f"{workload}: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
