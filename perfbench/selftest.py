"""Smoke self-test of the benchmark harness.

    python3 perfbench/selftest.py [workload ...]

Checks that BENCHMARK.json agrees with the metric tables in run.py, then
runs every listed workload (default: all four, including the two that are
not in BENCHMARK.json) at the smoke scale (sf0.001) with tracing off and
on, and checks that each run exits 0, reports correct outputs and emits
every named metric with its unit as a finite number. Takes a few minutes; prints one line per run and
exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE]

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def fail(msg: str) -> None:
    print(f"selftest: FAIL: {msg}")
    sys.exit(1)


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    if e2e != run.END_TO_END:
        fail(f"end_to_end in BENCHMARK.json {e2e} != run.END_TO_END {run.END_TO_END}")
    if layer != run.per_layer_units():
        fail("per_layer in BENCHMARK.json differs from run.per_layer_units()")
    workloads = argv or list(WORKLOADS)
    for w in workloads:
        for trace, expected in ((0, e2e), (1, layer)):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--scale", "smoke"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            if p.returncode != 0:
                fail(f"{w} trace={trace} exited {p.returncode}: {p.stderr[-2000:]}")
            result = json.loads(p.stdout.strip().splitlines()[-1])
            if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
                fail(f"{w} trace={trace}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                fail(f"{w} trace={trace}: {result}")
            got = result["metrics"]
            if sorted(got) != sorted(expected):
                fail(f"{w} trace={trace}: missing {sorted(set(expected) - set(got))}, "
                     f"extra {sorted(set(got) - set(expected))}")
            for name, unit in expected.items():
                m = got[name]
                if m["unit"] != unit or not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"]):
                    fail(f"{w} trace={trace}: metric {name} = {m}")
            print(f"selftest: ok {w} trace={trace} ({len(got)} metrics)", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
