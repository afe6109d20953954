#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

Runs one short traced and one untraced run of every workload (including
`graph_write`, which BENCHMARK.json does not list) and checks that each run
exits 0, prints every metric BENCHMARK.json names with its unit, reports an
error rate, and that every result matched the oracle and had rows.

It uses the benchmark's own sf0.01 tables: a run is no faster at sf0.001,
and there `q_kcore` finds no core, an empty result that counts as a failure.

    python3 graphbench/smoke_test.py      # from the root of a checkout
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
              1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for workload in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
                   "--seconds", "2", "--trace", str(trace)]
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            tag = f"{workload} trace={trace}"
            if r.returncode != 0:
                problems.append(f"{tag}: exit {r.returncode}\n{r.stderr[-2000:]}")
                continue
            lines = r.stdout.strip().splitlines()
            result = json.loads(lines[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(result)}")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != wanted[trace]:
                problems.append(f"{tag}: metrics/units differ from BENCHMARK.json: {got}")
            if not all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()):
                problems.append(f"{tag}: non-numeric metric value")
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                problems.append(f"{tag}: correct={result['correct']} failed={result['failed']} "
                                f"attempted={result['attempted']}")
            stamp = json.loads(lines[-3])
            if "error_rate" not in stamp or "error_rate=" not in lines[-2]:
                problems.append(f"{tag}: no error_rate reported")
            print(f"ok {tag}: {lines[-2]}", flush=True)
    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
