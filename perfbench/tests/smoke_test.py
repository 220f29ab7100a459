#!/usr/bin/env python3
"""Smoke test: every workload once at tiny input sizes, untraced and traced.

    python3 perfbench/tests/smoke_test.py

Run from the root of a graft checkout. Fails if a run fails its output
checks, or if a metric named in run.py or BENCHMARK.json is missing from a
run's result line or has no unit.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402


def named(trace):
    names = dict(run.PER_LAYER if trace else run.END_TO_END)
    if os.path.exists("BENCHMARK.json"):
        spec = json.load(open("BENCHMARK.json"))
        for m in spec["per_layer" if trace else "end_to_end"]:
            names.setdefault(m["name"], m["unit"])
    return names


def main():
    errors = []
    for workload in run.WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(os.path.dirname(HERE), "run.py"),
                   "--workload", workload, "--seed", "7", "--seconds", "1",
                   "--trace", str(trace), "--scale", "smoke"]
            p = subprocess.run(cmd, capture_output=True, text=True)
            tag = f"{workload} trace={trace}"
            if p.returncode != 0:
                errors.append(f"{tag}: exit {p.returncode}: {p.stderr[-2000:]}")
                continue
            lines = p.stdout.strip().splitlines()
            result, report = json.loads(lines[-1]), json.loads(lines[-2])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                errors.append(f"{tag}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"]:
                errors.append(f"{tag}: {result['failed']} of {result['attempted']} ops failed")
            for name, unit in named(trace).items():
                m = result["metrics"].get(name)
                if m is None or not m.get("unit") or not isinstance(m.get("value"), (int, float)):
                    errors.append(f"{tag}: metric {name} missing or without unit: {m}")
                elif m["unit"] != unit:
                    errors.append(f"{tag}: metric {name} unit {m['unit']} != {unit}")
            if "error_rate" not in report:
                errors.append(f"{tag}: report line has no error_rate")
            print(f"ok  {tag}: {result['attempted']} ops", flush=True)
    for e in errors:
        print("FAIL", e)
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
