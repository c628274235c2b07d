#!/usr/bin/env python3
"""Tiny-input self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced at the self-test scale
(sf0.001 tables, ~1 MB of revision XML), then asserts that the last line
of each run parses as the result object, that its output check passed,
and that it carries every metric BENCHMARK.json names, with its unit.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    for w in spec["workloads"]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                   "--seed", "0", "--seconds", "1", "--trace", str(trace), "--tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            label = f"{w['name']} --trace {trace}"
            try:
                result = json.loads(proc.stdout.strip().splitlines()[-1])
            except (IndexError, ValueError):
                failures.append(f"{label}: no JSON result (exit {proc.returncode})\n"
                                f"{proc.stderr[-2000:]}")
                continue
            if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
                failures.append(f"{label}: keys {sorted(result)}")
            if proc.returncode != 0 or not result.get("correct") or result.get("failed"):
                failures.append(f"{label}: exit {proc.returncode}, correct={result.get('correct')}, "
                                f"failed={result.get('failed')}\n{proc.stderr[-2000:]}")
            metrics = result.get("metrics", {})
            for m in spec[group]:
                got = metrics.get(m["name"])
                if not got or not isinstance(got.get("value"), (int, float)) \
                        or got.get("unit") != m["unit"]:
                    failures.append(f"{label}: metric {m['name']} missing or malformed: {got}")
            extra = set(metrics) - {m["name"] for m in spec[group]}
            if extra:
                failures.append(f"{label}: metrics not in BENCHMARK.json: {sorted(extra)}")
            print(f"{label}: {len(metrics)} metrics", file=sys.stderr)
    if failures:
        print("\n".join(failures), file=sys.stderr)
        sys.exit(1)
    print("selftest ok", file=sys.stderr)


if __name__ == "__main__":
    main()
