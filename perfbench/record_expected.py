#!/usr/bin/env python3
"""Regenerate perfbench/expected.json: the row count and order-insensitive
hash of every operation's output, per workload, scale and data variant.

    python3 perfbench/record_expected.py [workload ...]

Run from the root of a checkout whose outputs are known good (the catalog
queries are oracle-checked by graft.Verify + tools/check.py). Each entry
comes from `run.py --record`, which runs set-up and the untimed check pass
only. The self-test scale (--tiny) is recorded for variant 0 only, the
variant of seed 0.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
VARIANTS = 4  # perfbench.Main.Variants
WORKLOADS = ("query_mix", "revision_etl")


def record(workload, variant, tiny):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(variant), "--seconds", "1", "--trace", "0", "--record"]
    out = subprocess.run(cmd + (["--tiny"] if tiny else []), capture_output=True,
                         text=True, check=True).stdout
    rec = json.loads(out.strip().splitlines()[-1])
    errors = {k: v for k, v in rec["digests"].items() if isinstance(v, dict)}
    if errors:
        raise SystemExit(f"{workload} variant {variant}: operations failed: {errors}")
    return rec["digests"]


def main():
    path = os.path.join(HERE, "expected.json")
    with open(path) as f:
        expected = json.load(f)
    for w in sys.argv[1:] or WORKLOADS:
        entry = {"full": {}, "tiny": {}}
        for v in range(VARIANTS):
            entry["full"][str(v)] = record(w, v, tiny=False)
            print(f"{w} full variant {v}: {len(entry['full'][str(v)])} ops", file=sys.stderr)
        entry["tiny"]["0"] = record(w, 0, tiny=True)
        expected[w] = entry
        with open(path, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
