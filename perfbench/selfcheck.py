#!/usr/bin/env python3
"""Check that the counts which must repeat for a fixed seed do repeat.

    python3 perfbench/selfcheck.py [--seed 7] [--seconds 15]

Runs every workload of BENCHMARK.json twice, traced, with the same seed,
and compares the per-layer counts that depend only on the inputs: Spark
jobs per request, files added per append, response bytes and the planted
duplicate / boilerplate counts. A count that differs between the two
runs is not a fixed property of the inputs and cannot carry a claim.
Exits 1 on any difference or failed run.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXACT = [
    "spark.jobs_per_query",
    "storage.files_added_per_append",
    "api.response_bytes",
    "operators.dedup_survivors",
    "operators.near_dup_pairs",
    "operators.boilerplate_removed",
]


def run_once(workload: str, seed: int, seconds: float) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=15)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        workloads = [w["name"] for w in json.load(f)["workloads"]]
    bad = 0
    for w in workloads:
        first, second = (run_once(w, args.seed, args.seconds) for _ in range(2))
        for r in (first, second):
            if not r["correct"]:
                print(f"{w}: run failed {r['failed']} of {r['attempted']}")
                bad += 1
        for name in EXACT:
            a = first["metrics"][name]["value"]
            b = second["metrics"][name]["value"]
            same = a == b
            bad += not same
            print(f"{w:14s} {name:34s} {a:14.6g} {b:14.6g}  {'same' if same else 'DIFFERS'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
