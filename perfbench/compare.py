#!/usr/bin/env python3
"""Compare two sets of benchmark results under the BENCHMARK.json bounds.

    python3 perfbench/compare.py PARENT [CHANGE]

PARENT and CHANGE are result directories (or result files) written by
``perfbench/run.py`` (``.perfbench/results/*.json``). For every workload
and end-to-end metric it prints each side's median and quartiles and,
with two sets:

- ``win``: the share of pairs the change wins, pairing the i-th run of
  each side in run order (run the sides alternately); ties count for
  neither side;
- a verdict: ``regressed`` when the change's median is worse than the
  parent's by more than the metric's bound; ``unresolved`` when the
  parent's own spread (quartile distance over median) exceeds the bound,
  unless every change run beats every parent run; ``ok`` otherwise. An
  ``ok`` that also wins at least nine tenths of the pairs by more than
  the parent's quartile distance is marked ``ok+gain``.

With one set it prints each metric's spread against its bound, which is
how the benchmark's steadiness is checked. Traced runs (``--trace 1``)
are listed the same way, without verdicts. Exits 1 if any metric
regressed.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> dict[tuple[str, int], list[dict]]:
    """(workload, trace) -> result records in run order."""
    files = (
        sorted(glob.glob(os.path.join(path, "*.json")))
        if os.path.isdir(path)
        else [path]
    )
    runs: dict[tuple[str, int], list[tuple[int, dict]]] = {}
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        info = rec["info"]
        order = int(os.path.basename(f).rsplit("-", 1)[-1].split(".")[0])
        runs.setdefault((info["workload"], info["trace"]), []).append((order, rec))
    return {k: [r for _, r in sorted(v, key=lambda x: x[0])] for k, v in runs.items()}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def values(recs: list[dict], metric: str) -> list[float]:
    return [
        r["result"]["metrics"][metric]["value"]
        for r in recs
        if metric in r["result"]["metrics"]
    ]


def verdict(a: list[float], b: list[float], better: str, bound: float) -> tuple[str, float]:
    sign = 1.0 if better == "lower" else -1.0
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (y - x) < 0)
    win = wins / len(pairs) if pairs else 0.0
    a_q1, a_med, a_q3 = quartiles(a)
    b_med = statistics.median(b)
    worse = sign * (b_med - a_med) / abs(a_med) if a_med else 0.0
    spread = (a_q3 - a_q1) / abs(a_med) if a_med else 0.0
    all_better = all(sign * (y - x) < 0 for x in a for y in b)
    if spread > bound and not all_better:
        return "unresolved", win
    if worse > bound:
        return "regressed", win
    if win >= 0.9 and abs(b_med - a_med) > (a_q3 - a_q1):
        return "ok+gain", win
    return "ok", win


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sets = [load(p) for p in argv]
    regressed = False
    for (workload, trace) in sorted(set(sets[0]) | set(sets[-1])):
        metrics = spec["per_layer"] if trace else spec["end_to_end"]
        recs = [s.get((workload, trace), []) for s in sets]
        print(f"\n{workload} ({'traced' if trace else 'end to end'}; "
              f"runs: {' vs '.join(str(len(r)) for r in recs)})")
        for m in metrics:
            cols = []
            sides = [values(r, m["name"]) for r in recs]
            if not all(sides):
                continue
            for xs in sides:
                q1, med, q3 = quartiles(xs)
                cols.append(f"{med:12.4g} [{q1:.4g}, {q3:.4g}]")
            line = f"  {m['name']:46s} {m['unit']:6s} " + "  ".join(cols)
            if trace:
                print(line)
                continue
            bound = m["bound"]
            if len(sets) == 1:
                q1, med, q3 = quartiles(sides[0])
                spread = (q3 - q1) / abs(med) if med else 0.0
                line += f"  spread {spread:.3f} of bound {bound}"
                if m["name"] != "setup_s":
                    line += "  ok" if spread <= bound else "  TOO WIDE"
            else:
                v, win = verdict(sides[0], sides[1], m["better"], bound)
                regressed |= v == "regressed"
                line += f"  win {win:.2f}  {v}"
            print(line)
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
