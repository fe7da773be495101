#!/usr/bin/env python3
"""Compare two sets of labelled benchmark records.

    python3 perfbench/compare.py BEFORE.jsonl AFTER.jsonl

Each file holds records as ``run.py`` appends them to
``.bench_work/results.jsonl``. Records are grouped by workload and trace
mode; per metric the median and quartiles of each side are printed with
the after/before ratio of medians. A group whose two sides ran on
different core counts is not compared.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict


def load(path: str) -> dict:
    groups = defaultdict(list)
    with open(path) as f:
        for line in f:
            if line.strip():
                rec = json.loads(line)
                groups[(rec["workload"], rec["trace"])].append(rec)
    return groups


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main(before_path: str, after_path: str) -> int:
    before, after = load(before_path), load(after_path)
    status = 0
    for key in sorted(set(before) & set(after)):
        b, a = before[key], after[key]
        cpus = {r["cpus"] for r in b} | {r["cpus"] for r in a}
        print(f"== {key[0]} (trace {key[1]}): {len(b)} before, {len(a)} after runs")
        if len(cpus) > 1:
            print(f"   not compared: runs on different core counts {sorted(cpus)}")
            status = 1
            continue
        for m in b[0]["metrics"]:
            qb = quartiles([r["metrics"][m] for r in b])
            qa = quartiles([r["metrics"][m] for r in a if m in r["metrics"]])
            ratio = qa[1] / qb[1] if qb[1] else float("nan")
            print(f"   {m:34s} before {qb[1]:10.4g} [{qb[0]:.4g}, {qb[2]:.4g}]"
                  f"  after {qa[1]:10.4g} [{qa[0]:.4g}, {qa[2]:.4g}]  x{ratio:.3f}")
    return status


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
