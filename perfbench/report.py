#!/usr/bin/env python3
"""Per-layer table from traced runs, with the tracing overhead.

Usage (from the root of a checkout, after traced and untraced runs):

    python3 perfbench/report.py [--seed N]

For each workload it takes the traced record (``--trace 1``) and the
untraced one (``--trace 0``) of one seed from
``.bench_build/perfbench/results``, prints every per-layer metric, and
reports the tracing overhead as traced minus untraced ``cold_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import PER_LAYER, WORKLOADS  # noqa: E402


def load(results: str, workload: str, seed: int, trace: int):
    path = os.path.join(results, f"{workload}-seed{seed}-trace{trace}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    results = os.path.join(os.getcwd(), ".bench_build", "perfbench",
                           "results")
    rows, overhead = {}, {}
    for w in WORKLOADS:
        traced = load(results, w, a.seed, 1)
        plain = load(results, w, a.seed, 0)
        if traced is None:
            continue
        rows[w] = {n: m["value"] for n, m in traced["layers"].items()}
        if plain is not None:
            cold = traced["metrics"]["cold_s"] - plain["metrics"]["cold_s"]
            overhead[w] = {"cold_s": cold,
                           "cold_share": cold / plain["metrics"]["cold_s"]}
    if not rows:
        print("no traced results; run perfbench/run.py with --trace 1",
              file=sys.stderr)
        return 1
    names = list(rows)
    print(f"{'metric':28s} {'unit':6s} " + " ".join(f"{w:>21s}"
                                                    for w in names))
    for metric, unit in PER_LAYER.items():
        print(f"{metric:28s} {unit:6s} " + " ".join(
            f"{rows[w].get(metric, 0.0):21.4f}" for w in names))
    for w, o in overhead.items():
        print(f"tracing overhead {w}: cold {o['cold_s']:+.3f} s "
              f"({o['cold_share']:+.1%})")
    print(json.dumps({"layers": rows, "overhead": overhead}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
