"""Compare two sets of benchmark result records, metric by metric.

    python3 perfbench/compare.py --a 'perfbench/out/results/*trace0*' \\
                                 --b 'perfbench/out/results/*trace1*'

Each record is one run written by ``run.py`` under ``perfbench/out/results``.
For every workload and end-to-end metric this prints each side's median and
quartiles, the change of B's median against A's, and whether that change is
within the metric's bound in ``BENCHMARK.json``. Comparing traced (B) with
untraced (A) records of the same code gives the tracing overhead.

Records are compared only when every one of them comes from the same host
shape (cpus, memory); otherwise the comparison is refused with exit code 2.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(pattern: str) -> list[dict]:
    records = []
    for path in sorted(glob.glob(pattern)):
        with open(path) as f:
            records.append(json.load(f))
    return records


def shape(record: dict) -> tuple:
    return record["host"]["cpus"], record["host"]["mem_gib"]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--a", required=True, help="glob of the baseline records")
    ap.add_argument("--b", required=True, help="glob of the compared records")
    args = ap.parse_args(argv)
    a, b = load(args.a), load(args.b)
    if not a or not b:
        print("no records matched", file=sys.stderr)
        return 2
    shapes = {shape(r) for r in a + b}
    if len(shapes) > 1:
        print(f"refusing to compare results across host shapes "
              f"(cpus, mem_gib): {sorted(shapes)}", file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    print(f"host shape cpus={shapes.pop()[0]}; A {len(a)} records, B {len(b)}")
    for wl in sorted({r["workload"] for r in a} & {r["workload"] for r in b}):
        for m in bench["end_to_end"]:
            va = [r["end_to_end"][m["name"]] for r in a if r["workload"] == wl]
            vb = [r["end_to_end"][m["name"]] for r in b if r["workload"] == wl]
            qa, qb = quartiles(va), quartiles(vb)
            change = qb[1] / qa[1] - 1
            worse = change if m["better"] == "lower" else -change
            verdict = "within bound" if worse <= m["bound"] else "WORSE than bound"
            print(f"{wl:14s} {m['name']:16s} A {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]"
                  f"  B {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]  {change:+.1%} "
                  f"({m['better']} is better, bound {m['bound']:.0%}): {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
