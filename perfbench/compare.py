#!/usr/bin/env python3
"""Compare two sets of benchmark results side by side.

    python3 perfbench/compare.py BASE_DIR NEW_DIR [--layer]

Each directory holds result files written by run.py
(perfbench/out/results/<workload>-seed<n>-trace<t>.json; copy them aside
between the two sets). For every (workload, metric) it prints the first
quartile, median and third quartile of each set, the change of the median,
and each set's spread (quartile distance over median). End-to-end metrics
come from untraced runs; --layer compares per-layer metrics of traced runs.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(directory, traced):
    """{workload: {metric: (unit, [values])}} from one result directory."""
    out = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            doc = json.load(f)
        if doc.get("env", {}).get("trace", False) != traced:
            continue
        metrics = doc["per_layer" if traced else "end_to_end"]
        per = out.setdefault(doc["workload"], {})
        for name, m in metrics.items():
            per.setdefault(name, (m["unit"], []))[1].append(m["value"])
    return out


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def fmt(x):
    return f"{x:.4g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--layer", action="store_true", help="compare per-layer metrics of traced runs")
    a = ap.parse_args()
    base, new = load(a.base, a.layer), load(a.new, a.layer)
    if not base or not new:
        print("no matching result files in one of the directories", file=sys.stderr)
        return 1
    head = ["workload", "metric", "unit", "n", "base q1 / med / q3", "n", "new q1 / med / q3",
            "med change", "base spread", "new spread"]
    rows = []
    for w in sorted(set(base) | set(new)):
        for m in sorted(set(base.get(w, {})) | set(new.get(w, {}))):
            unit, bv = base.get(w, {}).get(m, ("", []))
            unit, nv = new.get(w, {}).get(m, (unit, []))
            cells = [w, m, unit]
            meds = []
            spreads = []
            for xs in (bv, nv):
                if xs:
                    q1, med, q3 = quartiles(xs)
                    cells += [str(len(xs)), f"{fmt(q1)} / {fmt(med)} / {fmt(q3)}"]
                    meds.append(med)
                    spreads.append(f"{(q3 - q1) / med:.1%}" if med else "-")
                else:
                    cells += ["0", "-"]
                    meds.append(None)
                    spreads.append("-")
            b, n = meds
            cells.append(f"{(n - b) / b:+.1%}" if b and n is not None else "-")
            rows.append(cells + spreads)
    widths = [max(len(r[i]) for r in rows + [head]) for i in range(len(head))]
    for r in [head] + rows:
        print("  ".join(c.ljust(wd) for c, wd in zip(r, widths)).rstrip())
    return 0


if __name__ == "__main__":
    sys.exit(main())
