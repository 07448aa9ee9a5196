#!/usr/bin/env python3
"""Compare two sets of benchmark records (files written by run.py --out).

    python3 perfbench/compare.py base1.json base2.json ... -- new1.json new2.json ...

Prints, per workload and metric, each side's median and quartiles and the
change of the medians. Refuses to compare records whose stamps differ in
core count, Spark master or heap.
"""
import json
import statistics
import sys


def load(paths):
    recs = []
    for p in paths:
        with open(p) as f:
            recs.append(json.load(f))
    return recs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def main(argv):
    if "--" not in argv:
        sys.exit(__doc__)
    cut = argv.index("--")
    base, new = load(argv[:cut]), load(argv[cut + 1:])
    if not base or not new:
        sys.exit(__doc__)
    machine = {(r["stamp"]["nproc"], r["stamp"]["master"], r["stamp"]["heap"])
               for r in base + new}
    if len(machine) != 1:
        sys.exit(f"refusing to compare: records come from different set-ups {sorted(machine)}")
    rows = {}
    for side, recs in (("base", base), ("new", new)):
        for r in recs:
            for name, m in r["metrics"].items():
                key = (r["stamp"]["workload"], r["stamp"]["trace"], name, m["unit"])
                rows.setdefault(key, {"base": [], "new": []})[side].append(m["value"])
    for (wl, trace, name, unit), v in sorted(rows.items()):
        if not v["base"] or not v["new"]:
            continue
        b, n = quartiles(v["base"]), quartiles(v["new"])
        change = (n[1] - b[1]) / b[1] if b[1] else float("nan")
        print(f"{wl:7s} t{trace} {name:28s} {unit:8s} base {b[1]:.4g} [{b[0]:.4g}, {b[2]:.4g}]"
              f"  new {n[1]:.4g} [{n[0]:.4g}, {n[2]:.4g}]  {change:+.1%}")


if __name__ == "__main__":
    main(sys.argv[1:])
