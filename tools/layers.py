#!/usr/bin/env python3
"""Side-by-side per-layer metrics of two traced benchmark runs.

Reads the result JSON line (the last line starting with "{") that
`perfbench/run.py --trace 1` prints, for a parent run and a change run of the
same workload, and prints every metric of either run with both values and
their ratio (change / parent), so a change can show where its time went.

Usage:
    python3 perfbench/run.py --workload replay-b1000 --seed 1 --seconds 12 --trace 1 > parent.json
    # ... apply the change, run again into change.json ...
    python3 tools/layers.py parent.json change.json
"""
import json
import sys


def result(path):
    with open(path) as f:
        lines = [l for l in f.read().splitlines() if l.startswith("{")]
    if not lines:
        sys.exit(f"{path}: no result JSON line")
    return json.loads(lines[-1])


def fmt(v):
    return "-" if v is None else f"{v:.6g}"


def ratio(parent, change):
    if parent is None or change is None:
        return "-"
    if parent == 0:
        return "=" if change == 0 else "new"
    return f"{change / parent:.3f}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    parent, change = result(sys.argv[1]), result(sys.argv[2])
    pm, cm = parent.get("metrics", {}), change.get("metrics", {})
    names = list(pm) + [n for n in cm if n not in pm]
    width = max([len(n) for n in names] + [6])
    for key in ("correct", "attempted", "failed"):
        print(f"{key:{width}s}  {str(parent.get(key)):>12s}  {str(change.get(key)):>12s}")
    print(f"{'metric':{width}s}  {'parent':>12s}  {'change':>12s}  {'ratio':>7s}  unit")
    for n in names:
        p, c = pm.get(n, {}).get("value"), cm.get(n, {}).get("value")
        unit = (pm.get(n) or cm.get(n)).get("unit", "")
        print(f"{n:{width}s}  {fmt(p):>12s}  {fmt(c):>12s}  {ratio(p, c):>7s}  {unit}")


if __name__ == "__main__":
    main()
