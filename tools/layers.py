#!/usr/bin/env python3
"""Side-by-side per-layer metrics of two traced benchmark runs.

Reads the result JSON line (the last line starting with "{") that
`perfbench/run.py --trace 1` prints, for a parent run and a change run of the
same workload, and prints every metric of either run with both values and
their ratio (change / parent), so a change can show where its time went.

It then checks each run as the benchmark does: the run must report
`correct: true`, and its `trace.accounted_pct` must lie in the accepted
range (`Layers.AccountedRange` in perfbench, 50-200 %), or the traced run
fails. The exit status is 1 when either run fails a check.

Usage:
    python3 perfbench/run.py --workload replay-b1000 --seed 1 --seconds 12 --trace 1 > parent.json
    # ... apply the change, run again into change.json ...
    python3 tools/layers.py parent.json change.json
"""
import json
import sys

# perfbench/src/main/scala/perfbench/Layers.scala: AccountedRange
ACCOUNTED_RANGE = (50.0, 200.0)


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
    lo, hi = ACCOUNTED_RANGE
    ok = True
    for label, run in (("parent", parent), ("change", change)):
        acc = run.get("metrics", {}).get("trace.accounted_pct", {}).get("value")
        problems = []
        if run.get("correct") is not True:
            problems.append("correct is not true")
        if acc is None or not lo <= acc <= hi:
            problems.append("accounted outside the accepted range")
        ok = ok and not problems
        print(f"{label}: trace.accounted_pct {fmt(acc)} % (accepted {lo:g}-{hi:g} %)"
              + (": FAIL, " + "; ".join(problems) if problems else ": ok"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
