#!/usr/bin/env python3
"""Repeat benchmark runs and judge their steadiness against BENCHMARK.json.

    python3 perfbench/steady.py run --workload <name> --runs 10 [--first-seed 1] \
        [--seconds <s>] [--trace 0|1] [--out runs.json]
    python3 perfbench/steady.py compare <before.json> <after.json>

`run` calls perfbench/run.py once per seed and prints, per metric, the
median, the first and third quartile (statistics.quantiles, n=4) and the
spread (q3 - q1) / median, marked against the metric's bound, and the tail
of each timed operation over the samples of all runs pooled: the highest
percentile with at least ten samples above it (one run times too few calls
to have one). `compare`
reads two such files (same workload) and reports, per metric, how much the
second median is worse than the first as a share of the first, against the
same bound. Exit status 1 if any bound is exceeded.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
SAMPLES = "[perfbench] samples "


def metric_specs(trace):
    return {m["name"]: m for m in SPEC["per_layer" if trace else "end_to_end"]}


def summarize(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    spread = (q3 - q1) / med if med else float("inf")
    return med, q1, q3, spread


def cmd_run(a):
    seconds = a.seconds or SPEC["run_seconds"]
    runs = []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        out = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", a.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", a.trace],
            stdout=subprocess.PIPE, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: run failed (exit {out.returncode})")
            return 1
        r = json.loads(lines[-1])
        r["seed"] = seed
        r["samples"] = {}
        for line in lines:
            if line.startswith(SAMPLES):
                name, *xs = line[len(SAMPLES):].split()
                r["samples"][name] = [float(x) for x in xs]
        runs.append(r)
        print(f"seed {seed}: correct={r['correct']} failed={r['failed']}/{r['attempted']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()
                       if k in metric_specs(a.trace == "1")), flush=True)
    if a.out:
        Path(a.out).write_text(json.dumps({"workload": a.workload, "runs": runs}, indent=1))
    return report(runs, a.trace == "1")


def report(runs, trace):
    bad = 0
    if not all(r["correct"] for r in runs):
        print("some runs failed their output check")
        bad += 1
    for name, spec in metric_specs(trace).items():
        values = [r["metrics"][name]["value"] for r in runs]
        med, q1, q3, spread = summarize(values)
        bound = spec.get("bound")
        mark = ""
        if bound is not None:
            ok = spread <= bound
            mark = f" bound {bound:.3f} {'ok' if ok else 'EXCEEDED'}" + \
                (" (under a third)" if spread < bound / 3 else "")
            bad += not ok
        print(f"{name:32s} median {med:12.4f} q1 {q1:12.4f} q3 {q3:12.4f} "
              f"spread {spread:7.4f}{mark}")
    for name in sorted({k for r in runs for k in r.get("samples", {})}):
        pooled = sorted(x for r in runs for x in r["samples"].get(name, []))
        n = len(pooled)
        if n >= 11:
            k = n - 11  # index with exactly ten samples above it
            print(f"{name} tail p{100 * (k + 1) / n:.1f} of {n} pooled samples: {pooled[k]:.4f}")
        else:
            print(f"{name}: {n} pooled samples, too few for a tail")
    return 1 if bad else 0


def cmd_compare(a):
    before = json.loads(Path(a.before).read_text())
    after = json.loads(Path(a.after).read_text())
    bad = 0
    for name, spec in metric_specs(False).items():
        m0 = statistics.median(r["metrics"][name]["value"] for r in before["runs"])
        m1 = statistics.median(r["metrics"][name]["value"] for r in after["runs"])
        worse = (m1 - m0) / m0 if spec["better"] == "lower" else (m0 - m1) / m0
        ok = worse <= spec["bound"]
        bad += not ok
        print(f"{name:32s} {m0:12.4f} -> {m1:12.4f} worse by {worse:+.4f} "
              f"(bound {spec['bound']:.3f}) {'ok' if ok else 'EXCEEDED'}")
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--seconds", type=float)
    r.add_argument("--trace", choices=["0", "1"], default="0")
    r.add_argument("--out")
    c = sub.add_parser("compare")
    c.add_argument("before")
    c.add_argument("after")
    a = ap.parse_args()
    sys.exit(cmd_run(a) if a.cmd == "run" else cmd_compare(a))


if __name__ == "__main__":
    main()
