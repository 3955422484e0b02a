#!/usr/bin/env python3
"""Alternating A/B benchmark runs of a base revision against this checkout.

    python3 tools/perfab.py --base REV --workload W --pairs N \
        [--first-seed 1] [--seconds S] [--trace] --workdir DIR

Exports the committed files of REV into a fresh directory under DIR
(`git archive`, the committed tree only, so no build state of this checkout
comes along; a copied sbt/zinc `target/` can write into the tree it was
copied from) and reuses it on later calls for the same revision. Then it runs
`perfbench/run.py` once per seed on each side, alternating which side goes
first in each pair so drift over the session falls on both. Pair i uses
seed first-seed + i on both sides.

Both sides are written in `perfbench/steady.py run` format to
DIR/perfab-<workload>-base.json and DIR/perfab-<workload>-head.json
(perfab-<workload>-traced-*.json with --trace). The tool
prints each end-to-end metric per pair, then per metric: the pairs in which
this checkout is better, both medians and the base's quartiles, whether
the median gain exceeds the base's interquartile range, and a verdict against
the metric's bound in BENCHMARK.json (see `verdict`). It finishes with
`steady.py compare` of the two files (the benchmark's regression bounds) and
exits with its status, or 1 when a run fails or reports `correct: false`.

With --trace the runs are traced (`run.py --trace 1`), which report per-layer
metrics instead of the end-to-end ones. Each run's `correct`,
`trace.accounted_pct`, `api.analyze_ms_p50`, `api.report_ms_p50` and
`api.spark_jobs_per_call` are printed, and the exit status is 1 when a run is incorrect or its accounted share lies outside the
accepted range (`ACCOUNTED_RANGE` of tools/layers.py).
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

from layers import ACCOUNTED_RANGE

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SAMPLES = "[perfbench] samples "
TRACED = ("trace.accounted_pct", "api.analyze_ms_p50", "api.report_ms_p50",
          "api.spark_jobs_per_call")


def git(*args):
    return subprocess.run(["git", *args], cwd=ROOT, check=True, stdout=subprocess.PIPE,
                          text=True).stdout.strip()


def base_tree(rev, workdir):
    """A directory holding REV's committed files, exported once per revision."""
    sha = git("rev-parse", "--verify", rev + "^{commit}")
    tree = workdir / f"base-{sha[:12]}"
    done = tree / ".perfab-exported"
    if not done.is_file():
        subprocess.run(["rm", "-rf", str(tree)], check=True)
        tree.mkdir(parents=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", str(tree)], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {sha} failed")
        done.write_text(sha + "\n")
    return sha, tree


def run_once(tree, workload, seed, seconds, trace):
    """One run.py result in steady.py's run format, or None if it failed."""
    out = subprocess.run(
        [sys.executable, str(tree / "perfbench" / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))],
        stdout=subprocess.PIPE, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        return None
    r = json.loads(lines[-1])
    r["seed"] = seed
    r["samples"] = {}
    for line in lines:
        if line.startswith(SAMPLES):
            name, *xs = line[len(SAMPLES):].split()
            r["samples"][name] = [float(x) for x in xs]
    return r


def traced_value(run, name):
    return run["metrics"].get(name, {}).get("value")


def traced_ok(side, seed, run):
    """Print a traced run's checked fields; whether it is correct and its
    accounted share lies in the accepted range."""
    lo, hi = ACCOUNTED_RANGE
    acc = traced_value(run, "trace.accounted_pct")
    problems = ([] if run["correct"] is True else ["correct is not true"]) + (
        [] if acc is not None and lo <= acc <= hi else [f"accounted outside {lo:g}-{hi:g} %"])
    print(f"  {side} seed {seed}: correct {run['correct']} " + " ".join(
        f"{name} {traced_value(run, name):.4g}" if traced_value(run, name) is not None
        else f"{name} -" for name in TRACED) +
        ("" if not problems else " FAIL: " + "; ".join(problems)), flush=True)
    return not problems


def quartiles(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return med, q1, q3


def verdict(base, head, bound, lower):
    """'unresolved' when the base's own spread, (q3 - q1) / median, exceeds
    the bound and not every head run beats every base run: a median shift
    inside that spread shows nothing. Otherwise 'worse beyond bound' when the
    head's median is worse than the base's by more than the bound (relative
    to the base's median, as `steady.py compare` reads it), else 'within
    bound'."""
    bm, bq1, bq3 = quartiles(base)
    hm = statistics.median(head)
    all_better = max(head) < min(base) if lower else min(head) > max(base)
    if (bq3 - bq1) / bm > bound and not all_better:
        return "unresolved"
    worse = (hm - bm) / bm if lower else (bm - hm) / bm
    return "worse beyond bound" if worse > bound else "within bound"


def summary(base_runs, head_runs):
    for spec in SPEC["end_to_end"]:
        name, lower = spec["name"], spec["better"] == "lower"
        b = [r["metrics"][name]["value"] for r in base_runs]
        h = [r["metrics"][name]["value"] for r in head_runs]
        wins = sum((y < x) if lower else (y > x) for x, y in zip(b, h))
        bm, bq1, bq3 = quartiles(b)
        hm = statistics.median(h)
        gain = (bm - hm) if lower else (hm - bm)
        print(f"{name:16s} head better in {wins}/{len(b)} pairs; median {bm:.4g} -> {hm:.4g} "
              f"{spec['unit']} ({100 * (hm - bm) / bm:+.1f} %); base q1-q3 {bq1:.4g}-{bq3:.4g}; "
              f"gain beyond base IQR: {'yes' if gain > bq3 - bq1 else 'no'}; "
              f"{verdict(b, h, spec['bound'], lower)} (bound {spec['bound']:g})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    ap.add_argument("--trace", action="store_true",
                    help="traced runs: check correctness and the accounted share per run")
    ap.add_argument("--workdir", required=True,
                    help="directory for the base tree and the two result files")
    a = ap.parse_args()

    workdir = Path(a.workdir).resolve()
    sha, tree = base_tree(a.base, workdir)
    sides = {"base": (tree, []), "head": (ROOT, [])}
    print(f"base {sha[:12]} in {tree}; head is the checkout at {ROOT}", flush=True)
    bad = 0
    for i in range(a.pairs):
        seed = a.first_seed + i
        order = ["base", "head"] if i % 2 == 0 else ["head", "base"]
        for side in order:
            r = run_once(sides[side][0], a.workload, seed, a.seconds, a.trace)
            if r is None:
                print(f"pair {i} seed {seed} {side}: run failed")
                return 1
            bad += not (traced_ok(side, seed, r) if a.trace else r["correct"])
            sides[side][1].append(r)
        if a.trace:
            continue
        print(f"pair {i} seed {seed} ({' then '.join(order)}): " + " ".join(
            f"{m['name']} {sides['base'][1][-1]['metrics'][m['name']]['value']:.4g}"
            f"->{sides['head'][1][-1]['metrics'][m['name']]['value']:.4g}"
            for m in SPEC["end_to_end"]) +
            f" correct {sides['base'][1][-1]['correct']}/{sides['head'][1][-1]['correct']}",
            flush=True)
    files = {}
    for side, (_, runs) in sides.items():
        files[side] = workdir / f"perfab-{a.workload}{'-traced' if a.trace else ''}-{side}.json"
        files[side].write_text(json.dumps({"workload": a.workload, "runs": runs}, indent=1))
    if a.trace:
        if bad:
            print(f"{bad} traced runs failed a check")
        return 1 if bad else 0
    summary(sides["base"][1], sides["head"][1])
    if bad:
        print(f"{bad} runs reported correct: false")
    cmp = subprocess.run([sys.executable, str(ROOT / "perfbench" / "steady.py"), "compare",
                          str(files["base"]), str(files["head"])])
    return 1 if bad else cmp.returncode


if __name__ == "__main__":
    sys.exit(main())
