#!/usr/bin/env python3
"""Per-key Spark profile of a Bench run.

Reads the `bench.partial.jsonl` that `graft.Bench` writes (one row per
measurement) and prints one line per timed key row: its own seconds, its
wall seconds, the Spark jobs, stages and tasks it ran, the summed task time
and the critical time (the time it would take with unlimited cores), and two
ratios:

    parallel efficiency = task_ms / (wall * 1000 * cores)
    serial share        = critical_ms / (wall * 1000)

critical_ms is the paper's critical time of the key's interval, folded as
one micro-batch: the time outside jobs, plus for each island of overlapping
jobs its longest per-job critical time (the longest-task chain through the
job's stages). So the serial share is the share of wall that unlimited
executors cannot remove (driver time plus longest-task chains), and it is at
most 1. A low efficiency with a high serial share is a key bound by driver
work or by its longest tasks; a low serial share is a key that more cores
would speed up.

A key's Spark fields cover its whole interval, including the shared builds
it forced. Bench reports those builds as `frame:<tag>` rows just before the
key's row and subtracts them from its `sec`, so `wall` adds them back and
the ratios divide by it; for a key that forced no build, wall = sec. Frame
rows carry no fields and are not listed. A failed key (sec -1) gets no
ratios. The exit status is 1 when a timed key row lacks any of the fields,
or when a key's critical_ms exceeds its wall by more than 1 ms of rounding.

Usage:
    python3 tools/profile.py bench.partial.jsonl --cores 4
"""
import argparse
import json
import sys

FIELDS = ("jobs", "stages", "tasks", "task_ms", "critical_ms")


def ratio(num, den):
    return "-" if den <= 0 else f"{num / den:.3f}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("partial", help="bench.partial.jsonl of a Bench run")
    ap.add_argument("--cores", type=int, required=True,
                    help="cores of the run (SPARK_GRAFT_CPUS)")
    args = ap.parse_args()
    with open(args.partial) as f:
        rows = [json.loads(l) for l in f if l.strip()]
    print("\t".join(("pass", "key", "sec", "wall") + FIELDS + ("par_eff", "serial")))
    missing = []
    over = []
    frames = 0.0  # frame rows since the previous key row: builds it forced
    for r in rows:
        if r["key"].startswith("frame:"):
            frames += r["sec"]
            continue
        wall = r["sec"] + frames if r["sec"] >= 0 else -1.0
        frames = 0.0
        if any(k not in r for k in FIELDS):
            missing.append(f'{r["pass"]}/{r["key"]}')
            continue
        ms = wall * 1000
        if wall >= 0 and r["critical_ms"] > ms + 1:
            over.append(f'{r["pass"]}/{r["key"]} ({r["critical_ms"]} ms > {ms:.1f} ms)')
        print("\t".join([r["pass"], r["key"], f'{r["sec"]:.4f}', f"{wall:.4f}"]
                        + [str(r[k]) for k in FIELDS]
                        + [ratio(r["task_ms"], ms * args.cores),
                           ratio(r["critical_ms"], ms)]))
    if missing:
        print(f"{len(missing)} timed key rows lack the profile fields: "
              + ", ".join(missing), file=sys.stderr)
    if over:
        print(f"{len(over)} timed key rows read more critical time than wall: "
              + ", ".join(over), file=sys.stderr)
    if missing or over:
        sys.exit(1)


if __name__ == "__main__":
    main()
