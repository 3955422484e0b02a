#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with sbt on first use (the
benchmark is its own sbt build in this directory and depends on the root
project), then runs the workload in a fresh JVM. The last line of standard
output is one JSON object: correct, attempted, failed and the metrics.
Workloads: live-stream, replay-b1000 (see BENCHMARK.json).
"""
import argparse
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
CLASSPATH = TARGET / "perfbench-classpath.txt"

# Spark 4 on JDK 17 outside spark-submit needs these (the root build passes
# the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Every file whose change requires a rebuild."""
    roots = [ROOT / "src" / "main", ROOT / "project", HERE / "src", HERE / "project"]
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for r in roots:
        if r.is_dir():
            files += [p for p in r.rglob("*") if p.is_file() and "target" not in p.parts]
    return files


def classpath():
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources next to the benchmark (expected {ROOT}/build.sbt and src/main/scala)")
    if CLASSPATH.is_file():
        stamp = CLASSPATH.stat().st_mtime
        if all(p.stat().st_mtime <= stamp for p in build_inputs()):
            return CLASSPATH.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=880)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    TARGET.mkdir(parents=True, exist_ok=True)
    CLASSPATH.write_text(lines[-1].strip())
    print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)
    return lines[-1].strip()


def remove_stale_work():
    """Delete work directories left by runs that were killed (their process is gone)."""
    for d in (TARGET / "work").glob("*-*"):
        try:
            os.kill(int(d.name.rsplit("-", 1)[1]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    cp = classpath()
    remove_stale_work()
    work = TARGET / "work" / f"{a.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    logs = TARGET / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work)]
    log = logs / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    with open(log, "w") as err:
        try:
            out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True,
                                 timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}")
        finally:
            traces = list(work.glob("trace-*.jsonl"))
            for t in traces:
                shutil.copy(t, logs / f"{t.stem}-seed{a.seed}.jsonl")
            shutil.rmtree(work, ignore_errors=True)
    lines = out.stdout.splitlines()
    result = [l for l in lines if l.startswith("{")]
    for l in lines:
        if l.startswith("[perfbench]"):
            print(l)
    if out.returncode != 0 or not result:
        fail(f"run failed (exit {out.returncode}); see {log}")
    print(result[-1])


if __name__ == "__main__":
    main()
