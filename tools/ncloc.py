#!/usr/bin/env python3
"""Non-comment line counts of Scala sources, optionally against a git revision.

    tools/ncloc.py [--base REV] PATH...

For every .scala file under the PATHs (files or directories) it prints the
lines that hold code once `//` and (nested) `/* */` comments are stripped and
blank lines dropped. Comment markers inside "..." and \"\"\"...\"\"\" literals
are code, not comments. The current column reads the working tree (HEAD once
the change is committed); with --base it adds the count at REV, read through
`git show`, and the delta per file and in total. Run it from inside the repo.
"""
import argparse
import os
import subprocess
import sys


def ncloc(src):
    """Lines of `src` that keep a non-blank character outside comments."""
    count = 0
    depth = 0          # nesting depth of /* */ (Scala block comments nest)
    in_triple = False  # inside a """...""" literal (may span lines)
    for line in src.splitlines():
        code = False
        i, n = 0, len(line)
        in_str = False
        while i < n:
            c = line[i]
            two = line[i:i + 2]
            if depth:
                if two == "/*":
                    depth += 1
                    i += 2
                elif two == "*/":
                    depth -= 1
                    i += 2
                else:
                    i += 1
            elif in_triple:
                code = True
                if line.startswith('"""', i):
                    # a run of more than three quotes closes on its last three
                    while line.startswith('""""', i):
                        i += 1
                    in_triple = False
                    i += 3
                else:
                    i += 1
            elif in_str:
                code = True
                if c == "\\":
                    i += 2
                elif c == '"':
                    in_str = False
                    i += 1
                else:
                    i += 1
            elif two == "//":
                break
            elif two == "/*":
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                code = True
                in_triple = True
                i += 3
            elif c == '"':
                code = True
                in_str = True
                i += 1
            elif c == "'" and i + 2 < n and line[i + 2] == "'":
                code = True  # a one-char literal such as '"'
                i += 3
            elif c == "'" and line.startswith("'\\", i):
                code = True  # an escaped char literal such as '\''
                end = line.find("'", i + 3)
                i = n if end < 0 else end + 1
            else:
                if not c.isspace():
                    code = True
                i += 1
        if code or in_triple:
            count += 1
    return count


def scala_files_now(paths):
    out = set()
    for p in paths:
        if os.path.isfile(p):
            if p.endswith(".scala"):
                out.add(os.path.normpath(p))
        else:
            for root, _, files in os.walk(p):
                out.update(os.path.normpath(os.path.join(root, f))
                           for f in files if f.endswith(".scala"))
    return out


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True,
                          text=True).stdout


def scala_files_at(rev, paths):
    listed = git("ls-tree", "-r", "--name-only", "--full-name", rev, "--", *paths)
    top = git("rev-parse", "--show-toplevel").strip()
    here = os.path.relpath(os.getcwd(), top)
    return {os.path.normpath(os.path.relpath(f, here))
            for f in listed.splitlines() if f.endswith(".scala")}


def count_at(rev, path):
    return ncloc(git("show", f"{rev}:./{path}"))


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", metavar="REV",
                    help="git revision to compare against")
    ap.add_argument("paths", nargs="+", metavar="PATH")
    a = ap.parse_args(argv)
    now = scala_files_now(a.paths)
    then = scala_files_at(a.base, a.paths) if a.base else set()
    rows = []
    for f in sorted(now | then):
        cur = ncloc(open(f, encoding="utf-8").read()) if f in now else 0
        base = count_at(a.base, f) if f in then else 0
        rows.append((f, base, cur))
    width = max([len(f) for f, _, _ in rows] + [5])
    tb = sum(r[1] for r in rows)
    tc = sum(r[2] for r in rows)
    if a.base:
        print(f"{'file':<{width}} {'base':>6} {'now':>6} {'delta':>6}")
        for f, b, c in rows:
            print(f"{f:<{width}} {b:>6} {c:>6} {c - b:>+6}")
        print(f"{'total':<{width}} {tb:>6} {tc:>6} {tc - tb:>+6}")
    else:
        print(f"{'file':<{width}} {'now':>6}")
        for f, _, c in rows:
            print(f"{f:<{width}} {c:>6}")
        print(f"{'total':<{width}} {tc:>6}")


if __name__ == "__main__":
    main(sys.argv[1:])
