#!/usr/bin/env python3
"""Count non-blank, non-comment lines of Scala source, and find repeats.

    python3 tools/loc.py [PATH ...]          # per file, per dir and total
    python3 tools/loc.py --dups [PATH ...]   # repeated 6-line windows

PATH defaults to src/main; a directory is walked for *.scala files.

A counted line is any line that is not blank, not a `//` line and not
inside a `/* ... */` block that starts its line. Text inside Scala string
literals counts like code (the catalog's DuckDB oracle SQL is code).

`--dups` slides a window of 6 counted lines (stripped of indentation)
over every file and groups identical windows. It prints each repeated
window with its sites (file:line of the window's first line), then, per
file, the number of lines that lie in some repeated window but not at its
first site: the lines a fold into one named fragment could remove.
"""
import argparse
import collections
import os
import sys

WINDOW = 6


def scala_files(paths):
    for p in paths:
        if os.path.isfile(p):
            yield p
            continue
        for root, dirs, files in os.walk(p):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".scala"):
                    yield os.path.join(root, f)


def counted_lines(path):
    """(line number, stripped text) of each counted line of `path`."""
    out = []
    in_block = False
    with open(path, encoding="utf-8") as fh:
        for no, raw in enumerate(fh, 1):
            s = raw.strip()
            if in_block:
                if "*/" in s:
                    in_block = False
                continue
            if not s or s.startswith("//"):
                continue
            if s.startswith("/*"):
                in_block = "*/" not in s[2:]
                continue
            out.append((no, s))
    return out


def count(paths):
    per_dir = collections.Counter()
    total = 0
    for f in scala_files(paths):
        n = len(counted_lines(f))
        print(f"{n:7d}  {f}")
        per_dir[os.path.dirname(f)] += n
        total += n
    if len(per_dir) > 1:
        for d in sorted(per_dir):
            print(f"{per_dir[d]:7d}  {d}/")
    print(f"{total:7d}  total")


def dups(paths):
    lines = {f: counted_lines(f) for f in scala_files(paths)}
    sites = collections.defaultdict(list)
    for f, ls in lines.items():
        for i in range(len(ls) - WINDOW + 1):
            key = tuple(s for _, s in ls[i:i + WINDOW])
            sites[key].append((f, i))
    repeated = {k: v for k, v in sites.items() if len(v) > 1}
    # a line is a repeat if it lies in a repeated window at any site but the first
    extra = collections.defaultdict(set)
    for v in repeated.values():
        for f, i in v[1:]:
            extra[f].update(range(i, i + WINDOW))
    for key, v in sorted(repeated.items(), key=lambda kv: (-len(kv[1]), kv[1][0])):
        where = ", ".join(f"{f}:{lines[f][i][0]}" for f, i in v)
        print(f"x{len(v)}  {where}")
        for s in key:
            print(f"      {s}")
    print()
    total = 0
    for f in sorted(extra, key=lambda f: -len(extra[f])):
        print(f"{len(extra[f]):7d}  {f}")
        total += len(extra[f])
    print(f"{total:7d}  repeated lines (not at a window's first site)")


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--dups", action="store_true", help="list repeated 6-line windows")
    ap.add_argument("paths", nargs="*", default=["src/main"])
    a = ap.parse_args(argv)
    (dups if a.dups else count)(a.paths)


if __name__ == "__main__":
    main(sys.argv[1:])
