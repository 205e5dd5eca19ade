#!/usr/bin/env python3
"""Count code lines in Scala sources.

A line counts when its trimmed text is non-empty and does not start with
`//`, `/*` or `*` (so blank lines and comment/scaladoc lines are left
out). Prints one `<count> <path>` line per file, sorted by path, then the
total.

Usage: python3 tools/loc.py [path ...]   (default: src/main/scala)
"""
import os
import sys


def count(path):
    n = 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            t = line.strip()
            if t and not t.startswith(("//", "/*", "*")):
                n += 1
    return n


def scala_files(root):
    if os.path.isfile(root):
        yield root
        return
    for d, _, names in os.walk(root):
        for name in names:
            if name.endswith(".scala"):
                yield os.path.join(d, name)


def main(argv):
    roots = argv[1:] or ["src/main/scala"]
    files = sorted({p for r in roots for p in scala_files(r)})
    total = 0
    for p in files:
        n = count(p)
        total += n
        print(f"{n:6d} {p}")
    print(f"{total:,} total")


if __name__ == "__main__":
    main(sys.argv)
