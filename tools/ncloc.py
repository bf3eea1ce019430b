#!/usr/bin/env python3
"""Non-comment line counts for the Scala sources, one total per directory
(or file).

A line counts unless it is blank, starts with `//`, or lies inside a
`/* ... */` block that starts at the beginning of a line (scaladoc
included). Code followed by a trailing comment counts.

Usage: python3 tools/ncloc.py [dir-or-file ...]
       (default: src/main perfbench/src, relative to the repo root)
"""
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def ncloc(path):
    n, in_block = 0, False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if in_block:
                in_block = "*/" not in s
            elif s.startswith("/*"):
                in_block = "*/" not in s[2:]
            elif s and not s.startswith("//"):
                n += 1
    return n


def main(dirs):
    for d in dirs or ["src/main", "perfbench/src"]:
        top = d if os.path.isabs(d) else os.path.join(ROOT, d)
        files = [top] if os.path.isfile(top) else [
            os.path.join(base, name) for base, _, names in os.walk(top)
            for name in names if name.endswith(".scala")]
        total = sum(ncloc(f) for f in files)
        print(f"{total:8d}  {d}")


if __name__ == "__main__":
    main(sys.argv[1:])
