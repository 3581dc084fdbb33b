#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines per directory or file.

A line counts when, outside a /* ... */ block, it is neither blank nor a
// line comment. Block comments (scaladoc included) are skipped whole; a
line that closes a block and then carries code counts.

Usage: python3 tools/loc.py [ROOT ...]   (default: src/main/scala)

A ROOT is a directory (walked) or a .scala file (counted as itself).
Prints one "lines  directory" row per directory holding .scala files and
one "lines  file" row per file argument, then the total. Compare two
checkouts by running it in each.
"""
import os
import sys
from collections import defaultdict


def code_lines(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if in_block:
                end = line.find("*/")
                if end < 0:
                    continue
                in_block = False
                line = line[end + 2:].strip()
            if line.startswith("/*"):
                end = line.find("*/", 2)
                if end < 0:
                    in_block = True
                    continue
                line = line[end + 2:].strip()
            if line and not line.startswith("//"):
                n += 1
    return n


def main(roots):
    per_dir = defaultdict(int)
    for root in roots:
        if os.path.isfile(root):
            if root.endswith(".scala"):
                per_dir[root] += code_lines(root)
            continue
        for d, _, files in os.walk(root):
            for name in files:
                if name.endswith(".scala"):
                    per_dir[d] += code_lines(os.path.join(d, name))
    for d in sorted(per_dir):
        print(f"{per_dir[d]:7d}  {d}")
    print(f"{sum(per_dir.values()):7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:] or ["src/main/scala"])
