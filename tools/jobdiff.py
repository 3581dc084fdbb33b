#!/usr/bin/env python3
"""Compare per-query Spark job counts of two BenchExtra runs.

Usage: python3 tools/jobdiff.py CHANGE PARENT

Each file holds the `EXTRA_RESULT {...}` line that `graft.BenchExtra`
prints (other lines are ignored; with several rounds the last one counts).
Prints one "query  parent -> change" row per query whose job count
differs, or is missing on one side, then both totals. Exits 1 when any
count changed, 0 otherwise.
"""
import json
import sys


def load(path):
    rounds = [line.split(" ", 1)[1] for line in open(path, encoding="utf-8")
              if line.startswith("EXTRA_RESULT ")]
    if not rounds:
        sys.exit(f"{path}: no EXTRA_RESULT line")
    return {q: v["jobs"] for q, v in json.loads(rounds[-1])["queries"].items()}


def main(change_path, parent_path):
    new, old = load(change_path), load(parent_path)
    changed = [q for q in sorted(set(new) | set(old)) if new.get(q) != old.get(q)]
    for q in changed:
        print(f"{q:28s} {old.get(q)} -> {new.get(q)}")
    print(f"queries: {len(old)} -> {len(new)}; jobs: {sum(old.values())} -> {sum(new.values())}")
    print(f"job counts changed: {len(changed) or 'none'}")
    return 1 if changed else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
