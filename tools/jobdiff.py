#!/usr/bin/env python3
"""Compare per-query Spark job counts of two BenchExtra runs.

Usage: python3 tools/jobdiff.py [--allow-fewer Q[,Q...]] CHANGE PARENT

Each file holds the `EXTRA_RESULT {...}` line that `graft.BenchExtra`
prints (other lines are ignored; with several rounds the last one counts).
Prints one "query  parent -> change" row per query whose job count
differs, or is missing on one side, then both totals. Exits 1 when any
count changed, 0 otherwise. The queries named by `--allow-fewer` may lose
jobs: a drop there is reported but passes; a gain, or a query missing on
one side, still fails.
"""
import argparse
import json
import sys


def load(path):
    rounds = [line.split(" ", 1)[1] for line in open(path, encoding="utf-8")
              if line.startswith("EXTRA_RESULT ")]
    if not rounds:
        sys.exit(f"{path}: no EXTRA_RESULT line")
    return {q: v["jobs"] for q, v in json.loads(rounds[-1])["queries"].items()}


def main(change_path, parent_path, allow_fewer=frozenset()):
    new, old = load(change_path), load(parent_path)
    changed = [q for q in sorted(set(new) | set(old)) if new.get(q) != old.get(q)]
    failing = [q for q in changed
               if not (q in allow_fewer and q in new and q in old and new[q] < old[q])]
    for q in changed:
        note = "" if q in failing else "  (allowed: fewer)"
        print(f"{q:28s} {old.get(q)} -> {new.get(q)}{note}")
    print(f"queries: {len(old)} -> {len(new)}; jobs: {sum(old.values())} -> {sum(new.values())}")
    print(f"job counts changed: {len(changed) or 'none'}; failing: {len(failing) or 'none'}")
    return 1 if failing else 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--allow-fewer", default="", metavar="Q[,Q...]",
                    help="comma-separated queries that may lose jobs")
    ap.add_argument("change")
    ap.add_argument("parent")
    args = ap.parse_args()
    allowed = frozenset(q for q in args.allow_fewer.split(",") if q)
    sys.exit(main(args.change, args.parent, allowed))
