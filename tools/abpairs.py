#!/usr/bin/env python3
"""Interleaved A/B pairs of the perfbench workloads in two checkouts.

Usage:
    python3 tools/abpairs.py A B --workload W --seeds 11-24 \\
        [--trace 1 --metrics m1,m2] [--seconds 5]

A is the baseline (a clone of the parent commit) and B the change. For
every seed, `python3 perfbench/run.py --workload W --seed S --seconds N
--trace T` runs once in each checkout; odd seeds run A first and even
seeds B first, so a slow spell on the host does not always land on one
side. The metrics default to the end-to-end ones (`op_s`, `setup_s`,
`mem.retained_heap_mb`); a traced run (`--trace 1`) needs `--metrics`.

Prints one row per pair, then per metric each side's median and Q1-Q3,
how many pairs B won (ties count for neither side; "better" is read from
B's BENCHMARK.json, lower when the metric is not listed there), and
whether a gain claim holds: B wins at least nine tenths of the pairs and
the medians differ by more than A's Q1-Q3 distance. A run that exits
non-zero or reports failed operations is printed and left out of its
pair. Exits 1 when any run failed.

A checkout whose `.bench_build/classpath.txt` names a class directory
outside that checkout is refused: run.py rebuilds only when its source
stamp changes, so a copied checkout that kept `.bench_build` would run
the original checkout's classes. Delete `.bench_build` in such a copy.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

END_TO_END = ("op_s", "setup_s", "mem.retained_heap_mb")


def parse_seeds(text):
    """'11-24' or '1,3,5' or a mix ('1-3,7') -> list of ints, in order."""
    seeds = []
    for part in text.split(","):
        part = part.strip()
        if "-" in part:
            lo, hi = (int(x) for x in part.split("-", 1))
            if hi < lo:
                raise ValueError(f"empty seed range {part}")
            seeds.extend(range(lo, hi + 1))
        elif part:
            seeds.append(int(part))
    if not seeds:
        raise ValueError("no seeds")
    return seeds


def order(seed):
    """Which side runs first for a seed: A on odd seeds, B on even ones."""
    return ("a", "b") if seed % 2 else ("b", "a")


def quartiles(xs):
    """(Q1, median, Q3) of a sample; the inclusive method, so one value is
    its own quartiles."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(pairs, lower_better=True):
    """Summary of one metric over (a, b) pairs.

    Returns a dict with each side's (Q1, median, Q3), the number of pairs B
    won and tied, and whether the gain claim holds: B wins at least 9/10 of
    the pairs and the medians differ, in B's favour, by more than A's
    Q3 - Q1.
    """
    if not pairs:
        raise ValueError("no pairs")
    a = [p[0] for p in pairs]
    b = [p[1] for p in pairs]
    wins = sum(1 for x, y in pairs if (y < x if lower_better else y > x))
    ties = sum(1 for x, y in pairs if x == y)
    qa, qb = quartiles(a), quartiles(b)
    gain = (qa[1] - qb[1]) if lower_better else (qb[1] - qa[1])
    claim = wins * 10 >= 9 * len(pairs) and gain > qa[2] - qa[0]
    return {"n": len(pairs), "a": qa, "b": qb, "wins": wins, "ties": ties, "gain": gain, "claim": claim}


def foreign_classpath(checkout):
    """Class directories in the checkout's bench classpath that lie outside
    it (jars are shared installs and may live anywhere)."""
    cp_file = os.path.join(checkout, ".bench_build", "classpath.txt")
    if not os.path.exists(cp_file):
        return []
    root = os.path.realpath(checkout) + os.sep
    with open(cp_file, encoding="utf-8") as fh:
        entries = [e for e in fh.read().strip().split(os.pathsep) if e]
    return [e for e in entries
            if (not e.endswith(".jar") or ".bench_build" in e)
            and not os.path.realpath(e).startswith(root)]


def better_map(checkout):
    """metric name -> 'lower'/'higher' from the checkout's BENCHMARK.json."""
    path = os.path.join(checkout, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path, encoding="utf-8") as fh:
        spec = json.load(fh)
    return {m["name"]: m.get("better", "lower")
            for key in ("end_to_end", "per_layer") for m in spec.get(key, [])}


def run_once(checkout, workload, seed, seconds, trace):
    """One perfbench run; returns (metrics dict, error text or None)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        tail = "\n".join(r.stderr.splitlines()[-5:])
        return None, f"exit {r.returncode}, no result line\n{tail}"
    out = json.loads(lines[-1])
    mets = {k: v["value"] for k, v in out.get("metrics", {}).items()}
    if r.returncode != 0 or out.get("failed", 0):
        return mets, f"exit {r.returncode}, failed {out.get('failed')} of {out.get('attempted')}"
    return mets, None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a", help="baseline checkout")
    ap.add_argument("b", help="change checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 11-24 or 1,2,5")
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--metrics", default="", help="comma-separated metric names")
    args = ap.parse_args(argv)
    metrics = [m for m in args.metrics.split(",") if m] or (list(END_TO_END) if args.trace == 0 else [])
    if not metrics:
        ap.error("--trace 1 needs --metrics")
    sides = {"a": args.a, "b": args.b}
    for name, path in sides.items():
        bad = foreign_classpath(path)
        if bad:
            sys.exit(f"{name} = {path}: .bench_build/classpath.txt points outside the checkout "
                     f"({bad[0]}); delete {os.path.join(path, '.bench_build')} first")
    better = better_map(args.b)
    pairs = {m: [] for m in metrics}
    failed = 0
    print("seed first " + " ".join(f"{m + ' a':>24s} {m + ' b':>24s}" for m in metrics), flush=True)
    for seed in parse_seeds(args.seeds):
        first = order(seed)
        got = {}
        for side in first:
            mets, err = run_once(sides[side], args.workload, seed, args.seconds, args.trace)
            if err:
                failed += 1
                print(f"seed {seed} side {side}: {err}", flush=True)
            else:
                missing = [m for m in metrics if m not in mets]
                if missing:
                    sys.exit(f"side {side} reports no metric {missing[0]}")
                got[side] = mets
        if len(got) < 2:
            continue
        for m in metrics:
            pairs[m].append((got["a"][m], got["b"][m]))
        print(f"{seed:4d} {first[0]:>5s} " + " ".join(f"{got['a'][m]:24.4f} {got['b'][m]:24.4f}" for m in metrics),
              flush=True)
    for m in metrics:
        if not pairs[m]:
            print(f"{m}: no complete pair")
            continue
        lower = better.get(m, "lower") == "lower"
        s = summarize(pairs[m], lower)
        print(f"{m} ({'lower' if lower else 'higher'} is better, {s['n']} pairs): "
              f"A median {s['a'][1]:.4f} (Q1-Q3 {s['a'][0]:.4f}-{s['a'][2]:.4f}), "
              f"B median {s['b'][1]:.4f} (Q1-Q3 {s['b'][0]:.4f}-{s['b'][2]:.4f}); "
              f"B won {s['wins']} of {s['n']} ({s['ties']} ties); "
              f"gain {'holds' if s['claim'] else 'not shown'}")
    if failed:
        print(f"failed runs: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
