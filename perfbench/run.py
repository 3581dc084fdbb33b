#!/usr/bin/env python3
"""graft benchmark.

Runs one workload of graft's feature-engineering engine as a closed-loop
client on a local Spark cluster, checks its outputs, and prints the
metrics. Run from the repository root:

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 5

The first form prints a report and, as its last line, one JSON object
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The second runs every workload, a traced run of each, and the
one-core baseline of the pipeline's north-rule job (a second JVM pinned to
one core, too slow for every run), and prints the report with every metric
named after its workload part. Both exit non-zero when
an output check fails.

The engine is compiled from `src/main/scala` together with the runner in
`perfbench/src` (sbt, offline) into `.bench_build/`, and rebuilt whenever a
source changes.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("pipeline", "kernels")
CORES = os.cpu_count() or 1
HEAP = "3g"

LAYER_SPANS = (
    "pages.fit", "carve.sketch", "carve.histogram", "tables.checkpoint_save", "carve.dp",
    "pages.transform", "tables.append", "temporal.asof_join", "temporal.backfill", "carve.transform",
    "tables.feature_write", "tables.resume", "select.select", "carve.binary_fit", "carve.median_fit",
    "carve.ordinal_fit", "carve.multiclass_fit", "carve.ovr_fit", "dedup.candidates", "dedup.verify",
    "dedup.components",
)
SPAN_FIELDS = (("wall_s", "s", "lower"), ("driver_s", "s", "lower"), ("jobs", "count", "lower"),
               ("shuffle_bytes", "bytes", "lower"), ("skew", "ratio", "lower"))
# The per-layer metrics of a traced run: (name, unit, better). A layer a
# workload does not reach reads 0 there.
PER_LAYER = [(f"{s}.{f}", u, b) for s in LAYER_SPANS for f, u, b in SPAN_FIELDS] + [
    ("carve.hist_rows", "count", "lower"), ("carve.candidates_tested", "count", "lower"),
    ("dedup.candidate_pairs", "count", "lower"), ("dedup.verify_yield", "ratio", "higher"),
    ("dedup.recall", "ratio", "higher"), ("tables.append_input_bytes", "bytes", "lower"),
    ("tables.bytes_per_row", "bytes", "lower"), ("spark.slot_util", "ratio", "higher"),
    ("spark.persisted_rdds_after", "count", "lower"), ("jvm.threads_peak", "count", "lower"),
    ("jvm.gc_s", "s", "lower"), ("jvm.peak_rss_mb", "MB", "lower"), ("probe.leftover_tmp_files", "count", "lower"),
    ("probe.nan_bin_count_diff", "count", "lower"),
    ("trace.coverage", "ratio", "higher"), ("op.self_s", "s", "lower"),
]
# The end-to-end metrics of an untraced run: (name, unit, better, bound).
END_TO_END = [("setup_s", "s", "lower", 0.25), ("op_s", "s", "lower", 0.25),
              ("mem.retained_heap_mb", "MB", "lower", 0.25)]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    """The jars directory of the local Spark installation."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BenchError("no Spark installation found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def build():
    """Compile engine + runner unless the stamped build is current; returns
    the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("engine sources (src/main/scala/graft) not found next to perfbench/")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fc:
                    return fc.read().strip()
    if shutil.which("sbt") is None:
        raise BenchError("sbt not found on PATH")
    os.makedirs(BUILD, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS_DIR=spark_jars())
    log("building engine and runner (sbt)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "-batch", *opts, "compile", "export Runtime/fullClasspath"], cwd=HERE,
                           stdout=out, stderr=subprocess.STDOUT, env=env, timeout=840)
    with open(os.path.join(BUILD, "build.log")) as fh:
        lines = fh.read().splitlines()
    if r.returncode != 0:
        raise BenchError("build failed:\n" + "\n".join(lines[-30:]))
    cps = [ln.strip() for ln in lines if "sbt-target" in ln and ".jar" in ln and " " not in ln.strip()]
    if not cps:
        raise BenchError("build printed no classpath")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cps[-1]


# ---------------------------------------------------------------- launch

def run_jvm(cp, work, args, cores, timeout):
    """One benchmark JVM; returns its run record."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, f"record-{cores}.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if cores != CORES:
        cmd.append(f"-XX:ActiveProcessorCount={cores}")
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false", "-cp", cp,
            "graftbench.Main", *args, "--cores", str(cores), "--work", work, "--out", out]
    with open(os.path.join(work, f"jvm-{cores}.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"benchmark JVM did not finish within {timeout:.0f} s")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, f"jvm-{cores}.log")) as fh:
            tail = fh.read().splitlines()[-25:]
        raise BenchError(f"benchmark JVM exited with {proc.returncode}:\n" + "\n".join(tail))
    with open(out) as fh:
        return json.load(fh)


def run_workload(cp, workload, seed, seconds, trace, baseline):
    """Runs one workload (plus, when asked, the one-core baseline of the
    north-rule job) and returns (record, baseline record or None)."""
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", "1" if trace else "0"]
        rec = run_jvm(cp, work, args, CORES, timeout=seconds + 130)
        base = None
        if baseline:
            tables = sorted(glob.glob(os.path.join(work, "pages", "t*")))
            if not tables:
                raise BenchError("pipeline run left no table for the one-core baseline")
            args = ["--workload", "pipeline", "--seed", str(seed), "--seconds", str(max(4, seconds // 2)),
                    "--trace", "0", "--table", tables[-1]]
            base = run_jvm(cp, work, args, 1, timeout=150)
        return rec, base
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------- metrics

def measured(rec):
    """The successful operations of the phase the run measured: `traced`
    in a traced run, `timed` otherwise. Never the warm-up."""
    phase = "traced" if "trace" in rec else "timed"
    ops = metrics.measured_ops(rec["ops"], phase)
    if not ops:
        raise BenchError(f"no {phase} operation succeeded:\n" + "\n".join(rec.get("failures", [])[:10]))
    return ops


def counts(rec):
    attempted = len(rec["ops"])
    failed = sum(1 for o in rec["ops"] if not o["ok"])
    if rec["failures"] and failed == 0:
        failed = 1  # a failure outside the operations (finish step, run digest)
        attempted += 1
    return attempted, failed


def end_to_end(rec):
    walls = [o["wall_s"] for o in measured(rec)]
    vals = {
        "setup_s": statistics.median(rec["setup_s"]),
        "op_s": statistics.median(walls),
        "mem.retained_heap_mb": rec["probes"]["mem.retained_heap_mb"],
    }
    return {name: (vals[name], unit) for name, unit, _, _ in END_TO_END}


def median_or_zero(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(rec):
    """Per-layer metrics of a traced run, from its spans, counters, Spark
    listener record and probes."""
    tr = rec["trace"]
    jobs = tr["jobs"]
    stages = {s["id"]: s for s in tr["stages"]}
    ops = measured(rec)
    # spans of the measured operations and of the finish step (op -1)
    keep = {o["i"] for o in ops} | {-1}
    spans = [s for s in tr["spans"] if s["op"] in keep]
    span_ids = {s["id"] for s in spans}
    out = {}
    inst = {name: [metrics.span_stats(s, jobs, stages) for s in spans if s["name"] == name] for name in LAYER_SPANS}
    for name in LAYER_SPANS:
        for f, _, _ in SPAN_FIELDS:
            out[f"{name}.{f}"] = median_or_zero([x[f] for x in inst[name]])

    def counter(name):
        return [c["value"] for c in tr["counters"] if c["name"] == name and c["span"] in span_ids]

    out["carve.hist_rows"] = median_or_zero(counter("carve.hist_rows"))
    out["carve.candidates_tested"] = median_or_zero(counter("carve.candidates_tested"))
    cand = counter("dedup.candidate_pairs")
    ver = counter("dedup.verified_pairs")
    out["dedup.candidate_pairs"] = median_or_zero(cand)
    out["dedup.verify_yield"] = median_or_zero([v / c for v, c in zip(ver, cand) if c > 0])
    out["dedup.recall"] = median_or_zero(metrics.op_samples(ops, "dedup.recall"))
    out["tables.append_input_bytes"] = median_or_zero([a["input_bytes"] for a in inst["tables.append"]])
    out["tables.bytes_per_row"] = median_or_zero(rec["samples"].get("tables.bytes_per_row", []))
    out["probe.nan_bin_count_diff"] = median_or_zero(rec["samples"].get("probe.nan_bin_count_diff", []))

    op_spans = [s for s in spans if s["name"].startswith("op.")]
    task_ms = sum(stages[st]["task_sum_ms"] for sp in op_spans for j in metrics.span_jobs(sp, jobs)
                  for st in j["stages"] if st in stages)
    out["spark.slot_util"] = task_ms / (sum(sp["end"] - sp["start"] for sp in op_spans) * rec["cores"])
    for k in ("spark.persisted_rdds_after", "jvm.threads_peak", "jvm.gc_s", "jvm.peak_rss_mb",
              "probe.leftover_tmp_files"):
        out[k] = rec["probes"][k]

    children = {}
    for s in spans:
        if s["parent"] >= 0:
            children.setdefault(s["parent"], []).append(s)
    op_wall = sum(s["end"] - s["start"] for s in op_spans)
    child_wall = sum(c["end"] - c["start"] for s in op_spans for c in children.get(s["id"], []))
    out["trace.coverage"] = child_wall / op_wall if op_wall > 0 else 0.0
    out["op.self_s"] = median_or_zero([(s["end"] - s["start"] - sum(c["end"] - c["start"]
                                        for c in children.get(s["id"], []))) / 1000.0 for s in op_spans])
    return {name: (out[name], unit) for name, unit, _ in PER_LAYER}


def north_rule_docs_per_s(rec):
    """Pages per second of fit+transform, from the median operation."""
    ops = measured(rec)
    fit = metrics.op_samples(ops, "pages.fit_s")
    xform = metrics.op_samples(ops, "pages.transform_s")
    per_op = [f + x for f, x in zip(fit, xform)]
    return rec["samples"]["pages.docs"][0] / statistics.median(per_op)


def check_digest(workload, seed, digest):
    """The output digest of a seed must be the same in every run of one
    build; returns a failure message or None."""
    path = os.path.join(BUILD, "digests.json")
    stamp_path = os.path.join(BUILD, "stamp.txt")
    with open(stamp_path) as fh:
        stamp = fh.read().strip()
    known = {}
    if os.path.exists(path):
        with open(path) as fh:
            known = json.load(fh)
    if known.get("stamp") != stamp:
        known = {"stamp": stamp, "digests": {}}
    key = f"{workload}:{seed}"
    prev = known["digests"].get(key)
    if prev is not None and prev != digest:
        return f"output digest {digest} differs from an earlier run of seed {seed} ({prev})"
    known["digests"][key] = digest
    with open(path + ".tmp", "w") as fh:
        json.dump(known, fh)
    os.replace(path + ".tmp", path)
    return None


def fmt_timing(label, values, unit="s"):
    if not values:
        return f"{label:34s} no samples"
    t = metrics.timing_summary(values)
    tail = f", p{t['pct']:g} {t['pct_value']:.4f}" if t["pct"] is not None else ", no percentile with 10 samples beyond"
    return f"{label:34s} median {t['median']:.4f} {unit}{tail} (n={t['n']})"


def report(rec, base, workload):
    """Human-readable lines: every timing with its sample count, and the
    metrics named after the workload part they measure."""
    ops = measured(rec)
    walls = [o["wall_s"] for o in ops]
    attempted, failed = counts(rec)
    fails = [f"FAILED CHECK: {f}" for f in rec["failures"]]
    s = rec["samples"]

    def per_op(name):
        return metrics.op_samples(ops, name)

    lines = fails + [f"== {workload} seed {rec['seed']} on local[{rec['cores']}]",
                     fmt_timing(f"{workload}.setup_s", rec["setup_s"]),
                     fmt_timing(f"{workload}.op_s", walls),
                     f"{workload + '.rows_per_s':34s} {sum(o['items'] for o in ops) / sum(walls):.1f} 1/s",
                     f"{workload + '.ops.failed_share':34s} {metrics.failed_share(attempted, failed):.4f} "
                     f"({failed} of {attempted})",
                     f"{workload + '.mem.retained_heap_mb':34s} {rec['probes']['mem.retained_heap_mb']:.1f} MB",
                     f"{workload + '.mem.peak_rss_mb':34s} {rec['probes']['jvm.peak_rss_mb']:.1f} MB"]
    if workload == "pipeline":
        docs = s["pages.docs"][0]
        cycle = per_op("ingest.cycle_s")
        day_rows = per_op("ingest.cycle_rows")
        lines += [fmt_timing("pages.fit_s", per_op("pages.fit_s")),
                  f"{'pages.docs_per_s':34s} {north_rule_docs_per_s(rec):.1f} 1/s ({docs:.0f} docs, fit+transform)",
                  f"{'pages.transform_docs_per_s':34s} "
                  f"{docs / statistics.median(per_op('pages.transform_s')):.1f} 1/s"]
        if base is not None:
            b = north_rule_docs_per_s(base)
            lines += [f"{'pages.docs_per_s_1c':34s} {b:.1f} 1/s",
                      f"{'pages.scale_eff':34s} {north_rule_docs_per_s(rec) / (CORES * b):.4f} "
                      f"(docs_per_s / ({CORES} x docs_per_s_1c))"]
        lines += [f"{'ingest.rows_per_s':34s} {sum(day_rows) / sum(cycle):.1f} 1/s",
                  f"{'ingest.last_cycle_s':34s} {cycle[-1]:.4f} s (day {len(cycle)})",
                  fmt_timing("ingest.cycle_s", cycle),
                  fmt_timing("tables.resume_s", s.get("tables.resume_s", [])),
                  fmt_timing("select.select_s", per_op("select.select_s"))]
    else:
        nd = per_op("neardup.pipeline_s")
        lines += [fmt_timing("carve.total_s", per_op("carve.total_s")),
                  f"{'neardup.docs_per_s':34s} {sum(per_op('neardup.op_docs')) / sum(nd):.1f} 1/s",
                  f"{'neardup.recall':34s} {median_or_zero(per_op('dedup.recall')):.4f}"]
        diff = median_or_zero(s.get("probe.nan_bin_count_diff", []))
        if diff:
            lines.append(f"KNOWN DEFECT (not gated): a binary fit on NaN-bearing input counts {diff:.0f} rows "
                         "in other bins than the reference, which treats NaN as missing")
    return lines


def result_line(correct, attempted, failed, mets):
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": {k: {"value": v, "unit": u} for k, (v, u) in mets.items()}})


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload and print the full report")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not a.all and a.workload is None:
        ap.error("give --workload or --all")
    try:
        cp = build()
        if a.all:
            ok = True
            for w in WORKLOADS:
                rec, base = run_workload(cp, w, a.seed, a.seconds, False, w == "pipeline")
                trec, _ = run_workload(cp, w, a.seed, a.seconds, True, False)
                bad = [check_digest(w, a.seed, r["digest"]) for r in (rec, trec)]
                rec["failures"] += [b for b in bad if b] + trec["failures"]
                ok = ok and not rec["failures"]
                print("\n".join(report(rec, base, w)), flush=True)
                over = end_to_end(trec)["op_s"][0] - end_to_end(rec)["op_s"][0]
                print(f"{w + '.trace.overhead_s':34s} {over:.4f} s (traced minus untraced op_s)")
                for k, (v, u) in per_layer(trec).items():
                    if v:
                        print(f"  {k:40s} {v:.6g} {u}")
            return 0 if ok else 1
        rec, base = run_workload(cp, a.workload, a.seed, a.seconds, bool(a.trace), False)
        bad = check_digest(a.workload, a.seed, rec["digest"])
        if bad:
            rec["failures"].append(bad)
        for line in report(rec, base, a.workload):
            print(line)
        attempted, failed = counts(rec)
        correct = not rec["failures"]
        mets = per_layer(rec) if a.trace else end_to_end(rec)
        print(result_line(correct, attempted, failed, mets), flush=True)
        return 0 if correct else 1
    except BenchError as e:
        log(f"error: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
