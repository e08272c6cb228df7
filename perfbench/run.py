#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine and the harness from
source with sbt (once per source state), generates the workload's inputs
from the seed under .bench_build/, runs the harness in one JVM and checks
its outputs. Prints a readable summary, then as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones from
the span recorder. Exits non-zero when a check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("ann_build_serve", "curation_analytics")
SPANS = ("ingest.read_ndjson", "knn.split", "knn.exact_topk", "knn.hnsw_build",
         "knn.hnsw_search_all", "knn.hnsw_search", "knn.hnsw_insert", "eval.recall",
         "dedup.minhash_pairs", "dedup.clusters", "pipeline.curation",
         "query.relational", "query.events", "query.stats")
SPAN_STATS = ("wall_s", "driver_s", "jobs", "tasks", "task_cpu_s",
              "sched_delay_s", "shuffle_mb", "gc_s")
END_TO_END = (("setup_s", "s"), ("pass_s", "s"), ("op_p50_ms", "ms"),
              ("quality", "ratio"), ("cache_mb", "MB"))
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
RUN_LIMIT_S = 170


def cpus():
    return len(os.sched_getaffinity(0))


def heap_size():
    """Half the host's memory in GiB, clamped to 2..8: the heap the test
    suite gives Spark."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return "2g"


# ------------------------------------------------------------------- build

def _stamp(root):
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"):
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, out):
    """Compile engine and harness; return the harness classpath."""
    os.makedirs(out, exist_ok=True)
    stamp = _stamp(root)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(out, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
            stderr=f, text=True, timeout=800)
        f.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed, see " + log)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# --------------------------------------------------------------- run + check

def run_jvm(cp, args, data, timeout):
    os.makedirs(os.path.join(data, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # compile thresholds scaled down so the JIT settles sooner: Spark's
    # planner runs thousands of methods a few hundred times per query,
    # and at default thresholds they were still being compiled seconds
    # into the measured interval
    cmd = [java, "-Xmx" + heap_size(), "-XX:+UseParallelGC",
           "-XX:CompileThresholdScaling=0.1",
           "-Djava.io.tmpdir=" + os.path.join(data, "tmp")]
    for p in JVM_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    log = os.path.join(data, "jvm.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=data)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    return code, log


def oracle_checks(root, data):
    """Replays each analytics query's oracle SQL in DuckDB over the same
    tables with the repository's checker, tools/check.py; returns
    (name, ok, detail) per query."""
    r = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"),
                        data, os.path.join(data, "out")],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       encoding="utf-8", timeout=120)
    found = []
    for line in r.stdout.splitlines():
        if line[:2] in ("\u2713 ", "\u2717 "):
            name, _, detail = line[2:].partition(": ")
            found.append((name, line[0] == "\u2713", detail))
    if r.returncode != 0 and all(ok for _, ok, _ in found):
        found.append(("tools/check.py", False, r.stdout[-2000:]))
    return found


# ----------------------------------------------------------------- metrics

def end_to_end(res):
    s = res["series"]
    return {"setup_s": res["setup_s"], "pass_s": stats.median(s["pass_s"]),
            "op_p50_ms": stats.median(s["op_ms"]),
            "quality": res["values"]["quality"],
            "cache_mb": res["values"]["cache_mb"]}


def per_layer(res):
    calls = {}
    for sp in res["spans"]:
        calls.setdefault(sp["name"], []).append(sp)
    m = {}
    for name in SPANS:
        for st in SPAN_STATS:
            vals = [c[st] for c in calls.get(name, [])]
            m["%s.%s" % (name, st)] = (stats.median(vals) if vals else 0.0, UNITS[st])
    m["ingest.read_ndjson.kept_frac"] = (res["values"].get("kept_frac", 0.0), "ratio")
    m["trace.pass_s"] = (stats.median(res["series"]["pass_s"]), "s")
    return m


UNITS = {"wall_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
         "task_cpu_s": "s", "sched_delay_s": "s", "shuffle_mb": "MB", "gc_s": "s"}


def summary(workload, args, sizes, res, checks, metrics):
    """Readable lines: every metric by name and unit, with sample counts."""
    out = ["perfbench %s seed=%d seconds=%g trace=%d local[%d] heap=%s"
           % (workload, args.seed, args.seconds, args.trace, cpus(), heap_size()),
           "inputs " + json.dumps(sizes, sort_keys=True)]
    s = res.get("series", {})
    for key in ("pass_s", "op_ms", "insert_ms", "curation_s"):
        v = s.get(key)
        if v:
            t = stats.tail(v)
            out.append("  %-12s n=%-4d median=%.4f%s" % (
                key, len(v), stats.median(v), "" if t is None else "  p%d=%.4f" % t))
    for key, v in sorted(res.get("values", {}).items()):
        if key not in metrics:
            out.append("  %-12s %.6f" % (key, v))
    for name, (v, unit) in sorted(metrics.items()):
        out.append("  %-34s %14.6f %s" % (name, v, unit))
    att, fail = res.get("attempted", 0), res.get("failed", 0)
    out.append("  failed_frac %d/%d = %.4f" % (fail, att, fail / att if att else 1.0))
    out += ["  FAILED %s: %s" % (n, d) for n, ok, d in checks if not ok]
    out += ["  ERROR " + e for e in res.get("errors", [])]
    return "\n".join(out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "build.sbt")) or \
            not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("run from the root of a checkout of the engine")
    work = os.path.join(root, ".bench_build", "perfbench")
    cp = build(root, work)

    start = time.time()
    data = os.path.join(work, "run-%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(data, ignore_errors=True)
    try:
        sizes = gen.generate(args.workload, data, args.seed)
        out = os.path.join(data, "result.json")
        code, log = run_jvm(cp, ["--workload", args.workload, "--data", data,
                                 "--out", out, "--seconds", str(args.seconds),
                                 "--seed", str(args.seed), "--trace", str(args.trace),
                                 "--cpus", str(cpus())],
                            data, RUN_LIMIT_S - (time.time() - start))
        if code != 0 or not os.path.exists(out):
            with open(log) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit("harness exited with %s" % code)
        with open(out) as f:
            res = json.load(f)
        checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
        if args.workload == "curation_analytics":
            found = oracle_checks(root, data)
            res["attempted"] += len(found)
            res["failed"] += sum(1 for _, ok, _ in found if not ok)
            checks += found
    finally:
        shutil.rmtree(data, ignore_errors=True)

    if res["errors"]:
        print(summary(args.workload, args, sizes, res, checks, {}))
        raise SystemExit("the harness reported errors")
    if args.trace:
        metrics = per_layer(res)
    else:
        units = dict(END_TO_END)
        metrics = {k: (v, units[k]) for k, v in end_to_end(res).items()}
    print(summary(args.workload, args, sizes, res, checks, metrics))
    correct = res["failed"] == 0
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
