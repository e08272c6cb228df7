#!/usr/bin/env python3
"""Parent-versus-change comparison and tracing overhead.

    python3 perfbench/compare.py pairs --parent DIR --change DIR [--pairs 10]
        [--out REPORT.json]
    python3 perfbench/compare.py overhead [--runs 3]

`pairs` runs the benchmark in two checkouts as alternating pairs (the
side that goes first alternates, both sides of a pair share a seed) and
reports, per workload and end-to-end metric, each side's median and
quartiles, the pairs the change won, and a verdict:

  improved    the change won at least 9 of 10 pairs, its median is
              better, and the medians differ by more than the parent's
              quartile distance; or every change run beats every parent
              run
  regressed   the change's median is worse than the parent's by more
              than the metric's bound, with the spread within the bound;
              or every change run is worse than every parent run
  unresolved  the run-to-run spread of either side exceeds the bound
  unchanged   otherwise

Every workload in BENCHMARK.json is compared. `--out` also writes the
report as JSON.

`overhead` runs each workload of the current checkout untraced and
traced on the same seeds and reports the traced pass time against the
untraced one.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

PAIRS_SEED = 1000      # pair i runs seed PAIRS_SEED + i on both sides
OVERHEAD_SEED = 2000


def load_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def bench_digest(root):
    """Digest of a checkout's benchmark files: both sides must match."""
    h = hashlib.sha256()
    for path in load_spec(root)["paths"]:
        for d, _, fs in sorted(os.walk(os.path.join(root, path))):
            for f in sorted(fs):
                if f.endswith((".py", ".scala", ".sbt", ".properties", ".json")):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
    return h.hexdigest()


def run_once(root, spec, workload, seed, trace=0):
    """One benchmark run in `root`; returns its result object."""
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]),
                             "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if r.returncode != 0 or res is None or not res["correct"]:
        raise SystemExit("%s: %s seed %d failed:\n%s"
                         % (root, workload, seed, r.stdout[-3000:]))
    return res


def verdict(parent, change, better, bound):
    """Verdict of one metric from paired samples (same order, same seeds)."""
    sign = 1.0 if better == "lower" else -1.0
    p_med, c_med = stats.median(parent), stats.median(change)
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) < 0)
    if better == "lower":
        all_better, all_worse = max(change) < min(parent), min(change) > max(parent)
    else:
        all_better, all_worse = min(change) > max(parent), max(change) < min(parent)
    q1, _, q3 = stats.quartiles(parent)
    if max(stats.spread(parent), stats.spread(change)) > bound:
        return "improved" if all_better else "regressed" if all_worse else "unresolved"
    if wins >= 0.9 * len(parent) and sign * (c_med - p_med) < 0 \
            and abs(c_med - p_med) > q3 - q1:
        return "improved"
    if sign * (c_med - p_med) > bound * abs(p_med):
        return "regressed"
    return "unchanged"


def pairs(args):
    spec = load_spec(args.change)
    if bench_digest(args.parent) != bench_digest(args.change):
        raise SystemExit("the two checkouts carry different benchmark files")
    report = []
    for w in [x["name"] for x in spec["workloads"]]:
        samples = {"parent": [], "change": []}
        for i in range(args.pairs):
            seed = PAIRS_SEED + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                root = args.parent if side == "parent" else args.change
                samples[side].append(run_once(root, spec, w, seed)["metrics"])
        for m in spec["end_to_end"]:
            p = [r[m["name"]]["value"] for r in samples["parent"]]
            c = [r[m["name"]]["value"] for r in samples["change"]]
            row = {"workload": w, "metric": m["name"], "unit": m["unit"],
                   "parent": stats.quartiles(p), "change": stats.quartiles(c),
                   "wins": sum(1 for a, b in zip(p, c)
                               if (b < a if m["better"] == "lower" else b > a)),
                   "pairs": len(p),
                   "verdict": verdict(p, c, m["better"], m["bound"])}
            report.append(row)
            print("%-20s %-10s parent %s  change %s  won %d/%d  %s" % (
                w, m["name"], _q(row["parent"]), _q(row["change"]),
                row["wins"], row["pairs"], row["verdict"]))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)


def _q(q):
    return "%.4g [%.4g..%.4g]" % (q[1], q[0], q[2])


def overhead(args):
    spec = load_spec(".")
    for w in [x["name"] for x in spec["workloads"]]:
        plain, traced = [], []
        for i in range(args.runs):
            seed = OVERHEAD_SEED + i
            plain.append(run_once(".", spec, w, seed, 0)["metrics"]["pass_s"]["value"])
            traced.append(run_once(".", spec, w, seed, 1)["metrics"]["trace.pass_s"]["value"])
        a, b = stats.median(plain), stats.median(traced)
        print("%-20s pass_s untraced %.4f s  traced %.4f s  overhead %+.1f%% (n=%d each)"
              % (w, a, b, 100.0 * (b / a - 1.0), args.runs))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("pairs")
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--out")
    o = sub.add_parser("overhead")
    o.add_argument("--runs", type=int, default=3)
    args = ap.parse_args(argv)
    if args.cmd == "pairs":
        if args.pairs < 10:
            raise SystemExit("a comparison needs at least 10 pairs")
        pairs(args)
    else:
        overhead(args)


if __name__ == "__main__":
    main()
