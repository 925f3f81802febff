#!/usr/bin/env python3
"""Compare a change against its parent with this benchmark.

Usage:
    python3 perfbench/compare.py --parent DIR --change DIR

DIR is a checkout (or an unpacked `git archive`) of each commit. Both are
measured with the benchmark code beside this script: each side's program
sources are copied next to a copy of it under .bench_compare/. For every
workload of BENCHMARK.json it runs 10 parent/change pairs of
`run_seconds` each, alternating which side runs first, each pair on its
own seed, and rules on every end-to-end metric:

  gain        the change wins at least 9 of 10 pairs (ties count for
              neither) and the medians differ by more than the parent's
              interquartile range;
  regression  the change's median is worse than the parent's by more
              than the metric's bound, again after a fresh re-run of the
              workload;
  unresolved  the parent's own spread exceeds the bound, and not every
              change run beats every parent run;
  same        none of these.

Steal and safepoint time of each side's runs are printed beside each
verdict, so a host disturbance is visible next to the number it moved.
If the two sides ran different analytics query samples (the `queries`
stamp), it refuses to rule: their figures are not comparable.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = ["build.sbt", "project/build.properties", "src/main", "scripts"]
PAIRS = 10


def stage(side, src):
    """A checkout of `src`'s program with this benchmark beside it."""
    dst = os.path.join(ROOT, ".bench_compare", side)
    for rel in PROGRAM:
        shutil.rmtree(os.path.join(dst, rel), ignore_errors=True)
        s = os.path.join(src, rel)
        if os.path.isdir(s):
            shutil.copytree(s, os.path.join(dst, rel))
        else:
            os.makedirs(os.path.dirname(os.path.join(dst, rel)), exist_ok=True)
            shutil.copy(s, os.path.join(dst, rel))
    shutil.rmtree(os.path.join(dst, "perfbench", "src"), ignore_errors=True)
    shutil.copytree(HERE, os.path.join(dst, "perfbench"), dirs_exist_ok=True,
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dst)
    return dst


def run_once(tree, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, capture_output=True, text=True, timeout=1200)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{tree} {workload} seed {seed} failed:\n{p.stderr[-2000:]}")
    stamp = json.loads(lines[0])["stamp"]
    res = json.loads(lines[-1])
    return {k: v["value"] for k, v in res["metrics"].items()}, stamp, res["failed"]


def pairs(trees, workload, n, seed0, seconds):
    runs = {"parent": [], "change": []}
    for i in range(n):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            runs[side].append(run_once(trees[side], workload, seed0 + i, seconds))
        print(f"  {workload} pair {i + 1}/{n} done", file=sys.stderr)
    return runs


def quartiles(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return q[0], statistics.median(xs), q[2]


def rule(metric, parent, change):
    """Verdict for one metric from paired runs (lists in pair order)."""
    sign = 1 if metric["better"] == "higher" else -1
    p25, pm, p75 = quartiles(parent)
    _, cm, _ = quartiles(change)
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    worse = sign * (pm - cm) / abs(pm) if pm else 0.0
    spread = (p75 - p25) / abs(pm) if pm else 0.0
    if wins >= 0.9 * len(parent) and abs(cm - pm) > p75 - p25:
        return "gain", pm, cm, wins
    if spread > metric["bound"]:
        all_better = all(sign * (c - p) > 0 for c in change for p in parent)
        return ("same" if all_better else "unresolved"), pm, cm, wins
    if worse > metric["bound"]:
        return "suspect", pm, cm, wins
    return "same", pm, cm, wins


def stamps(runs, key):
    vals = [r[1].get(key) for r in runs if isinstance(r[1].get(key), (int, float))]
    return statistics.median(vals) if vals else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    trees = {"parent": stage("parent", args.parent), "change": stage("change", args.change)}
    verdicts = []
    for w in (w["name"] for w in spec["workloads"]):
        runs = pairs(trees, w, PAIRS, 1000, seconds)
        samples = {s: {r[1].get("queries") for r in runs[s]} for s in runs}
        if samples["parent"] != samples["change"]:
            sys.exit(f"{w}: the sides ran different query samples, parent {samples['parent']} "
                     f"change {samples['change']}: no ruling")
        table = {}
        for m in spec["end_to_end"]:
            table[m["name"]] = rule(m, [r[0][m["name"]] for r in runs["parent"]],
                                    [r[0][m["name"]] for r in runs["change"]])
        if any(v[0] == "suspect" for v in table.values()):
            print(f"  {w}: suspect metrics, re-running on fresh seeds", file=sys.stderr)
            again = pairs(trees, w, PAIRS, 2000, seconds)
            for m in spec["end_to_end"]:
                if table[m["name"]][0] == "suspect":
                    v = rule(m, [r[0][m["name"]] for r in again["parent"]],
                             [r[0][m["name"]] for r in again["change"]])
                    table[m["name"]] = (("regression" if v[0] == "suspect" else v[0]),) + v[1:]
        failed = {s: sum(r[2] for r in runs[s]) for s in runs}
        steal = {s: (stamps(runs[s], "steal_ms"), stamps(runs[s], "safepoint_ms")) for s in runs}
        print(f"\n{w}: failed ops parent={failed['parent']} change={failed['change']}")
        for name, (verdict, pm, cm, wins) in table.items():
            print(f"  {name:16s} {verdict:10s} parent {pm:12.4f}  change {cm:12.4f}  "
                  f"wins {wins}/{PAIRS}  steal/safepoint ms parent {steal['parent']} "
                  f"change {steal['change']}")
            verdicts.append({"workload": w, "metric": name, "verdict": verdict,
                             "parent_median": pm, "change_median": cm, "wins": wins})
        if failed["change"] > failed["parent"]:
            verdicts.append({"workload": w, "metric": "failed", "verdict": "regression"})
    print(json.dumps({"verdicts": verdicts}))
    sys.exit(1 if any(v["verdict"] == "regression" for v in verdicts) else 0)


if __name__ == "__main__":
    main()
