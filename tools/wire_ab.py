#!/usr/bin/env python3
"""Paired same-session A/B of the wire benchmark on two git revisions.

    python3 tools/wire_ab.py BASE NEW --workload ui_reads [--pairs 5]
        [--seed0 1] [--seconds S] [--trace 0|1] [--work DIR] [--out FILE] [--keep]

BASE and NEW are git revisions of this repository; "." means the checkout
as it stands, uncommitted changes included. Each revision is exported
(`git archive`) into its own directory under --work (a fresh temporary
directory by default) and built once by a short smoke run of
wirebench/run.py. Then, for each of --pairs seeds, both sides run the same
workload with the same seed back to back, alternating which side goes
first, so drift of the box over the session lands on both sides alike.

Prints, for every metric both sides report: the median of each side, the
ratio of the medians (NEW / BASE), the median of the per-pair ratios, how
many pairs NEW won (for metrics with a known direction, from
BENCHMARK.json) and BASE's interquartile distance, with "beyond" marking a
median change larger than that distance. All runs are written to --out
(default: <work>/wire_ab-<workload>.json).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev, dest):
    """A tree holding `rev`'s committed files ("." = this checkout)."""
    if rev == ".":
        return ROOT
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", rev], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"git archive {rev} failed")
    return dest


def run(tree, workload, seed, seconds, trace, smoke=False):
    """(exit code, {metric: value}, result line) of one run.py run in `tree`."""
    cmd = [sys.executable, os.path.join(tree, "wirebench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", trace]
    if smoke:
        cmd.append("--smoke")
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = [json.loads(l) for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines or "correct" not in lines[-1]:
        return p.returncode, {}, None
    result = lines[-1]
    values = {k: v["value"] for k, v in result["metrics"].items()}
    for l in lines[:-1]:
        if "metric" in l:
            values.setdefault(l["metric"], l["value"])
    return p.returncode, values, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--work", help="directory for the exported trees")
    ap.add_argument("--out")
    ap.add_argument("--keep", action="store_true", help="keep the exported trees")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = a.seconds or spec["run_seconds"]
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}

    work = a.work or tempfile.mkdtemp(prefix="wire_ab-")
    os.makedirs(work, exist_ok=True)
    trees = {"base": export(a.base, os.path.join(work, "base")),
             "new": export(a.new, os.path.join(work, "new"))}
    runs = {"base": [], "new": []}
    try:
        for side, tree in trees.items():
            t0 = time.time()
            code, _, _ = run(tree, a.workload, 0, 1, "0", smoke=True)
            print(f"{side}: built and smoke-ran in {time.time() - t0:.0f}s (exit {code})",
                  flush=True)
            if code != 0:
                sys.exit(f"{side} ({tree}) does not run")
        for i in range(a.pairs):
            seed = a.seed0 + i
            order = ("base", "new") if i % 2 == 0 else ("new", "base")
            for side in order:
                t0 = time.time()
                code, values, result = run(trees[side], a.workload, seed, seconds, a.trace)
                runs[side].append({"seed": seed, "exit": code, "wall_s": time.time() - t0,
                                   "values": values,
                                   "failed": result and result["failed"],
                                   "attempted": result and result["attempted"]})
                print(f"seed {seed} {side}: exit {code}, {time.time() - t0:.0f}s", flush=True)
    finally:
        out = a.out or os.path.join(work, f"wire_ab-{a.workload}.json")
        with open(out, "w") as fh:
            json.dump({"base": a.base, "new": a.new, "workload": a.workload,
                       "seconds": seconds, "trace": a.trace, "runs": runs}, fh, indent=1)
        if not a.keep:
            for side in ("base", "new"):
                if trees[side] != ROOT:
                    shutil.rmtree(trees[side], ignore_errors=True)
    print(f"runs saved to {out}")

    pairs = [(b["values"], n["values"]) for b, n in zip(runs["base"], runs["new"])
             if b["exit"] == 0 and n["exit"] == 0]
    if not pairs:
        sys.exit("no pair finished on both sides")
    print(f"\n{a.workload}: {len(pairs)}/{a.pairs} pairs ok; {a.base} -> {a.new}")
    print(f"{'metric':36} {'base':>11} {'new':>11} {'ratio':>7} {'pair_r':>7} "
          f"{'wins':>5} {'base_iqr':>10}")
    for name in pairs[0][0]:
        both = [(b[name], n[name]) for b, n in pairs if name in b and name in n]
        if not both:
            continue
        bv = [b for b, _ in both]
        nv = [n for _, n in both]
        mb, mn = statistics.median(bv), statistics.median(nv)
        ratio = mn / mb if mb else float("nan")
        pair_r = statistics.median([n / b for b, n in both if b]) if all(bv) else float("nan")
        iqr = (lambda q: q[2] - q[0])(statistics.quantiles(bv, n=4)) if len(bv) > 1 else 0.0
        wins = ""
        beyond = ""
        if name in better:
            lower = better[name] == "lower"
            wins = f"{sum((n < b) if lower else (n > b) for b, n in both)}/{len(both)}"
            if abs(mn - mb) > iqr:
                beyond = "beyond"
        print(f"{name:36} {mb:11.4g} {mn:11.4g} {ratio:7.3f} {pair_r:7.3f} {wins:>5} "
              f"{iqr:10.4g} {beyond}")


if __name__ == "__main__":
    main()
