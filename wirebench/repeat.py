#!/usr/bin/env python3
"""Run one workload N times, each with another seed, and print the spread.

    python3 wirebench/repeat.py --workload ui_reads --runs 10 [--seed0 1]
        [--trace 0|1] [--seconds S]

For every metric the runs print (the result line's and the extra bare
lines'), prints the median, the quartiles as Python's
statistics.quantiles(values, n=4) gives them, min and max, and the spread
(Q3 - Q1) / median. For the end-to-end metrics of BENCHMARK.json it also
prints the bound and flags a spread above a third of it ("wide") or above
the bound itself ("OVER"). The failed share of every run is printed too; a
benchmark whose failed share differs between runs is not steady.

--seconds defaults to BENCHMARK.json's run_seconds. All runs are saved to
.bench_build/repeat-<workload>-<trace>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = a.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    runs = []
    for i in range(a.runs):
        seed = a.seed0 + i
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", a.trace],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.time() - t0
        lines = [json.loads(l) for l in p.stdout.splitlines() if l.startswith("{")]
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode} after {wall:.0f}s", flush=True)
            runs.append({"seed": seed, "exit": p.returncode, "wall_s": wall})
            continue
        result = lines[-1]
        values = {k: v["value"] for k, v in result["metrics"].items()}
        for l in lines[:-1]:
            if "metric" in l:
                values.setdefault(l["metric"], l["value"])
        runs.append({"seed": seed, "exit": 0, "wall_s": wall,
                     "attempted": result["attempted"], "failed": result["failed"],
                     "values": values})
        print(f"seed {seed}: {wall:.0f}s, attempted {result['attempted']}, "
              f"failed {result['failed']}", flush=True)

    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build",
                           f"repeat-{a.workload}-{a.trace}.json"), "w") as fh:
        json.dump(runs, fh, indent=1)

    ok = [r for r in runs if r["exit"] == 0]
    if len(ok) < 2:
        sys.exit("fewer than two runs finished")
    shares = sorted({r["failed"] / r["attempted"] for r in ok})
    print(f"\n{a.workload}: {len(ok)}/{len(runs)} runs ok, failed shares {shares}, "
          f"wall median {statistics.median(r['wall_s'] for r in ok):.1f}s")
    print(f"{'metric':36} {'median':>12} {'q1':>12} {'q3':>12} {'min':>12} "
          f"{'max':>12} {'spread':>7} {'bound':>6}")
    for name in ok[0]["values"]:
        vals = [r["values"][name] for r in ok if name in r["values"]]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(name)
        flag = ""
        if b is not None:
            flag = "OVER" if spread > b else ("wide" if spread > b / 3 else "")
        print(f"{name:36} {med:12.4g} {q1:12.4g} {q3:12.4g} {min(vals):12.4g} "
              f"{max(vals):12.4g} {spread:7.3f} {'' if b is None else b:>6} {flag}")


if __name__ == "__main__":
    main()
