#!/usr/bin/env python3
"""The benchmark's own test: every workload's checks run and can fail.

    python3 wirebench/test_bench.py

Each case runs wirebench/run.py in its seconds-long smoke mode (tiny
sizes). A plain run must pass its output checks with 0 failed operations
and print every metric BENCHMARK.json names; a run against a deliberately
wrong model (--break-model) must fail its checks and exit non-zero; and a
directory holding only BENCHMARK.json and the benchmark must exit non-zero
without a result. Takes about four minutes.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
# ingest is runnable but outside BENCHMARK.json (see README.md)
WORKLOADS = ("ingest", "ui_reads", "live_tail")


def run(workload, *extra, cwd=ROOT, trace="0"):
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "wirebench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "2", "--trace", trace, "--smoke", *extra],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    lines = [json.loads(l) for l in p.stdout.splitlines() if l.startswith("{")]
    return p, lines


class WireBenchSmoke(unittest.TestCase):

    def check_result(self, lines, names):
        result = lines[-1]
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreater(result["attempted"], 0)
        self.assertEqual(set(result["metrics"]), set(names))
        # every other stdout line is a bare metric line or the ops line
        for l in lines[:-1]:
            self.assertTrue({"metric", "workload", "unit", "value", "samples"} == set(l)
                            or {"workload", "attempted", "failed"} == set(l), l)
        return result

    def test_workloads_pass_their_checks(self):
        e2e = [m["name"] for m in SPEC["end_to_end"]]
        for w in WORKLOADS:
            with self.subTest(workload=w):
                p, lines = run(w)
                self.assertEqual(p.returncode, 0, p.stderr[-2000:])
                result = self.check_result(lines, e2e)
                for name, m in result["metrics"].items():
                    self.assertGreater(m["value"], 0, name)

    def test_traced_run_reports_every_layer_metric(self):
        p, lines = run("ui_reads", trace="1")
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        self.check_result(lines, [m["name"] for m in SPEC["per_layer"]])

    def test_wrong_model_fails(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                p, lines = run(w, "--break-model")
                self.assertEqual(p.returncode, 1, p.stderr[-2000:])
                self.assertFalse(lines[-1]["correct"])
                self.assertGreater(lines[-1]["failed"], 0)
                self.assertIn("check failed", p.stderr)

    def test_no_program_no_result(self):
        bare = os.path.join(ROOT, ".bench_build", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(HERE, os.path.join(bare, "wirebench"),
                            ignore=shutil.ignore_patterns("target"))
            p, lines = run("ingest", cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(lines, [])
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
