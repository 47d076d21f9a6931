#!/usr/bin/env python3
"""Smoke test of the benchmark at a tiny input size (a few minutes).

Checks that every run prints every metric BENCHMARK.json declares, with
its unit; that a failing correctness check fails the run; that
layers.json maps exactly the declared per-layer metrics; and that the
benchmark fails without printing a result when the engine's sources are
absent.

Usage (from the repository root): python3 perfbench/smoke_test.py
"""
import json
import math
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("link", "cluster_graph")
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload, trace, *extra, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                        "--workload", workload, "--seed", "7", "--seconds", "1",
                        "--trace", str(trace), *extra],
                       cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    return p.returncode, result, p.stderr


class SmokeTest(unittest.TestCase):

    def check_metrics(self, result, declared):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        got = result["metrics"]
        for m in declared:
            self.assertIn(m["name"], got)
            self.assertEqual(got[m["name"]]["unit"], m["unit"], m["name"])
            self.assertTrue(math.isfinite(got[m["name"]]["value"]), m["name"])

    def test_every_metric_printed_with_unit(self):
        for w in WORKLOADS:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    code, result, err = run(w, trace, "--scale", "smoke")
                    self.assertEqual(code, 0, err[-3000:])
                    self.assertTrue(result["correct"])
                    self.assertEqual(result["failed"], 0)
                    self.assertGreaterEqual(result["attempted"], 1)
                    self.check_metrics(result, SPEC[key])
                    if trace == 0:
                        for m in SPEC["end_to_end"]:
                            self.assertGreater(result["metrics"][m["name"]]["value"], 0, m["name"])

    def test_failing_check_fails_the_run(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, result, err = run(w, 0, "--scale", "smoke", "--broken-check")
                self.assertNotEqual(code, 0)
                self.assertFalse(result["correct"])
                self.assertGreater(result["failed"], 0)

    def test_layer_map_covers_per_layer_metrics(self):
        with open(os.path.join(HERE, "layers.json")) as fh:
            layers = json.load(fh)
        self.assertEqual(list(layers), [m["name"] for m in SPEC["per_layer"]])
        names = {m["name"] for m in SPEC["end_to_end"]}
        workloads = {w["name"] for w in SPEC["workloads"]}
        for name, entry in layers.items():
            for mv in entry["moves"]:
                self.assertIn(mv["metric"], names, name)
                self.assertIn(mv["workload"], workloads, name)

    def test_fails_without_engine_sources(self):
        bare = os.path.join(ROOT, ".bench_build", "smoke-bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            code, result, _ = run("link", 0, cwd=bare)
            self.assertNotEqual(code, 0)
            self.assertIsNone(result)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
