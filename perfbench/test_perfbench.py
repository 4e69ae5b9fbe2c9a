#!/usr/bin/env python3
"""Tests of the benchmark itself: the Scala self-test (generators, percentile,
ratio and self-time helpers), the compare tool's rules on fixed inputs, the
metric names against BENCHMARK.json, and the refusal to run outside a full
checkout.

    python3 perfbench/test_perfbench.py
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import compare  # noqa: E402


def java(main, *args):
    build.ensure()
    return subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.classpath(), main]
                          + list(args),
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          timeout=300)


class ScalaSelfTest(unittest.TestCase):
    def test_generators_and_helpers(self):
        res = java("perfbench.SelfTest")
        self.assertEqual(res.returncode, 0, res.stderr.decode())
        self.assertIn(b"checks passed", res.stdout)

    def test_metric_names_match_benchmark_json(self):
        res = java("perfbench.Main", "--list-metrics")
        self.assertEqual(res.returncode, 0, res.stderr.decode())
        printed = [tuple(l.split("\t")) for l in res.stdout.decode().splitlines()]
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        declared = [(m["name"], m["unit"])
                    for m in bench["end_to_end"] + bench["per_layer"]]
        self.assertEqual(printed, declared)


class CompareRules(unittest.TestCase):
    def test_quartiles_follow_statistics_quantiles(self):
        q1, med, q3 = compare.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((q1, med, q3), (2.75, 5.5, 8.25))
        self.assertAlmostEqual(compare.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]),
                               5.5 / 5.5)

    def test_clear_improvement(self):
        p = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        c = [80, 81, 79, 80, 82, 78, 80, 81, 79, 80]
        r = compare.compare_metric(p, c, "lower", 0.1)
        self.assertEqual(r["win_frac"], 1.0)
        self.assertEqual(r["verdict"], "improved")

    def test_regression_past_bound(self):
        p = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        c = [x * 1.2 for x in p]
        r = compare.compare_metric(p, c, "lower", 0.1)
        self.assertFalse(r["bound_ok"])
        self.assertEqual(r["verdict"], "regressed")
        # higher-is-better metrics flip the direction
        r = compare.compare_metric(p, c, "higher", 0.1)
        self.assertEqual(r["verdict"], "improved")

    def test_wide_spread_is_unresolved(self):
        p = [50, 150, 60, 140, 100, 100, 70, 130, 90, 110]
        c = [x * 1.05 for x in p]
        self.assertEqual(compare.compare_metric(p, c, "lower", 0.1)["verdict"],
                         "unresolved")

    def test_setup_spread_is_not_bounded(self):
        p = [50, 150, 60, 140, 100, 100, 70, 130, 90, 110]
        c = [x * 1.05 for x in p]
        r = compare.compare_metric(p, c, "lower", 0.1, spread_bounded=False)
        self.assertEqual(r["verdict"], "within bound")
        r = compare.compare_metric(p, [x * 1.2 for x in p], "lower", 0.1,
                                   spread_bounded=False)
        self.assertEqual(r["verdict"], "regressed")

    def test_ties_count_for_neither_side(self):
        p = [10, 10, 10, 10]
        c = [10, 10, 9, 11]
        r = compare.compare_metric(p, c, "lower", 0.25)
        self.assertEqual(r["win_frac"], 0.25)
        self.assertEqual(r["verdict"], "within bound")


class Checkout(unittest.TestCase):
    def test_refuses_without_engine_sources(self):
        d = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            res = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "cdc_serve",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                timeout=60)
            self.assertNotEqual(res.returncode, 0)
            self.assertNotIn(b'"correct"', res.stdout)
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
