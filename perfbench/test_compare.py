"""Tests of the benchmark's order statistics and compare verdicts.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import compare  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(10))
        self.assertIsNone(stats.tail_percentile(39))
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(99), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)

    def test_tail_value_is_nearest_rank(self):
        values = list(range(1, 41))
        self.assertEqual(stats.tail(values), (75, 30))
        self.assertIsNone(stats.tail(values[:20]))
        self.assertEqual(stats.percentile(values, 50), 20)
        self.assertEqual(stats.percentile([5.0], 99), 5.0)

    def test_spread_is_quartile_distance_over_median(self):
        values = [9.0, 10.0, 10.0, 10.0, 11.0]
        q1, q2, q3 = stats.quartiles(values)
        self.assertEqual(q2, 10.0)
        self.assertAlmostEqual(stats.spread(values), (q3 - q1) / 10.0)


class Verdicts(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.0, 10.1, 9.9]

    def test_clear_gain_is_improved(self):
        change = [v * 0.8 for v in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1), "improved")

    def test_gain_for_higher_is_better(self):
        change = [v * 1.2 for v in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "higher", 0.1), "improved")

    def test_same_distribution_is_unchanged(self):
        change = list(reversed(self.parent))
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1), "unchanged")

    def test_small_worsening_within_bound_is_unchanged(self):
        change = [v * 1.03 for v in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1), "unchanged")

    def test_worsening_beyond_bound_is_regressed(self):
        change = [v * 1.15 for v in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1), "regressed")

    def test_gain_that_loses_pairs_is_not_claimed(self):
        # median better, but the change wins only 6 of 10 pairs
        change = [9.5, 9.5, 9.5, 9.5, 9.5, 9.5, 10.4, 10.4, 10.4, 10.4]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1), "unchanged")

    def test_noisy_metric_is_unresolved(self):
        noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        change = [v * 0.95 for v in noisy]
        self.assertEqual(compare.verdict(noisy, change, "lower", 0.1), "unresolved")

    def test_noisy_but_disjoint_is_resolved(self):
        noisy = [50.0, 60.0, 55.0, 70.0, 65.0, 52.0, 68.0, 58.0, 62.0, 66.0]
        faster = [v / 10.0 for v in noisy]
        self.assertEqual(compare.verdict(noisy, faster, "lower", 0.1), "improved")
        self.assertEqual(compare.verdict(faster, noisy, "lower", 0.1), "regressed")


class Pairs(unittest.TestCase):
    """The pairs command against a stubbed benchmark run."""

    def test_alternates_order_and_reports_every_metric(self):
        spec = {"command": ["true"], "run_seconds": 1, "paths": ["perfbench"],
                "workloads": [{"name": "w", "why": "x"}],
                "end_to_end": [{"name": "t", "unit": "s", "better": "lower", "bound": 0.1}]}
        calls = []

        def fake_run(root, spec_, workload, seed, trace=0):
            calls.append((root, seed))
            value = 8.0 if root == "change" else 10.0
            return {"metrics": {"t": {"value": value + seed % 3 * 0.01, "unit": "s"}}}

        saved = (compare.load_spec, compare.bench_digest, compare.run_once)
        compare.load_spec = lambda root: spec
        compare.bench_digest = lambda root: "same"
        compare.run_once = fake_run
        try:
            with tempfile.TemporaryDirectory() as tmp:
                out = os.path.join(tmp, "pairs.json")
                compare.main(["pairs", "--parent", "parent", "--change", "change",
                              "--pairs", "10", "--out", out])
                with open(out) as f:
                    report = json.load(f)
        finally:
            compare.load_spec, compare.bench_digest, compare.run_once = saved
        self.assertEqual([r for r, _ in calls[:4]], ["parent", "change", "change", "parent"])
        self.assertEqual(len(calls), 20)
        self.assertEqual(report[0]["wins"], 10)
        self.assertEqual(report[0]["verdict"], "improved")

    def test_overhead_compares_traced_with_untraced_pass(self):
        spec = {"command": ["true"], "run_seconds": 1, "paths": ["perfbench"],
                "workloads": [{"name": "w", "why": "x"}], "end_to_end": []}
        seen = []

        def fake_run(root, spec_, workload, seed, trace=0):
            seen.append((seed, trace))
            key = "trace.pass_s" if trace else "pass_s"
            return {"metrics": {key: {"value": 11.0 if trace else 10.0, "unit": "s"}}}

        saved = (compare.load_spec, compare.run_once)
        compare.load_spec = lambda root: spec
        compare.run_once = fake_run
        try:
            compare.main(["overhead", "--runs", "2"])
        finally:
            compare.load_spec, compare.run_once = saved
        self.assertEqual(seen, [(2000, 0), (2000, 1), (2001, 0), (2001, 1)])

    def test_fewer_than_ten_pairs_is_refused(self):
        with self.assertRaises(SystemExit):
            compare.main(["pairs", "--parent", "a", "--change", "b", "--pairs", "5"])


if __name__ == "__main__":
    unittest.main()
