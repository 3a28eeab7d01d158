#!/usr/bin/env python3
"""Unit tests for tools/ab_pairs.py: python3 tools/test_ab_pairs.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from ab_pairs import job_counts, jobs_report, quartiles, report, verdict, wins  # noqa: E402

PARENT = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]


class VerdictTest(unittest.TestCase):
    def test_gain_needs_nine_of_ten_wins_and_a_gap_above_the_iqr(self):
        change = [p - 1.0 for p in PARENT]
        self.assertEqual(verdict(PARENT, change, "lower", 0.25), "gain")
        # one lost pair of ten still clears 9/10
        self.assertEqual(verdict(PARENT, change[:9] + [11.0], "lower", 0.25), "gain")
        # two lost pairs do not
        self.assertEqual(verdict(PARENT, change[:8] + [11.0, 11.0], "lower", 0.25),
                         "unresolved")

    def test_all_wins_inside_the_parents_iqr_are_unresolved(self):
        change = [p - 0.01 for p in PARENT]
        self.assertEqual(wins(PARENT, change, "lower"), 10)
        self.assertEqual(verdict(PARENT, change, "lower", 0.25), "unresolved")

    def test_regression_is_a_median_worse_than_the_bound(self):
        self.assertEqual(verdict(PARENT, [p * 1.3 for p in PARENT], "lower", 0.25),
                         "regression")
        self.assertEqual(verdict(PARENT, [p * 1.2 for p in PARENT], "lower", 0.25),
                         "unresolved")

    def test_higher_is_better_metrics_flip_the_direction(self):
        self.assertEqual(verdict(PARENT, [p + 1.0 for p in PARENT], "higher", 0.25), "gain")
        self.assertEqual(verdict(PARENT, [p * 0.7 for p in PARENT], "higher", 0.25),
                         "regression")

    def test_quartiles_of_one_value(self):
        self.assertEqual(quartiles([3.0]), (3.0, 3.0, 3.0))


class ReportTest(unittest.TestCase):
    def test_counts_failures_and_flags_a_regression(self):
        def run(v, failed=0):
            return {"attempted": 10, "failed": failed,
                    "metrics": {"cpu_s": {"value": v, "unit": "s"}}}
        runs = {"w": {"parent": [run(10.0), run(10.0)],
                      "change": [run(20.0, failed=1), run(20.0)]}}
        lines, regressed = report(runs, [{"name": "cpu_s", "better": "lower",
                                          "bound": 0.25}])
        self.assertTrue(regressed)
        self.assertIn("  change failed operations: 1/20", lines)
        self.assertTrue(lines[-1].rstrip().endswith("regression"))


class JobsTest(unittest.TestCase):
    def test_counts_read_exec_jobs_and_each_querys_detail(self):
        result = {"metrics": {"exec.jobs": {"value": 57.0, "unit": "count"}}}
        trace = {"exec.jobs": 57.0,
                 "detail": {"pagerank_pages": {"wall_s": 0.7, "jobs": 21, "tasks": 80},
                            "gopher_rules": {"wall_s": 0.2, "jobs": 3, "tasks": 9}}}
        self.assertEqual(job_counts(result, trace),
                         {"exec.jobs": 57, "pagerank_pages": 21, "gopher_rules": 3})
        # log_chain's trace has no per-query detail
        self.assertEqual(job_counts(result, {"exec.jobs": 57.0}), {"exec.jobs": 57})

    def test_report_lists_both_sides_and_the_delta(self):
        lines = jobs_report({"registry_slice": {
            "parent": {"exec.jobs": 120, "pagerank_pages": 26},
            "change": {"exec.jobs": 115, "pagerank_pages": 21, "new_q": 4}}})
        self.assertEqual(lines[0], "registry_slice: jobs")
        self.assertEqual(lines[2].split(), ["exec.jobs", "120", "115", "-5"])
        self.assertEqual(lines[3].split(), ["pagerank_pages", "26", "21", "-5"])
        self.assertEqual(lines[4].split(), ["new_q", "-", "4", "-"])


if __name__ == "__main__":
    unittest.main()
