#!/usr/bin/env python3
"""Unit tests for tools/bench_diff.py: python3 tools/test_bench_diff.py"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import bench_diff  # noqa: E402
from bench_diff import compile_diff, unstable_compiles  # noqa: E402


class CompileDiffTest(unittest.TestCase):
    def test_rep2_rise_from_zero_is_flagged(self):
        a = {"codegen_compiles": {"q": [12, 0, 0]}}
        b = {"codegen_compiles": {"q": [12, 3, 0]}}
        self.assertEqual(compile_diff(a, b), [("q", [12, 0, 0], [12, 3, 0], True)])

    def test_unchanged_query_is_not_listed(self):
        a = {"codegen_compiles": {"q": [5, 0], "r": [7, 2]}}
        b = {"codegen_compiles": {"q": [5, 0], "r": [7, 4]}}
        self.assertEqual(compile_diff(a, b), [("r", [7, 2], [7, 4], False)])

    def test_file_without_the_field(self):
        old = {"queries": {"q": 1.0}}
        new = {"codegen_compiles": {"q": [5, 1]}}
        self.assertEqual(compile_diff(old, new), [])
        self.assertEqual(compile_diff(new, old), [])

    def test_query_unstable_between_base_runs_is_neither_changed_nor_flagged(self):
        a = {"codegen_compiles": {"dedup_winnow": [42, 0, 0], "q": [5, 0]}}
        a2 = {"codegen_compiles": {"dedup_winnow": [42, 6, 2], "q": [5, 0]}}
        b = {"codegen_compiles": {"dedup_winnow": [42, 4, 4], "q": [5, 1]}}
        unstable = unstable_compiles(a, a2)
        self.assertEqual(unstable, ["dedup_winnow"])
        self.assertEqual(compile_diff(a, b, unstable), [("q", [5, 0], [5, 1], True)])

    def test_base_rerun_flag_lists_the_unstable_query(self):
        runs = {"before": [42, 0, 0], "before2": [42, 6, 2], "after": [42, 4, 4]}
        with tempfile.TemporaryDirectory() as d:
            paths = {}
            for name, compiles in runs.items():
                paths[name] = os.path.join(d, name + ".json")
                with open(paths[name], "w") as f:
                    json.dump({"queries": {"dedup_winnow": 1.0},
                               "codegen_compiles": {"dedup_winnow": compiles}}, f)
            argv = ["bench_diff.py", paths["before"], paths["after"],
                    "--base-rerun", paths["before2"]]
            out = io.StringIO()
            with mock.patch.object(sys, "argv", argv), contextlib.redirect_stdout(out):
                bench_diff.main()
        text = out.getvalue()
        self.assertIn("codegen_compiles changed on 0 queries (0 flagged", text)
        self.assertIn("unstable between the two base runs (1): dedup_winnow", text)
        self.assertNotIn("FLAG", text)


if __name__ == "__main__":
    unittest.main()
