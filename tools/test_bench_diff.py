#!/usr/bin/env python3
"""Unit tests for tools/bench_diff.py: python3 tools/test_bench_diff.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from bench_diff import compile_diff  # noqa: E402


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


if __name__ == "__main__":
    unittest.main()
