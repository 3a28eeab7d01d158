#!/usr/bin/env python3
"""Unit tests for tools/verify_diff.py: python3 tools/test_verify_diff.py"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from verify_diff import diff_oracles, main  # noqa: E402


def verify_dir(root, tables, oracles):
    """A Verify-shaped dir: <root>/<query>/part-0.parquet + oracle_sql.json."""
    os.makedirs(root)
    con = duckdb.connect()
    for name, sql in tables.items():
        os.makedirs(os.path.join(root, name))
        con.execute(f"COPY ({sql}) TO '{root}/{name}/part-0.parquet' (FORMAT PARQUET)")
    with open(os.path.join(root, "oracle_sql.json"), "w", encoding="utf-8") as f:
        json.dump(oracles, f)
    return root


def run(base, change):
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        code = main(base, change)
    return code, out.getvalue()


class VerifyDiffTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.base = verify_dir(os.path.join(self.tmp.name, "base"), {
            "q1": "SELECT * FROM (VALUES (1, 'a', 0.5), (2, 'b', 'NaN'::DOUBLE)) t(id, s, x)",
            "q2": "SELECT 7 AS n"}, {"q1": "SELECT 1", "q2": "SELECT 2"})

    def tearDown(self):
        self.tmp.cleanup()

    def test_same_rows_in_another_order_and_column_order_pass(self):
        change = verify_dir(os.path.join(self.tmp.name, "c"), {
            "q1": "SELECT * FROM (VALUES ('NaN'::DOUBLE, 'b', 2), (0.5, 'a', 1)) t(x, s, id)",
            "q2": "SELECT 7 AS n"}, {"q1": "SELECT 1", "q2": "SELECT 2"})
        code, out = run(self.base, change)
        self.assertEqual(code, 0)
        self.assertIn("rows: 2 identical, 0 differ", out)
        self.assertIn("oracle_sql changed (0): -", out)

    def test_changed_value_and_missing_query_fail(self):
        change = verify_dir(os.path.join(self.tmp.name, "c"), {
            "q1": "SELECT * FROM (VALUES (1, 'a', 0.5), (2, 'b', 0.25::DOUBLE)) t(id, s, x)"},
            {"q1": "SELECT 1", "q2": "SELECT 2"})
        code, out = run(self.base, change)
        self.assertEqual(code, 1)
        self.assertIn("DIFF q1: first differing sorted row", out)
        self.assertIn("DIFF q2: no output in change", out)

    def test_oracle_text_changes_are_listed_not_failed(self):
        change = verify_dir(os.path.join(self.tmp.name, "c"), {
            "q1": "SELECT * FROM (VALUES (1, 'a', 0.5), (2, 'b', 'NaN'::DOUBLE)) t(id, s, x)",
            "q2": "SELECT 7 AS n"}, {"q1": "SELECT  1", "q3": "SELECT 3"})
        code, out = run(self.base, change)
        self.assertEqual(code, 0)
        self.assertIn("oracle_sql changed (1): q1", out)
        self.assertIn("oracle_sql added (1): q3", out)
        self.assertIn("oracle_sql removed (1): q2", out)

    def test_diff_oracles_is_byte_exact(self):
        self.assertEqual(diff_oracles({"a": "x\n", "b": "y"}, {"a": "x", "b": "y"}),
                         (["a"], [], []))


if __name__ == "__main__":
    unittest.main()
