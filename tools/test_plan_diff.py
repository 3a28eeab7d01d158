#!/usr/bin/env python3
"""Unit tests for tools/plan_diff.py: python3 tools/test_plan_diff.py"""
import contextlib
import io
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from plan_diff import main, normalize  # noqa: E402

PLAN = """== Physical Plan ==
AdaptiveSparkPlan (3)
+- Project (2)
   +- Scan ExistingRDD (1)

(1) Scan ExistingRDD
Arguments: [c_id#{a}L, c_emb#{b}], MapPartitionsRDD[{rdd}] at localCheckpoint at Similarity.scala:{line}, ExistingRDD

(2) Project
Input [2]: [c_id#{a}L, topk(graft.functions.TopK@{hash})]
Arguments: graft.operators.Extras$$$Lambda${lam}/0x{cls}@{hash}, obj#{a}

(3) AdaptiveSparkPlan
Arguments: isFinalPlan=false, plan_id={pid}
"""


def plan(a=1, b=2, rdd=138, line=1198, hsh="3a054e10", pid=2742, op="Project",
         lam=6092, cls="00007f46655445e0"):
    return PLAN.format(a=a, b=b, rdd=rdd, line=line, hash=hsh, pid=pid, lam=lam,
                       cls=cls).replace(
        "(2) Project", f"(2) {op}")


def dump_dir(root, name, queries):
    d = os.path.join(root, name)
    os.makedirs(d)
    for q, text in queries.items():
        with open(os.path.join(d, q + ".txt"), "w", encoding="utf-8") as f:
            f.write(text)
    return d


def run(*args):
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        code = main(list(args))
    return code, out.getvalue()


class PlanDiffTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.root = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def test_normalize_strips_run_ids_only(self):
        self.assertEqual(normalize(plan()),
                         normalize(plan(a=9, b=8, rdd=7, line=6, hsh="abc", pid=5,
                                        lam=6081, cls="00007f9561550400")))
        self.assertNotEqual(normalize(plan()), normalize(plan(op="Filter")))

    def test_identical_runs_exit_0(self):
        base = dump_dir(self.root, "base", {"q1": plan(), "q2": plan(a=3)})
        change = dump_dir(self.root, "change", {"q1": plan(a=40), "q2": plan(a=50)})
        code, out = run(base, change)
        self.assertEqual(code, 0)
        self.assertIn("plans: 2 identical, 0 changed, 0 unstable", out)

    def test_changed_plan_exits_1_and_is_listed(self):
        base = dump_dir(self.root, "base", {"q1": plan(), "q2": plan()})
        change = dump_dir(self.root, "change", {"q1": plan(), "q2": plan(op="Filter")})
        code, out = run(base, change)
        self.assertEqual(code, 1)
        self.assertIn("changed (1): q2", out)

    def test_unstable_base_query_is_not_a_change(self):
        base = dump_dir(self.root, "base", {"q1": plan(), "q2": plan()})
        rerun = dump_dir(self.root, "rerun", {"q1": plan(), "q2": plan(op="Sort")})
        change = dump_dir(self.root, "change", {"q1": plan(), "q2": plan(op="Filter")})
        code, out = run(base, change, "--base-rerun", rerun)
        self.assertEqual(code, 0)
        self.assertIn("unstable (1): q2", out)
        self.assertIn("changed (0): -", out)

    def test_added_and_removed_queries_fail(self):
        base = dump_dir(self.root, "base", {"q1": plan(), "gone": plan()})
        change = dump_dir(self.root, "change", {"q1": plan(), "new": plan()})
        code, out = run(base, change)
        self.assertEqual(code, 1)
        self.assertIn("added (1): new", out)
        self.assertIn("removed (1): gone", out)

    def test_usage_error_exits_2(self):
        with contextlib.redirect_stderr(io.StringIO()):
            self.assertEqual(main(["only-one"]), 2)
            self.assertEqual(main(["a", "b", "--base-rerun"]), 2)


if __name__ == "__main__":
    unittest.main()
