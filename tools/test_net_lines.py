#!/usr/bin/env python3
"""Unit tests for tools/net_lines.py: python3 tools/test_net_lines.py"""
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from net_lines import render, tally  # noqa: E402

TOOL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "net_lines.py")


class TallyTest(unittest.TestCase):
    def test_areas(self):
        c = tally("3\t10\tsrc/main/scala/graft/A.scala\n"
                  "5\t0\tsrc/test/scala/graft/ASpec.scala\n"
                  "2\t1\tREADME.md\n1\t1\t.claude/skills/verify/SKILL.md\n"
                  "7\t0\ttools/x.py\n0\t4\tbuild.sbt\n")
        self.assertEqual(c["src/main"], [3, 10])
        self.assertEqual(c["src/test"], [5, 0])
        self.assertEqual(c["docs"], [3, 2])
        self.assertEqual(c["tools"], [7, 0])
        self.assertEqual(c["other"], [0, 4])

    def test_binary_and_rename(self):
        c = tally("-\t-\ttools/a.bin\n"
                  "1\t2\tsrc/{test => main}/scala/B.scala\n"
                  "4\t0\tOLD.md => tools/new.py\n")
        self.assertEqual(c["tools"], [4, 0])
        self.assertEqual(c["docs"], [0, 0])
        self.assertEqual(c["src/main"], [1, 2])

    def test_render_nets(self):
        out = render(tally("3\t10\tsrc/main/A.scala\n"))
        self.assertIn("src/main         3       10      -7", out)
        self.assertTrue(out.splitlines()[-1].startswith("total"))


class GitTest(unittest.TestCase):
    def test_against_a_base_commit(self):
        with tempfile.TemporaryDirectory() as d:
            def git(*a):
                subprocess.run(["git", "-c", "user.name=t", "-c", "user.email=t@t",
                                *a], cwd=d, check=True, capture_output=True)
            git("init", "-q")
            os.makedirs(os.path.join(d, "src", "main"))
            with open(os.path.join(d, "src", "main", "A.scala"), "w") as f:
                f.write("a\nb\nc\n")
            git("add", "-A")
            git("commit", "-qm", "base")
            with open(os.path.join(d, "src", "main", "A.scala"), "w") as f:
                f.write("a\n")
            with open(os.path.join(d, "NOTES.md"), "w") as f:
                f.write("x\n")
            git("add", "-A")
            out = subprocess.run([sys.executable, TOOL, "HEAD"], cwd=d, check=True,
                                 capture_output=True, text=True).stdout
            self.assertIn("src/main         0        2      -2", out)
            self.assertIn("docs             1        0      +1", out)


if __name__ == "__main__":
    unittest.main()
