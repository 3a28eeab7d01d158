"""Unit tests for gmallbench's own code (no JVM needed).

    python3 -m unittest discover -s gmallbench -p 'test_*.py'
"""
import json
import math
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import fixture_profile  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_and_samples_beyond(self):
        xs = list(range(1, 1001))  # 1..1000
        self.assertEqual(M.percentile(xs, 50), (500, 500))
        self.assertEqual(M.percentile(xs, 99), (990, 10))
        self.assertEqual(M.percentile(xs, 100), (1000, 0))

    def test_p99_needs_a_thousand_samples_for_ten_beyond(self):
        self.assertLess(M.percentile(list(range(999)), 99)[1], 10)
        self.assertGreaterEqual(M.percentile(list(range(1000)), 99)[1], 10)

    def test_order_independent_and_empty(self):
        self.assertEqual(M.percentile([3, 1, 2], 50), (2, 1))
        v, n = M.percentile([], 50)
        self.assertTrue(math.isnan(v))
        self.assertEqual(n, 0)


class NameTest(unittest.TestCase):
    def test_valid_names(self):
        for n in ("setup_s", "streaming.p2_split.overhead_ms", "exec.local1_drain_rows_per_s",
                  "9lives", "a-b"):
            self.assertEqual(M.check_name(n), n)

    def test_invalid_names(self):
        for n in ("", "_lead", ".lead", "has space", "slash/name", "x" * 65, "ünï"):
            with self.assertRaises(ValueError):
                M.check_name(n)

    def test_layer_metric_names_are_valid_and_unique(self):
        for n in M.LAYER_METRICS:
            M.check_name(n)
        self.assertEqual(len(M.LAYER_METRICS), len(set(M.LAYER_METRICS)))


class ResultShapeTest(unittest.TestCase):
    def test_shape(self):
        out = M.result(True, 12, 0, {"work_s": (1.25, "s"), "latency_p99_ms": (7, "ms")})
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(out["metrics"]["work_s"], {"value": 1.25, "unit": "s"})
        self.assertIsInstance(out["metrics"]["latency_p99_ms"]["value"], float)
        json.loads(json.dumps(out))  # one JSON object, serializable as is

    def test_rejects_nan_and_no_attempts(self):
        with self.assertRaises(ValueError):
            M.result(True, 1, 0, {"work_s": (float("nan"), "s")})
        with self.assertRaises(ValueError):
            M.result(True, 0, 0, {"work_s": (1.0, "s")})

    def test_benchmark_json_matches_layer_list(self):
        path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                            "BENCHMARK.json")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual([m["name"] for m in bench["per_layer"]], list(M.LAYER_METRICS))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        a, b = gen.log_events(7, 500), gen.log_events(7, 500)
        self.assertEqual(a["lines"], b["lines"])
        self.assertNotEqual(a["lines"], gen.log_events(8, 500)["lines"])

    def test_tables_are_deterministic(self):
        with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
            gen.tables(3, d1)
            gen.tables(3, d2)
            for t in os.listdir(d1):
                with open(os.path.join(d1, t), "rb") as f1, open(os.path.join(d2, t), "rb") as f2:
                    self.assertEqual(f1.read(), f2.read(), t)

    def test_tables_match_the_fixture_profile(self):
        with tempfile.TemporaryDirectory() as d:
            gen.tables(5, d)
            self.assertEqual(fixture_profile.differences(fixture_profile.profile(d)), {})

    def test_log_stream_renders_the_events_table(self):
        ev = gen.log_events(4, 3000)
        rows = gen.events_table(4).to_pydict()
        users = {str(u) for u in rows["user_id"]}
        # user_id -> mid, one salt per replay
        self.assertTrue(all(m.split("_")[1] in users for m in ev["mid"]))
        self.assertLessEqual(len({m.split("_")[2] for m in ev["mid"]}), gen.LOG_REPLAYS)
        # signup rows become launch records, the rest page views
        recs = [json.loads(l) for l in ev["lines"]]
        self.assertEqual([("start" in r) for r in recs], list(ev["is_start"]))
        self.assertTrue(all(("page" in r) != ("start" in r) for r in recs))
        self.assertEqual([r["ts"] for r in recs],
                         [gen.BASE_MS + i * gen.LOG_STEP_MS for i in range(3000)])
        share = sum(ev["is_start"]) / 3000
        self.assertAlmostEqual(share, 0.2, delta=0.03)

    def test_expected_log_semantics(self):
        # mid m: entry at 0, page 5 s later (matched), entry at 30 s, page
        # 45 s (15 s later: the 30 s entry bounced), entry at 60 s (pending,
        # flushed as a bounce). Only the first entry of the day is a UV.
        base = gen.BASE_MS
        ev = {"mid": ["m"] * 5, "ts": [base + s * 1000 for s in (0, 5, 30, 45, 60)],
              "is_start": [False] * 5,
              "last_page_id": [None, "home", None, "home", None]}
        uv, bounce = gen.expected_log(ev)
        self.assertEqual(uv, {("m", base)})
        self.assertEqual(bounce, {("m", base + 30_000), ("m", base + 60_000)})


if __name__ == "__main__":
    unittest.main()
