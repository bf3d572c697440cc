"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import pandas as pd  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402


class DriverTime(unittest.TestCase):
    def test_overlapping_tasks_count_once(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 30)]), 25)

    def test_nested_and_touching(self):
        self.assertEqual(stats.union_ms([(0, 100), (10, 20), (100, 110)]), 110)

    def test_clipped_to_call_window(self):
        self.assertEqual(stats.union_ms([(0, 50), (90, 200)], 40, 100), 20)

    def test_driver_is_wall_minus_busy(self):
        # 2 s call, tasks busy over 1.5 s of it (two parallel tasks overlap)
        d = stats.driver_s(2.0, 1000, 3000, [(1200, 2200), (1700, 2700)])
        self.assertAlmostEqual(d, 0.5)

    def test_no_tasks_is_all_driver(self):
        self.assertAlmostEqual(stats.driver_s(0.3, 0, 300, []), 0.3)


class FailureCounting(unittest.TestCase):
    def test_mismatched_output_is_a_failed_operation(self):
        got = pd.DataFrame({"b": ["x", "y"], "a": [1, 2]})
        good = pd.DataFrame({"a": [2, 1], "b": ["y", "x"]})
        bad = pd.DataFrame({"a": [1, 3], "b": ["x", "y"]})
        ok, _ = oracle.compare(got, good)
        self.assertTrue(ok)
        ok, detail = oracle.compare(got, bad)
        self.assertFalse(ok)
        self.assertIn("rows", detail)
        ops = [{"ok": True}, {"ok": True}]
        checks = [{"name": "oracle_q", "ok": ok, "detail": detail}]
        self.assertEqual(stats.count_failures(ops, checks), (3, 1))

    def test_int_and_float_renderings_differ(self):
        ok, _ = oracle.compare(pd.DataFrame({"a": [1]}), pd.DataFrame({"a": [1.0]}))
        self.assertFalse(ok)

    def test_thrown_call_is_failed(self):
        self.assertEqual(stats.count_failures([{"ok": False}], []), (1, 1))


class Reduction(unittest.TestCase):
    RES = {
        "facts": {"setup_s": 12.0, "live_heap_mb": 100.0, "dedup.cand_per_dup": 1.5},
        "passes": [
            {"pass": 1, "traced": False, "wallS": 4.0, "gcS": 0.1, "heapMb": 90.0},
            {"pass": 2, "traced": True, "wallS": 3.3, "gcS": 0.1, "heapMb": 90.0},
            {"pass": 3, "traced": False, "wallS": 2.0, "gcS": 0.1, "heapMb": 90.0},
            {"pass": 4, "traced": False, "wallS": 3.0, "gcS": 0.1, "heapMb": 90.0}],
        "ops": [{"pass": 2, "traced": True, "layer": "graph", "name": "g_cc_star",
                 "group": "call-1", "t0": 0, "t1": 2000, "secs": 2.0, "ok": True},
                {"pass": 2, "traced": True, "layer": "scrape", "name": "s3_html_parse",
                 "group": "call-2", "t0": 2000, "t1": 2500, "secs": 0.5, "ok": True}],
        "tasks": [{"group": "call-1", "launchMs": 500, "finishMs": 1500, "runMs": 900,
                   "shuffleWrite": 1048576},
                  {"group": "call-1", "launchMs": 1000, "finishMs": 1800, "runMs": 700,
                   "shuffleWrite": 0}],
        "jobs": {"call-1": 3, "call-2": 1},
        "scan_bytes": {"call-2": 3 * 1048576},
    }

    def test_end_to_end_uses_untraced_median(self):
        m = stats.end_to_end(self.RES, rows=600)
        self.assertEqual(m["pass_s.p50"][0], 3.0)
        self.assertEqual(m["rows_per_s"][0], 200.0)
        self.assertEqual(m["setup_s"][0], 12.0)

    def test_per_layer_splits_driver_and_task_time(self):
        m = stats.per_layer(self.RES)
        self.assertAlmostEqual(m["graph.wall_s"][0], 2.0)
        self.assertAlmostEqual(m["graph.driver_s"][0], 0.7)
        self.assertAlmostEqual(m["graph.task_s"][0], 1.6)
        self.assertEqual(m["graph.jobs"][0], 3)
        self.assertEqual(m["graph.g_cc_star.jobs"][0], 3)
        self.assertAlmostEqual(m["graph.shuffle_mb"][0], 1.0)
        self.assertAlmostEqual(m["trace.overhead_frac"][0], 0.1)
        self.assertEqual(m["relational.wall_s"][0], 0.0)

    def test_scan_volume_is_attributed_per_call(self):
        m = stats.per_layer(self.RES)
        self.assertAlmostEqual(m["scrape.scan_mb"][0], 3.0)
        self.assertEqual(m["relational.scan_mb"][0], 0.0)
        self.assertEqual(m["dedup.cand_per_dup"][0], 1.5)


class LshWaste(unittest.TestCase):
    BASE = "a b c d e f g h i j"

    def test_shingles_are_five_word_windows(self):
        self.assertEqual(len(stats.shingles(self.BASE)), 6)
        self.assertEqual(stats.shingles("x y"), {"x y"})

    def test_candidates_per_confirmed_near_duplicate(self):
        texts = {0: self.BASE, 1: self.BASE + " dup",  # Jaccard 6/7
                 2: "k l m n o p q r s t"}              # Jaccard 0 with both
        self.assertEqual(stats.cand_per_dup([(0, 1), (0, 2), (1, 2)], texts), 3.0)

    def test_no_confirmed_pair_counts_every_candidate(self):
        texts = {0: self.BASE, 2: "k l m n o p q r s t"}
        self.assertEqual(stats.cand_per_dup([(0, 2)], texts), 1.0)


class Generator(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("corpus_prep", 7, os.path.join(d, "a"))
            gen.generate("corpus_prep", 7, os.path.join(d, "b"))
            gen.generate("corpus_prep", 8, os.path.join(d, "c"))
            a, b, c = (gen.digest(os.path.join(d, x)) for x in "abc")
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


if __name__ == "__main__":
    unittest.main()
