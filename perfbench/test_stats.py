"""Self-tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 95), 95)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile([7.0], 99), 7.0)

    def test_highest_percentile_keeps_ten_beyond(self):
        self.assertEqual(stats.highest_percentile(1000), 99.0)
        self.assertEqual(stats.highest_percentile(10000), 99.9)
        self.assertEqual(stats.highest_percentile(999), 95.0)
        self.assertEqual(stats.highest_percentile(200), 95.0)
        self.assertEqual(stats.highest_percentile(199), 90.0)
        self.assertEqual(stats.highest_percentile(40), 75.0)
        self.assertEqual(stats.highest_percentile(20), 50.0)
        self.assertIsNone(stats.highest_percentile(19))

    def test_latency_reports_count_and_percentile_taken(self):
        xs = [float(i) for i in range(150)]
        out = stats.latency(xs, want=99.0)
        self.assertEqual(out["n"], 150)
        self.assertEqual(out["tail_p"], 90.0)      # 99 would leave 1.5 beyond
        self.assertEqual(out["tail"], stats.percentile(xs, 90))
        self.assertEqual(stats.latency(xs, want=75.0)["tail_p"], 75.0)
        few = stats.latency([1.0, 2.0, 3.0], want=95.0)
        self.assertIsNone(few["tail"])
        self.assertEqual(few["p50"], 2.0)

    def test_decision_tail_falls_back_to_max(self):
        self.assertEqual(stats.decision_tail([1.0, 5.0, 3.0], 99.0), 5.0)
        self.assertIsNone(stats.decision_tail([], 99.0))


class OpenLoop(unittest.TestCase):
    def test_latency_counts_from_due_time(self):
        # Second request waited 30 ms for a connection: its latency
        # includes that wait, and the generator was 2 ms late on it.
        due = [0.0, 10.0]
        released = [0.5, 12.0]
        end = [20.0, 60.0]
        lat, late = stats.open_loop(due, end, released)
        self.assertEqual(lat, [20.0, 50.0])
        self.assertEqual(late, [0.5, 2.0])


class SustainableRate(unittest.TestCase):
    def test_flat_backlog_is_not_growing(self):
        samples = [(t, 100 + (t % 3)) for t in range(40)]
        self.assertFalse(stats.backlog_growing(samples, rate_per_s=1000, limit_ms=1000))

    def test_growing_backlog(self):
        samples = [(t, 100 * t) for t in range(40)]
        self.assertTrue(stats.backlog_growing(samples, rate_per_s=1000, limit_ms=1000))

    def test_decision_needs_latency_and_backlog(self):
        self.assertTrue(stats.sustainable(90.0, 100.0, growing=False))
        self.assertFalse(stats.sustainable(110.0, 100.0, growing=False))
        self.assertFalse(stats.sustainable(90.0, 100.0, growing=True))
        self.assertFalse(stats.sustainable(90.0, 100.0, growing=False, aborted=True))
        self.assertFalse(stats.sustainable(None, 100.0, growing=False))

    def test_max_rate_stops_at_first_failure(self):
        self.assertEqual(stats.max_sustainable([(25, True), (50, True), (100, False),
                                                (200, True)]), 50)
        self.assertEqual(stats.max_sustainable([(25, False), (50, True)]), 0.0)


class SpanSelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            (1, 0, "query", 0.0, 100.0),
            (2, 1, "build", 0.0, 30.0),
            (3, 1, "exec", 40.0, 90.0),
            (4, 3, "inner", 50.0, 60.0),
            (5, 1, "overlap", 80.0, 95.0),   # overlaps exec: counted once
        ]
        self_ms = stats.self_times(spans)
        self.assertAlmostEqual(self_ms[1], 100 - 30 - 55)
        self.assertAlmostEqual(self_ms[3], 50 - 10)
        self.assertAlmostEqual(self_ms[4], 10)

    def test_union_clipped(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 20), (30, 40)], 2, 35), 23)
        self.assertEqual(stats.union_ms([], 0, 10), 0)


class OracleCanonical(unittest.TestCase):
    def test_order_and_types_do_not_matter(self):
        try:
            import pandas as pd
            import oracle
        except ImportError as e:  # pragma: no cover
            self.skipTest(f"oracle dependencies missing: {e}")
        a = pd.DataFrame({"k": [2, 1], "v": [[1, 2], None], "s": ["b", "a"]})
        b = pd.DataFrame({"s": ["a", "b"], "v": [None, (1, 2)], "k": [1, 2]})
        self.assertIsNone(oracle.compare(a, b))
        c = pd.DataFrame({"s": ["a", "b"], "v": [None, (1, 3)], "k": [1, 2]})
        self.assertIn("rows differ", oracle.compare(a, c))
        self.assertIn("rows", oracle.compare(a, b.iloc[:1]))
        self.assertIn("columns", oracle.compare(a, b.rename(columns={"k": "x"})))


class FailedOps(unittest.TestCase):
    def test_counts_operations_not_labels(self):
        failures = [{"op": "stream:count", "cause": "", "ops": 40},
                    {"op": "stream:replay:0", "cause": "", "ops": 146626},
                    {"op": "serve:ml:7", "cause": ""}]
        self.assertEqual(stats.failed_ops(failures, 10**6), 40 + 146626 + 1)

    def test_one_operation_failing_twice_counts_once(self):
        failures = [{"op": "stream:counts:3", "cause": "a"},
                    {"op": "stream:counts:3", "cause": "b"}]
        self.assertEqual(stats.failed_ops(failures, 100), 1)

    def test_bounded_by_attempted_and_at_least_one(self):
        self.assertEqual(stats.failed_ops([{"op": "x", "cause": "", "ops": 500}], 100), 100)
        self.assertEqual(stats.failed_ops([{"op": "metrics", "cause": "", "ops": 0}], 100), 1)
        self.assertEqual(stats.failed_ops([], 100), 0)


if __name__ == "__main__":
    unittest.main()
