"""Tests of the benchmark's pure arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.dont_write_bytecode = True

import metrics  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 0.5), 2.5)
        self.assertEqual(metrics.percentile([1, 2, 3, 4, 5], 0.9), 4.6)
        self.assertEqual(metrics.percentile([7], 0.99), 7)

    def test_tail_needs_ten_samples_beyond(self):
        # p99 needs 1000 samples; with fewer, the highest percentile that
        # still leaves ten samples above it
        self.assertEqual(metrics.tail_quantile(1000, 0.99), 0.99)
        self.assertEqual(metrics.tail_quantile(500, 0.99), 0.98)
        self.assertEqual(metrics.tail_quantile(100, 0.99), 0.9)
        self.assertEqual(metrics.tail_quantile(100, 0.9), 0.9)
        self.assertEqual(metrics.tail_quantile(40, 0.9), 0.75)
        # fewer than twenty samples: the median is all there is
        self.assertEqual(metrics.tail_quantile(12, 0.9), 0.5)
        self.assertEqual(metrics.tail_quantile(0, 0.9), 0.5)

    def test_timing_reports_its_sample_count(self):
        t = metrics.timing(list(range(1, 101)), 0.99)
        self.assertEqual(t["n"], 100)
        self.assertEqual(t["tail_q"], 0.9)
        self.assertAlmostEqual(t["p50"], 50.5)
        self.assertAlmostEqual(t["tail"], 90.1)

    def test_spread_is_iqr_over_median(self):
        v = [10, 10, 10, 10, 10, 11, 9, 10, 10, 10]
        q1, q2, q3 = __import__("statistics").quantiles(v, n=4)
        self.assertAlmostEqual(metrics.spread(v), (q3 - q1) / q2)
        self.assertEqual(metrics.spread([5, 5, 5, 5]), 0)


class SpanTest(unittest.TestCase):
    def span(self, i, parent, start, end, layer="exec"):
        return {"id": i, "parent": parent, "start_us": start, "end_us": end,
                "layer": layer}

    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(3, 3), (4, 2)]), 0)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_subtracts_covered_part_once(self):
        spans = [self.span(1, 0, 0, 100, "bench"),
                 self.span(2, 1, 10, 40, "jobs"),
                 self.span(3, 1, 30, 60, "jobs"),   # overlaps 2
                 self.span(4, 2, 15, 20),           # grandchild
                 self.span(5, 1, 90, 130)]          # runs past the parent
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - 50 - 10)     # 10..60 and 90..100
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 5)
        self.assertEqual(st[5], 40)

    def test_self_times_of_nested_spans_add_up(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 60),
                 self.span(3, 2, 20, 30), self.span(4, 1, 70, 80)]
        self.assertEqual(sum(metrics.self_times(spans).values()), 100)

    def test_layer_self_times_in_seconds(self):
        spans = [self.span(1, 0, 0, 2_000_000, "jobs"),
                 self.span(2, 1, 500_000, 1_500_000, "exec")]
        self.assertEqual(metrics.layer_self_times(spans),
                         {"jobs": 1.0, "exec": 1.0})


if __name__ == "__main__":
    unittest.main()
