"""Arithmetic of the benchmark. Run: python3 -m unittest discover -s perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from benchlib import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertEqual(stats.needed(0.90), 100)
        self.assertEqual(stats.needed(0.75), 40)
        self.assertEqual(stats.needed(0.50), 20)
        self.assertEqual(stats.samples_beyond(100, 0.90), 10)
        self.assertEqual(stats.samples_beyond(99, 0.90), 9)

    def test_tail_refuses_too_few_samples(self):
        with self.assertRaises(ValueError):
            stats.tail(list(range(99)), 0.90)
        with self.assertRaises(ValueError):
            stats.tail(list(range(39)), 0.75)
        self.assertAlmostEqual(stats.tail(list(range(100)), 0.90), 89.1)
        self.assertAlmostEqual(stats.tail(list(range(40)), 0.75), 29.25)

    def test_linear_interpolation(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 0.5), 2.5)
        self.assertEqual(stats.percentile([7], 0.9), 7)
        self.assertEqual(stats.median([1, 2, 10]), 2)


class SelfTime(unittest.TestCase):
    @staticmethod
    def span(i, parent, layer, a, b):
        return {"id": i, "parent": parent, "layer": layer, "start_us": a, "end_us": b}

    def test_nested_spans(self):
        spans = [self.span(1, 0, "request", 0, 100),
                 self.span(2, 1, "build", 10, 30),
                 self.span(3, 1, "collect", 40, 90),
                 self.span(4, 3, "job", 50, 70)]
        self.assertEqual(stats.self_times(spans),
                         {"request": 30, "build": 20, "collect": 30, "job": 20})

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, 0, "job", 0, 100),
                 self.span(2, 1, "stage", 10, 60),
                 self.span(3, 1, "stage", 40, 80)]
        self.assertEqual(stats.self_times(spans), {"job": 30, "stage": 90})

    def test_children_clipped_to_parent(self):
        spans = [self.span(1, 0, "batch", 0, 50), self.span(2, 1, "trigger", 40, 70)]
        self.assertEqual(stats.self_times(spans)["batch"], 40)

    def test_total_self_time_equals_root_duration(self):
        spans = [self.span(1, 0, "workload", 0, 1000),
                 self.span(2, 1, "request", 0, 400),
                 self.span(3, 1, "request", 500, 900),
                 self.span(4, 2, "collect", 100, 400),
                 self.span(5, 3, "collect", 600, 900)]
        self.assertEqual(sum(stats.self_times(spans).values()), 1000)


class Occupancy(unittest.TestCase):
    def test_formula(self):
        self.assertEqual(stats.occupancy(8.0, 2.0, 4), 1.0)
        self.assertEqual(stats.occupancy(2.0, 2.0, 4), 0.25)

    def test_rejects_empty_window(self):
        with self.assertRaises(ValueError):
            stats.occupancy(1.0, 0.0, 4)


class Spread(unittest.TestCase):
    def test_iqr_share_of_median(self):
        self.assertAlmostEqual(stats.spread([10, 10, 10, 10]), 0.0)
        self.assertAlmostEqual(stats.spread([8, 9, 10, 11, 12]), 3.0 / 10)


if __name__ == "__main__":
    unittest.main()
