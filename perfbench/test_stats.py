"""Self-tests of the benchmark's arithmetic: python3 -m unittest discover perfbench"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from stats import median, percentile, self_time_by_name, self_times  # noqa: E402


def span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end, "name": name}


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = [1, 2, 3, 4]
        self.assertEqual(percentile(xs, 0), 1)
        self.assertEqual(percentile(xs, 100), 4)
        self.assertAlmostEqual(percentile(xs, 50), 2.5)
        self.assertAlmostEqual(percentile(xs, 95), 3.85)
        self.assertAlmostEqual(percentile(list(range(1, 101)), 95), 95.05)

    def test_order_does_not_matter(self):
        self.assertEqual(percentile([5, 1, 4, 2, 3], 50), 3)
        self.assertEqual(median([10, 0]), 5)

    def test_single_value(self):
        self.assertEqual(percentile([7.5], 95), 7.5)

    def test_empty_sample_is_an_error(self):
        with self.assertRaises(ValueError):
            percentile([], 50)


class SelfTimeTest(unittest.TestCase):
    def test_leaf_keeps_its_duration(self):
        self.assertEqual(self_times([span(1, 0, 10, 30)]), {1: 20})

    def test_children_are_subtracted_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 50, 60), span(4, 2, 15, 35)]
        st = self_times(spans)
        self.assertEqual(st[1], 100 - 30 - 10)
        self.assertEqual(st[2], 30 - 20)
        self.assertEqual(st[4], 20)

    def test_overlapping_children_count_their_union(self):
        # two concurrent children covering 10..50 together
        st = self_times([span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 50)])
        self.assertEqual(st[1], 60)

    def test_child_outliving_its_parent_is_clipped(self):
        self.assertEqual(self_times([span(1, 0, 0, 10), span(2, 1, 5, 20)])[1], 5)

    def test_by_name_sums_self_time(self):
        spans = [span(1, 0, 0, 100, "request"), span(2, 1, 0, 60, "plan"),
                 span(3, 0, 0, 10, "request")]
        self.assertEqual(self_time_by_name(spans), {"request": 50, "plan": 60})


if __name__ == "__main__":
    unittest.main()
