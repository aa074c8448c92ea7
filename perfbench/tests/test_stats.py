import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_needs_ten_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(reversed(xs), 99.9), 100)
        self.assertEqual(stats.percentile([3.0], 75), 3.0)
        # exactly ten samples lie above the chosen tail
        xs = list(range(40))
        p = stats.tail_percentile(len(xs))
        self.assertEqual(sum(x > stats.percentile(xs, p) for x in xs), 10)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end}

    def test_union(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_children_subtracted_once(self):
        spans = [self.span(0, None, 0, 100),
                 self.span(1, 0, 10, 30), self.span(2, 0, 20, 50),  # overlap 20..30
                 self.span(3, 2, 25, 45),                            # grandchild
                 self.span(4, None, 200, 210)]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 100 - 40)
        self.assertEqual(st[1], 20)
        self.assertEqual(st[2], 30 - 20)
        self.assertEqual(st[3], 20)
        self.assertEqual(st[4], 10)

    def test_child_outside_parent_is_clipped(self):
        st = stats.self_times([self.span(0, None, 0, 10), self.span(1, 0, 5, 20)])
        self.assertEqual(st[0], 5)


if __name__ == "__main__":
    unittest.main()
