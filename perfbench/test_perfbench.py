"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import stats  # noqa: E402
from gate import same_table  # noqa: E402


class TailRule(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(stats.tail(range(10)))
        self.assertEqual(stats.tail(range(11)), (0, 100.0 / 11, 11))

    def test_exactly_ten_samples_beyond(self):
        xs = list(range(100))
        v, pct, n = stats.tail(xs)
        self.assertEqual((v, pct, n), (89, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_unsorted_input_and_ties(self):
        xs = [5.0] * 15 + [1.0] * 5 + [9.0] * 10
        v, pct, n = stats.tail(reversed(xs))
        self.assertEqual((v, n), (5.0, 30))
        self.assertAlmostEqual(pct, 100.0 * 20 / 30)

    def test_reported_tail_never_below_median(self):
        self.assertEqual(stats.tail_ms([3.0, 1.0, 2.0]), (2.0, "p50"))
        xs = list(range(15))  # the rule would give p33.3
        self.assertEqual(stats.tail_ms(xs), (7, "p50"))
        # n = 20: the rule gives the 10th value, below the median 9.5
        self.assertEqual(stats.tail_ms(list(range(20))), (9.5, "p50"))
        self.assertEqual(stats.tail_ms(list(range(40))), (29, "p75.0"))


class SpanArithmetic(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "start_us": a, "end_us": b}

    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(3, 4), (0, 10)]), 10)

    def test_self_time_subtracts_covered_child_time(self):
        spans = [self.span(0, -1, 0, 100),
                 self.span(1, 0, 10, 40), self.span(2, 0, 30, 60),
                 self.span(3, 1, 15, 20)]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 100 - 50)  # children cover [10, 60)
        self.assertEqual(st[1], 30 - 5)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 5)

    def test_child_outside_parent_is_clipped(self):
        # a Spark job that outlives the span that submitted it
        st = stats.self_times([self.span(0, -1, 0, 10), self.span(1, 0, 5, 50)])
        self.assertEqual(st[0], 5)


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_serving_plan(self):
        self.assertEqual(gen.serving_plan(7, 48), gen.serving_plan(7, 48))

    def test_other_seed_other_serving_plan(self):
        self.assertNotEqual(gen.serving_plan(7, 48), gen.serving_plan(8, 48))

    def test_every_block_of_three_holds_each_format(self):
        plan = gen.serving_plan(7, 12)
        for i in range(0, 12, 3):
            self.assertEqual({o["format"] for o in plan[i:i + 3]}, set(gen.FORMATS))

    def test_warmup_covers_every_format_and_country(self):
        pairs = {(o["format"], o["country"]) for o in gen.serving_warmup()}
        self.assertEqual(len(pairs), len(gen.FORMATS) * len(gen.REGIONS))

    def test_same_seed_same_tables(self):
        with tempfile.TemporaryDirectory() as d:
            gen.curation_tables(7, 0.001, f"{d}/a")
            gen.curation_tables(7, 0.001, f"{d}/b")
            gen.curation_tables(8, 0.001, f"{d}/c")
            read = lambda x: pq.read_table(f"{d}/{x}/documents.parquet")
            self.assertTrue(read("a").equals(read("b")))
            self.assertFalse(read("a").equals(read("c")))


class Gates(unittest.TestCase):
    def test_same_table(self):
        self.assertIsNone(same_table(["b", "a"], [[1, "x"]], ["a", "b"], [("x", 1.0)]))
        self.assertIsNotNone(same_table(["a"], [[1]], ["a"], [(2,)]))
        self.assertIsNone(same_table(["a"], [[2], [1]], ["a"], [(1,), (2,)], ordered=False))
        self.assertIsNotNone(same_table(["a"], [[2], [1]], ["a"], [(1,), (2,)]))


if __name__ == "__main__":
    unittest.main()
