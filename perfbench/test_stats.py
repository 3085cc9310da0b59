"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import stats
from run import WORKLOADS, sample_size

HERE = os.path.dirname(os.path.abspath(__file__))


def pools():
    with open(os.path.join(HERE, "reference.json")) as f:
        ref = json.load(f)
    cost = {q: r["warm"] for q, r in ref.items()}
    for name, prefixes in WORKLOADS.items():
        pool = sorted(q for q in ref if q[0] in prefixes)
        yield name, pool, cost, sample_size(name, 25)


class PercentileRule(unittest.TestCase):
    def test_level_leaves_ten_samples_beyond(self):
        for n in range(11, 400):
            level = stats.tail_level(n)
            xs = list(range(n))
            beyond = sum(1 for x in xs if x > stats.percentile(xs, level))
            self.assertGreaterEqual(beyond, 10, n)
            self.assertLessEqual(level, 0.9)

    def test_level_is_the_highest_such(self):
        self.assertEqual(stats.tail_level(100), 0.9)
        self.assertEqual(stats.tail_level(1000), 0.9)
        self.assertEqual(stats.tail_level(40), 0.75)
        self.assertEqual(stats.tail_level(20), 0.5)
        self.assertAlmostEqual(stats.tail_level(16), 6 / 16)

    def test_too_few_samples_have_no_level(self):
        self.assertIsNone(stats.tail_level(10))
        self.assertIsNone(stats.tail_level(3))

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 0.5), 2.5)
        self.assertEqual(stats.percentile([5], 0.9), 5)
        self.assertEqual(stats.percentile(range(11), 0.9), 9)


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time((2.0, 5.0), []), 3.0)

    def test_overlapping_children_count_once(self):
        # [1,4] and [3,6] overlap: together they cover [1,6]
        self.assertEqual(stats.self_time((0, 10), [(1, 4), (3, 6)]), 5)

    def test_nested_and_identical_children(self):
        self.assertEqual(stats.self_time((0, 10), [(2, 8), (3, 4), (2, 8)]), 4)

    def test_children_outside_the_parent_are_clipped(self):
        self.assertEqual(stats.self_time((0, 10), [(-5, 2), (8, 12)]), 6)
        self.assertEqual(stats.self_time((0, 10), [(11, 12)]), 10)

    def test_fully_covered(self):
        self.assertEqual(stats.self_time((0, 10), [(0, 6), (5, 10)]), 0)


class Sampling(unittest.TestCase):
    def test_same_seed_same_sample_and_order(self):
        for _, pool, cost, n in pools():
            for seed in range(20):
                self.assertEqual(stats.draw(pool, cost, n, seed, 3),
                                 stats.draw(pool, cost, n, seed, 3))

    def test_seeds_differ(self):
        for _, pool, cost, n in pools():
            draws = {tuple(stats.draw(pool, cost, n, s, 1)[0]) for s in range(20)}
            self.assertGreater(len(draws), 10)

    def test_passes_are_orders_of_the_sample(self):
        for _, pool, cost, n in pools():
            sample, orders = stats.draw(pool, cost, n, 7, 3)
            self.assertEqual(len(set(sample)), n)
            for order in orders:
                self.assertEqual(sorted(order), sorted(sample))

    def test_every_query_is_reachable(self):
        for name, pool, cost, n in pools():
            seen = set()
            for seed in range(1000):
                seen.update(stats.draw(pool, cost, n, seed, 1)[0])
            self.assertEqual(seen, set(pool), name)

    def test_strata_partition_the_pool_by_cost(self):
        for _, pool, cost, n in pools():
            st = stats.strata(pool, cost, n)
            self.assertEqual(sorted(q for s in st for q in s), sorted(pool))
            self.assertLessEqual(max(map(len, st)) - min(map(len, st)), 1)
            for lo, hi in zip(st, st[1:]):
                self.assertLessEqual(max(cost[q] for q in lo), min(cost[q] for q in hi))


class Estimators(unittest.TestCase):
    def test_speed_ratio_weighs_queries_equally(self):
        # one query twice as slow, one twice as fast: the sample kept pace
        self.assertAlmostEqual(stats.speed_ratio([2.0, 0.5], [1.0, 1.0]), 1.0)
        self.assertAlmostEqual(stats.speed_ratio([20.0, 40.0], [10.0, 20.0]), 2.0)


if __name__ == "__main__":
    unittest.main()
