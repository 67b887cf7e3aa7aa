"""Tests of the benchmark's own arithmetic.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class GroupMedianTest(unittest.TestCase):
    # three rounds of two queries; round 2 ran under contention
    groups = {"scored.q1": [10, 11, 30], "bool.q2": [20, 60, 21]}

    def test_median_of_medians_ignores_one_slow_round(self):
        self.assertEqual(stats.median_of_medians(self.groups), (11 + 21) / 2)

    def test_sum_of_medians(self):
        self.assertEqual(stats.sum_of_medians(self.groups), 11 + 21)

    def test_no_groups_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median_of_medians({})
        with self.assertRaises(ValueError):
            stats.sum_of_medians({})


class TailTest(unittest.TestCase):
    def test_leaves_ten_samples_beyond(self):
        xs = list(range(1, 201))  # 200 samples: p95 is 190, 10 beyond it
        self.assertEqual(stats.tail(xs), (95, 190))

    def test_falls_back_to_a_lower_percentile(self):
        xs = list(range(1, 101))  # p99 and p95 leave 1 and 5; p90 leaves 10
        self.assertEqual(stats.tail(xs), (90, 90))
        p, v = stats.tail(list(range(1, 41)))  # 40 samples: p75 leaves 10
        self.assertEqual((p, v), (75, 30))

    def test_every_reported_tail_has_ten_beyond(self):
        for n in range(1, 400):
            xs = [float(i) for i in range(n)]
            t = stats.tail(xs)
            if t is None:
                self.assertLess(n, 41)
                continue
            beyond = sum(1 for x in xs if x > t[1])
            self.assertGreaterEqual(beyond, 10, n)

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail(list(range(20))))
        self.assertIsNone(stats.tail([]))

    def test_order_does_not_matter(self):
        xs = list(range(300))
        self.assertEqual(stats.tail(xs), stats.tail(list(reversed(xs))))


class ClosedLoopTest(unittest.TestCase):
    def test_counts_the_request_that_overruns_the_window_in_part(self):
        s = 1_000_000_000
        reqs = [(s, s + 400_000_000, True, 1.0),
                (s + 400_000_000, s + 800_000_000, True, 1.0),
                # issued before the window closes, returns after it: a
                # quarter of it lies inside
                (s + 800_000_000, s + 1_600_000_000, True, 1.0)]
        acc = stats.closed_loop(reqs, (s, s + 1_000_000_000))
        self.assertEqual(acc["attempted"], 3)
        self.assertEqual(acc["failed"], 0)
        self.assertAlmostEqual(acc["elapsed_s"], 1.0)
        self.assertAlmostEqual(acc["work"], 2.25)
        self.assertAlmostEqual(acc["rate"], 2.25)

    def test_clients_that_stop_at_different_times(self):
        # two clients: one stops at 0.9 s, the other overruns to 1.5 s;
        # only the parts inside the 1 s window count
        reqs = [(0, 300, True, 1.0), (300, 600, True, 1.0), (600, 900, True, 1.0),
                (0, 500, True, 1.0), (500, 1500, True, 1.0)]
        acc = stats.closed_loop(reqs, (0, 1000))
        self.assertAlmostEqual(acc["work"], 3 + 1 + 0.5)

    def test_failed_requests_deliver_no_work(self):
        reqs = [(0, 10, True, 5.0), (10, 20, False, 5.0), (0, 20, True, 5.0)]
        acc = stats.closed_loop(reqs, (0, 20))
        self.assertEqual((acc["attempted"], acc["failed"], acc["work"]), (3, 1, 10.0))
        self.assertAlmostEqual(acc["rate"], 10.0 / 20e-9)

    def test_pooled_over_rounds(self):
        # 3 requests in a 1 s round, then 1 in a 3 s round: 4 per 4 s
        r1 = stats.closed_loop([(0, 300, True, 1.0), (300, 600, True, 1.0),
                                (600, 1000, True, 1.0)], (0, 1000))
        r2 = stats.closed_loop([(5000, 8000, True, 1.0)], (5000, 8000))
        self.assertAlmostEqual(stats.pooled_rate([r1, r2]), 4 / 4000e-9)

    def test_requests_before_the_window_are_not_counted(self):
        reqs = [(-5, 0, True, 1.0), (0, 10, True, 1.0)]
        self.assertEqual(stats.closed_loop(reqs, (0, 10))["attempted"], 1)


class ErrorRateTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.error_rate(0, 50), 0.0)
        self.assertEqual(stats.error_rate(5, 50), 0.1)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.error_rate(0, 0)


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans(self):
        spans = [(1, 0, 7, "query", 0, 100),
                 (2, 1, 7, "query.scan", 10, 40),
                 (3, 2, 7, "codec.decode", 20, 30),
                 (4, 1, 7, "query.wand", 50, 90)]
        self.assertEqual(stats.self_times(spans),
                         {"query": 30, "query.scan": 20, "codec.decode": 10,
                          "query.wand": 40})

    def test_overlapping_children_count_once(self):
        spans = [(1, 0, 1, "build", 0, 100),
                 (2, 1, 1, "docmeta", 10, 60),
                 (3, 1, 1, "postings", 40, 80)]
        self.assertEqual(stats.self_times(spans)["build"], 30)

    def test_children_clipped_to_parent_and_names_summed(self):
        spans = [(1, 0, 1, "q", 0, 10), (2, 1, 1, "c", 5, 20),
                 (3, 0, 2, "q", 100, 110)]
        self.assertEqual(stats.self_times(spans)["q"], 5 + 10)


if __name__ == "__main__":
    unittest.main()
