"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        vals = list(range(1, 101))  # 100 samples
        self.assertEqual(metrics.tail_percentile(vals), (90, 90))

    def test_small_samples_fall_back_to_a_lower_percentile(self):
        vals = [float(x) for x in range(1, 21)]  # 20 samples
        self.assertEqual(metrics.tail_percentile(vals), (50, 10.0))
        vals = list(range(1, 31))  # 30 samples: p66 has 10 beyond, p67 has 9
        self.assertEqual(metrics.tail_percentile(vals), (66, 20))

    def test_too_few_samples_for_any_tail(self):
        self.assertEqual(metrics.tail_percentile(list(range(19))), (0, 0.0))

    def test_order_of_input_does_not_matter(self):
        vals = [5, 1, 4, 2, 3] * 20
        self.assertEqual(metrics.tail_percentile(vals),
                         metrics.tail_percentile(sorted(vals)))

    def test_nearest_rank(self):
        self.assertEqual(metrics.rank_value([3, 1, 2, 4], 50), 2)
        self.assertEqual(metrics.rank_value([3, 1, 2, 4], 51), 3)
        self.assertEqual(metrics.rank_value([7], 90), 7)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_are_counted_once(self):
        span = {"start": 0.0, "end": 10.0}
        kids = [{"start": 1.0, "end": 4.0}, {"start": 3.0, "end": 6.0},
                {"start": 8.0, "end": 12.0}]
        # covered: [1, 6] and [8, 10] -> 7 of 10
        self.assertAlmostEqual(metrics.self_time(span, kids), 3.0)

    def test_children_outside_the_span_do_not_count(self):
        span = {"start": 10.0, "end": 20.0}
        kids = [{"start": 0.0, "end": 5.0}, {"start": 25.0, "end": 30.0}]
        self.assertAlmostEqual(metrics.self_time(span, kids), 10.0)

    def test_nested_and_identical_children(self):
        span = {"start": 0.0, "end": 10.0}
        kids = [{"start": 2.0, "end": 8.0}, {"start": 3.0, "end": 4.0},
                {"start": 2.0, "end": 8.0}]
        self.assertAlmostEqual(metrics.self_time(span, kids), 4.0)

    def test_no_children(self):
        self.assertAlmostEqual(metrics.self_time({"start": 1.0, "end": 2.5}, []), 1.5)

    def test_within_attributes_by_start(self):
        spans = [{"start": 0.0, "end": 10.0}, {"start": 20.0, "end": 30.0}]
        events = [{"start": 5.0}, {"start": 15.0}, {"start": 30.0}]
        self.assertEqual(metrics.within(events, spans), [{"start": 5.0}, {"start": 30.0}])


class Checks(unittest.TestCase):
    def test_digest_mismatch_counts_in_error_rate(self):
        digests = {"q01": "aa", "q02": "bb"}
        checks = [
            {"what": "query.q01", "actual": "aa"},
            {"what": "query.q02", "actual": "cc"},   # wrong result
            {"what": "query.q01", "actual": "aa"},
            {"what": "query.q02", "actual": "error: boom"},
        ]
        self.assertEqual(metrics.tally(checks, digests), (4, 2))
        self.assertAlmostEqual(metrics.error_rate(checks, digests), 0.5)

    def test_own_expected_value_wins(self):
        checks = [{"what": "crawl.seen_set_digest", "expected": "x", "actual": "x"},
                  {"what": "read.claim_log", "expected": "10", "actual": "11"}]
        self.assertEqual(metrics.tally(checks, {}), (2, 1))

    def test_unknown_query_counts_as_failed(self):
        self.assertEqual(metrics.tally([{"what": "query.q99", "actual": "aa"}], {}), (1, 1))

    def test_all_correct(self):
        checks = [{"what": "query.q01", "actual": "aa"}]
        self.assertEqual(metrics.error_rate(checks, {"q01": "aa"}), 0.0)


class Spread(unittest.TestCase):
    def test_quartile_spread_as_share_of_median(self):
        vals = [10.0, 10.0, 10.0, 10.0]
        self.assertEqual(metrics.spread(vals), 0.0)
        vals = [8.0, 9.0, 10.0, 11.0, 12.0]
        # statistics.quantiles (exclusive): q1 = 8.5, q3 = 11.5
        self.assertAlmostEqual(metrics.spread(vals), 0.3)


def crawl_raw():
    return {
        "workload": "crawl_wide", "cores": 4, "session_s": 5.0, "warmup_s": 8.0,
        "peak_rss_mb": 3000.0,
        "drains": [{"wall_s": 20.0, "fetched": 400, "batches": 2},
                   {"wall_s": 40.0, "fetched": 400, "batches": 2},
                   {"wall_s": 25.0, "fetched": 400, "batches": 2}],
        "samples": {
            "setup:corpus.build": [4.0],
            "setup:setup.drain_setup": [7.0, 2.0, 3.0],
            "timed:read.frontier_stats": [1.0, 3.0],
            "timed:read.claim_log": [2.0, 4.0],
            "untraced:read.claim_log": [2.0],
            "retraced:read.claim_log": [2.5],
        },
    }


class EndToEnd(unittest.TestCase):
    def test_crawl(self):
        m = metrics.end_to_end(crawl_raw())
        self.assertEqual(m["setup_s"], (5.0 + 4.0 + 3.0 + 8.0, "s"))
        # the median drain's throughput: 400 URLs in 25 s
        self.assertEqual(m["throughput_per_s"], (16.0, "1/s"))
        # per-op medians 2.0 and 3.0; replayed samples do not count
        self.assertEqual(m["cycle_s"], (5.0, "s"))
        self.assertEqual(sorted(m), ["cycle_s", "setup_s", "throughput_per_s"])

    def test_query(self):
        raw = {"workload": "query_suite", "session_s": 5.0, "warmup_s": 20.0,
               "peak_rss_mb": 2000.0,
               "samples": {"timed:pass": [4.0, 4.0],
                           "timed:query.a": [1.0, 1.0], "timed:query.b": [3.0, 3.0],
                           "warmup:query.a": [9.0]}}
        m = metrics.end_to_end(raw)
        self.assertEqual(m["setup_s"], (25.0, "s"))
        self.assertEqual(m["throughput_per_s"], (0.5, "1/s"))
        self.assertEqual(m["cycle_s"], (4.0, "s"))

    def test_overhead_is_traced_minus_untraced(self):
        self.assertAlmostEqual(metrics.overhead_share(crawl_raw()), 0.25)


if __name__ == "__main__":
    unittest.main()
