"""Unit tests of the benchmark's own metric rules.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import analysis  # noqa: E402


class QuantileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(analysis.quantile([1.0, 2.0, 3.0, 4.0], 0.5), 2.5)
        self.assertAlmostEqual(analysis.quantile([10.0, 20.0, 30.0, 40.0, 50.0], 0.9), 46.0)
        self.assertAlmostEqual(analysis.quantile([3.0, 1.0, 2.0], 0.25), 1.5)

    def test_median_of_two_is_their_mean_not_the_larger(self):
        self.assertEqual(analysis.median([9.0, 1.0]), 5.0)

    def test_ends_and_single_value(self):
        xs = [5.0, 1.0, 3.0]
        self.assertEqual(analysis.quantile(xs, 0.0), 1.0)
        self.assertEqual(analysis.quantile(xs, 1.0), 5.0)
        self.assertEqual(analysis.quantile([7.0], 0.95), 7.0)

    def test_matches_python_inclusive_quantiles(self):
        xs = [0.3, 1.7, 2.2, 2.9, 4.4, 5.0, 8.1]
        qs = statistics.quantiles(xs, n=4, method="inclusive")
        for q, want in zip((0.25, 0.5, 0.75), qs):
            self.assertAlmostEqual(analysis.quantile(xs, q), want)

    def test_empty_input_is_none(self):
        self.assertIsNone(analysis.quantile([], 0.5))
        self.assertIsNone(analysis.median([]))


class TickEpochTest(unittest.TestCase):
    def test_first_epoch_reaching_the_offset(self):
        epochs = [(0, 0), (1, 3), (2, 3), (3, 7)]  # batch 2 read nothing new
        self.assertEqual(analysis.tick_epochs([0, 1, 3, 4, 7], epochs), [0, 1, 1, 3, 3])

    def test_unread_ticks_and_offsetless_epochs(self):
        epochs = [(0, None), (1, 2)]
        self.assertEqual(analysis.tick_epochs([2, 3], epochs), [1, None])

    def test_end_offset_from_progress(self):
        self.assertEqual(analysis.end_offset({"sources": [{"endOffset": 12}]}), 12)
        self.assertEqual(analysis.end_offset({"sources": [{"endOffset": "5"}]}), 5)
        self.assertIsNone(analysis.end_offset({"sources": [{"endOffset": None}]}))
        self.assertIsNone(analysis.end_offset({"sources": []}))

    def test_freshness_runs_from_due_time_to_tiles_merged(self):
        ticks = [{"offset": 0, "due": 1_000_000}, {"offset": 1, "due": 1_100_000},
                 {"offset": 2, "due": 1_200_000}]
        progress = [{"batchId": 1, "sources": [{"endOffset": 1}]},
                    {"batchId": 2, "sources": [{"endOffset": 1}]}]
        merges = [{"batch": 1, "end": 1_900_000}, {"batch": 2, "end": 2_500_000}]
        got = analysis.freshness(ticks, progress, merges)
        self.assertAlmostEqual(got[0], 0.9)
        self.assertAlmostEqual(got[1], 0.8)
        self.assertIsNone(got[2])  # never read by any epoch


def span(name, layer, start, end, trace="t"):
    return {"name": name, "layer": layer, "trace": trace, "start": start, "end": end}


class SelfTimeTest(unittest.TestCase):
    def test_parent_is_the_tightest_container_in_the_trace(self):
        spans = [span("query", "queries", 0, 100), span("materialize", "plans", 10, 100),
                 span("job", "spark", 20, 50), span("job", "spark", 20, 50, trace="other")]
        self.assertEqual(analysis.span_parents(spans), [None, 0, 1, None])

    def test_self_time_subtracts_the_union_of_children(self):
        us = 1_000_000
        spans = [span("materialize", "plans", 0, 10 * us),
                 span("job", "spark", 1 * us, 4 * us), span("job", "spark", 3 * us, 6 * us),
                 span("stage", "spark", 1 * us, 2 * us)]
        got = analysis.self_times(spans)
        self.assertAlmostEqual(got["plans"], 5.0)  # 10 - union(1..6)
        self.assertAlmostEqual(got["spark"], 3.0 - 1.0 + 3.0 + 1.0)

    def test_identical_intervals_do_not_form_a_cycle(self):
        spans = [span("a", "x", 0, 10), span("b", "y", 0, 10)]
        self.assertEqual(analysis.span_parents(spans), [None, 0])
        self.assertAlmostEqual(sum(analysis.self_times(spans).values()), 10 / 1e6)

    def test_covered(self):
        self.assertEqual(analysis.covered([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(analysis.covered([]), 0)


class FailRatioTest(unittest.TestCase):
    def test_batch_counts_each_failing_query_once(self):
        samples = [{"q": "a", "ok": True}, {"q": "b", "ok": False}, {"q": "b", "ok": False},
                   {"q": "c", "ok": True}]
        oracle_failed = {"b": "no result", "d": "rows differ"}
        attempted, failed = analysis.batch_accounting(["a", "b", "c", "d"], samples, oracle_failed)
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual(analysis.fail_ratio(attempted, failed), 0.5)

    def test_stream_counts_invisible_ticks_keys_and_ingest(self):
        fresh = [0.5, None, 0.7]
        checks = [{"n": 10, "bad": 2}, {"n": 5, "bad": 0}]
        attempted, failed = analysis.stream_accounting(fresh, checks, [True, False, True])
        self.assertEqual((attempted, failed), (3 + 15 + 3, 1 + 2 + 1))

    def test_ingest_checks_against_injected_counts(self):
        progress = [{"observedMetrics": {"graft_ingest": {"rows_parsed": 100, "rows_with_provider": 98},
                                         "graft_clean": {"rows_clean": 97}}},
                    {"observedMetrics": {"graft_ingest": {"rows_parsed": 0, "rows_with_provider": 0},
                                         "graft_clean": {"rows_clean": 0}}}, {}]
        self.assertEqual(analysis.ingest_checks(progress, {"events": 100, "malformed": 2, "out_of_range": 1}),
                         [True, True, True])
        self.assertEqual(analysis.ingest_checks(progress, {"events": 101, "malformed": 1, "out_of_range": 1}),
                         [False, False, True])

    def test_nothing_attempted_is_all_failed(self):
        self.assertEqual(analysis.fail_ratio(0, 0), 1.0)


if __name__ == "__main__":
    unittest.main()
