"""Tests for the benchmark's statistics: python3 -m unittest perfbench/test_stats.py"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_and_samples_beyond(self):
        xs = list(range(1, 201))  # 1..200
        self.assertEqual(stats.percentile(xs, 50), (100, 100))
        self.assertEqual(stats.percentile(xs, 95), (190, 10))
        self.assertEqual(stats.percentile(list(reversed(xs)), 95), (190, 10))

    def test_tail_needs_ten_samples_beyond(self):
        self.assertTrue(stats.tail_ok(list(range(200)), 95))
        self.assertFalse(stats.tail_ok(list(range(199)), 95))  # only 9 beyond the rank
        self.assertTrue(stats.tail_ok(list(range(100)), 90))
        self.assertFalse(stats.tail_ok([], 50))

    def test_quartile_spread(self):
        q1, med, q3, spread = stats.quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertEqual((q1, med, q3), (1.5, 3.0, 4.5))
        self.assertAlmostEqual(spread, 1.0)


class BacklogTest(unittest.TestCase):
    def test_step_holds_within_tolerance(self):
        self.assertTrue(stats.backlog_holds(1000, 1900, rate=1000, tolerance_s=1.0))
        self.assertTrue(stats.backlog_holds(5000, 2000, rate=1000, tolerance_s=1.0))  # shrinking
        self.assertFalse(stats.backlog_holds(1000, 2100, rate=1000, tolerance_s=1.0))

    def test_sustained_rate_is_last_step_before_first_growth(self):
        steps = [(2000, 0, 500), (4000, 500, 3000), (8000, 3000, 20000), (16000, 20000, 20000)]
        # 4000/s grew by 2500 events <= 4000, 8000/s grew by 17000 > 8000: stop there,
        # even though a later step happens to look flat
        self.assertEqual(stats.sustained_rate(steps, 1.0), 4000)
        self.assertEqual(stats.sustained_rate([(2000, 0, 9000)], 1.0), 0)
        self.assertEqual(stats.sustained_rate([], 1.0), 0)


class StreamLadderTest(unittest.TestCase):
    @staticmethod
    def raw(backlog_files):
        """20 files at 1000 events/s, then a ladder step of 20 files at
        4000 events/s, one file per 100 ms; file i is sent with the last
        backlog_files(i) files not yet committed."""
        sent, cum = [], 0
        for i in range(40):
            rate = 1000 if i < 20 else 4000
            cum += rate // 10
            sent.append({"seq": i, "phase": "latency" if i < 20 else "ladder0", "rate": rate,
                         "due_ms": 100.0 * i, "sent_ms": 100.0 * i, "events": rate // 10, "cum_events": cum})
        for i, f in enumerate(sent):
            f["backlog_events"] = sum(g["events"] for g in sent[max(0, i - backlog_files(i) + 1):i + 1])
        return {"stream": {"queries": ["q"], "batches": [], "sent": sent}}

    def test_same_lag_at_a_higher_rate_holds(self):
        # 15 files behind throughout: 1500 events before the step, 6000 after
        _, _, steps = metrics._stream_view(self.raw(lambda i: 15))
        self.assertEqual(steps, [(4000, 1.4 * 4000, 1.4 * 4000)])
        self.assertEqual(stats.sustained_rate(steps, metrics.BACKLOG_TOLERANCE_S), 4000)

    def test_lag_growing_by_more_than_a_second_fails(self):
        _, _, steps = metrics._stream_view(self.raw(lambda i: 15 if i < 20 else 15 + (i - 19)))
        self.assertEqual(stats.sustained_rate(steps, metrics.BACKLOG_TOLERANCE_S), 0)


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, layer, start, end):
        return {"id": i, "parent": parent, "layer": layer, "start_ns": start * 10**9, "end_ns": end * 10**9}

    def test_children_are_subtracted_once(self):
        spans = [
            self.span(0, -1, "harness", 0, 10),
            self.span(1, 0, "operators", 1, 6),
            self.span(2, 1, "catalyst", 2, 3),
            self.span(3, 0, "operators", 6, 9),
        ]
        self.assertEqual(stats.self_times(spans),
                         {"harness": 2.0, "operators": 7.0, "catalyst": 1.0})

    def test_overlapping_children_count_once_and_are_clipped(self):
        spans = [
            self.span(0, -1, "pipeline", 0, 10),
            self.span(1, 0, "scratch", 1, 5),
            self.span(2, 0, "scratch", 3, 7),   # overlaps the sibling
            self.span(3, 0, "scratch", 9, 12),  # runs past the parent
        ]
        got = stats.self_times(spans)
        self.assertAlmostEqual(got["pipeline"], 10 - 6 - 1)
        self.assertAlmostEqual(got["scratch"], 4 + 4 + 3)


class BenchmarkFileTest(unittest.TestCase):
    def test_benchmark_json_lists_the_metrics_the_harness_reports(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         [(n, u, b) for n, u, b, _ in metrics.LAYERS])
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], metrics.END_TO_END)


if __name__ == "__main__":
    unittest.main()
