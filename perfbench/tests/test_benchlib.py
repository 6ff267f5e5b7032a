"""Unit tests of the benchmark's inputs and statistics.

    python3 -m unittest discover -s perfbench/tests
"""
import datetime
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import benchlib  # noqa: E402


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_events(self):
        a, wa = benchlib.stream_events(7, 3000)
        b, wb = benchlib.stream_events(7, 3000)
        self.assertEqual(a, b)
        self.assertEqual(wa, wb)

    def test_holdout_seed_differs(self):
        a, _ = benchlib.stream_events(7, 3000)
        b, _ = benchlib.stream_events(8, 3000)
        self.assertNotEqual(a, b)

    def test_same_seed_same_query_order(self):
        for w in ("dashboard", "heavy_batch"):
            self.assertEqual(benchlib.query_orders(w, 3, 4),
                             benchlib.query_orders(w, 3, 4))

    def test_holdout_seed_changes_query_order(self):
        a = benchlib.query_orders("dashboard", 3, 4)
        b = benchlib.query_orders("dashboard", 4, 4)
        self.assertNotEqual(a, b)
        for order in a + b:
            self.assertEqual(sorted(order), sorted(benchlib.QUERIES["dashboard"]))

    def test_events_stay_inside_the_watermark(self):
        # no event may arrive behind the watermark of the events before
        # it, or the stream would drop it and parity would not be exact
        events, ts_ms = benchlib.stream_events(11, 5000)
        ts = [epoch_ms(json.loads(j)["ts"]) for _, j in events]
        self.assertEqual(ts, ts_ms)
        final_wm = benchlib.watermark(ts_ms, len(ts_ms))
        high = ts[0]
        for t in ts:
            self.assertGreater(t, high - benchlib.STREAM["watermark_ms"])
            high = max(high, t)
        self.assertEqual(final_wm, max(ts) - benchlib.STREAM["watermark_ms"])
        self.assertNotEqual(final_wm % 60000, 0)

    def test_prefix_watermark(self):
        _, ts = benchlib.stream_events(11, 5000)
        self.assertEqual(benchlib.watermark(ts, 100),
                         max(ts[:100]) - benchlib.STREAM["watermark_ms"])
        self.assertLess(benchlib.watermark(ts, 100), benchlib.watermark(ts, 5000))


def epoch_ms(text):
    d = datetime.datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%f")
    return int(d.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000)


class TailRule(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 1001))  # n = 1000
        # p99.9 leaves 1 beyond, p99 leaves 10 beyond
        self.assertEqual(benchlib.tail(xs), (99.0, 990))

    def test_boundary_is_inclusive_of_ten(self):
        xs = list(range(1, 101))  # p90 leaves exactly 10 beyond
        self.assertEqual(benchlib.tail(xs), (90.0, 90))
        xs = list(range(1, 100))  # p90 rank 90 leaves 9 beyond
        self.assertEqual(benchlib.tail(xs), (100.0, 99))

    def test_small_sample_falls_back_to_maximum(self):
        self.assertEqual(benchlib.tail([3.0, 1.0, 2.0]), (100.0, 3.0))

    def test_nearest_rank(self):
        self.assertEqual(benchlib.percentile([5, 1, 4, 2, 3], 50), 3)
        self.assertEqual(benchlib.percentile([5, 1, 4, 2, 3], 100), 5)


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "op": "o", "name": name,
            "start": start, "end": end}


class SelfTime(unittest.TestCase):
    def test_children_subtracted(self):
        spans = [span(1, 0, "operation", 0.0, 10.0),
                 span(2, 1, "operators.build", 0.0, 2.0),
                 span(3, 1, "plans.plan", 2.0, 3.0),
                 span(4, 1, "operators.exec", 3.0, 9.0)]
        st = benchlib.self_times(spans)
        self.assertAlmostEqual(st[1], 1.0)
        self.assertAlmostEqual(st[4], 6.0)

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, "streaming.trigger", 0.0, 10.0),
                 span(2, 1, "streaming.sink", 1.0, 5.0),
                 span(3, 1, "sources.publish", 4.0, 6.0)]
        self.assertAlmostEqual(benchlib.self_times(spans)[1], 5.0)

    def test_children_clipped_to_parent(self):
        spans = [span(1, 0, "streaming.trigger", 2.0, 4.0),
                 span(2, 1, "streaming.sink", 1.0, 3.0)]
        self.assertAlmostEqual(benchlib.self_times(spans)[1], 1.0)

    def test_layer_totals(self):
        spans = [span(1, 0, "operation", 0.0, 10.0),
                 span(2, 1, "operators.build", 0.0, 2.0),
                 span(3, 1, "operators.exec", 3.0, 9.0),
                 span(4, 1, "materialize.release", 9.0, 9.5)]
        layers = benchlib.layer_self_times(spans)
        self.assertAlmostEqual(layers["operators"], 8.0)
        self.assertAlmostEqual(layers["materialize"], 0.5)
        self.assertEqual(layers["plans"], 0.0)


class GoldenCompare(unittest.TestCase):
    golden = {"q": {"rows": 2, "cols": {"a": 1, "b": 2}}}

    def test_match(self):
        fp = {"rows": 2, "cols": {"a": 1, "b": 2}}
        self.assertIsNone(benchlib.fingerprint_mismatch(self.golden, "q", fp))

    def test_each_kind_of_mismatch(self):
        cases = [{"rows": 3, "cols": {"a": 1, "b": 2}},
                 {"rows": 2, "cols": {"a": 1}},
                 {"rows": 2, "cols": {"a": 1, "b": 3}}]
        for fp in cases:
            self.assertIsNotNone(benchlib.fingerprint_mismatch(self.golden, "q", fp))
        self.assertIsNotNone(benchlib.fingerprint_mismatch(self.golden, "r", cases[0]))


if __name__ == "__main__":
    unittest.main()
