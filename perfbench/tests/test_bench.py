"""Tests of the benchmark itself (no JVM needed):

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import batch, corpus, events, stats, stream  # noqa: E402


class Determinism(unittest.TestCase):
    def test_event_stream_same_seed_identical_bytes(self):
        t = stream.phase_table(10, burst=True)
        self.assertEqual(events.serialize(events.plan(7, t)),
                         events.serialize(events.plan(7, t)))

    def test_event_stream_other_seed_differs(self):
        t = stream.phase_table(10, burst=True)
        self.assertNotEqual(events.serialize(events.plan(7, t)),
                            events.serialize(events.plan(8, t)))

    def test_query_order_same_seed_same_order(self):
        for w in batch.PANELS:
            self.assertEqual(batch.orders(w, 3), batch.orders(w, 3))

    def test_query_order_other_seed_differs(self):
        for w in batch.PANELS:
            self.assertNotEqual(batch.orders(w, 3), batch.orders(w, 4))

    def test_every_pass_runs_the_whole_panel(self):
        warm, passes = batch.orders("batch_sql", 1)
        for p in [warm] + passes:
            self.assertEqual(sorted(p), sorted(batch.PANELS["batch_sql"]))

    def test_corpus_same_seed_same_rows(self):
        a, b, c = corpus.tables(5), corpus.tables(5), corpus.tables(6)
        self.assertTrue(all(a[n].equals(b[n]) for n in a))
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))

    def test_stream_has_resends_and_bounded_disorder(self):
        posts = events.plan(1, stream.phase_table(10, burst=True))
        lines = [l for p in posts for l in p["lines"]]
        resends = [l for l in lines if "resend" in l]
        self.assertTrue(0.01 < len(resends) / len(lines) < 0.06)
        originals = {l["event_id"] for l in lines if "resend" not in l}
        self.assertTrue(all(l["resend"] in originals for l in resends))
        ts = [l["ts"] for l in lines if "resend" not in l]
        self.assertNotEqual(ts, sorted(ts))      # out of order ...
        self.assertLess(events.JITTER_MS, 60_000)  # ... far inside 10 min


class Percentiles(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail_level(100), 0.9)
        self.assertEqual(stats.tail_level(1000), 0.9)
        self.assertAlmostEqual(stats.tail_level(50), 0.8)
        self.assertEqual(stats.tail_level(12), 0.5)

    def test_summary_states_level_and_count(self):
        s = stats.summary(list(range(1, 41)))
        self.assertEqual(s["n"], 40)
        self.assertAlmostEqual(s["tail_level"], 0.75)
        self.assertAlmostEqual(s["tail"], stats.quantile(range(1, 41), 0.75))
        self.assertEqual(s["p50"], 20.5)

    def test_quantile_interpolates(self):
        self.assertEqual(stats.quantile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(stats.quantile([5], 0.9), 5)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, a, b, layer="x"):
        return {"id": i, "parent": parent, "start_ns": a, "end_ns": b,
                "layer": layer}

    def test_self_time_subtracts_children(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 30),
                 self.span(3, 1, 50, 60)]
        self.assertEqual(stats.self_times(spans), {1: 70, 2: 20, 3: 10})

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 50),
                 self.span(3, 1, 40, 60)]
        self.assertEqual(stats.self_times(spans)[1], 50)

    def test_children_clipped_to_parent(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 90, 150)]
        self.assertEqual(stats.self_times(spans)[1], 90)

    def test_by_layer(self):
        spans = [self.span(1, 0, 0, 2_000_000_000, "queries"),
                 self.span(2, 1, 0, 500_000_000, "spark")]
        self.assertEqual(stats.self_time_by_layer(spans),
                         {"queries": 1.5, "spark": 0.5})


class OpenLoop(unittest.TestCase):
    def test_latency_counts_from_due_time(self):
        # due at 100, sent late at 400 by a stalled generator, done at 500:
        # the latency is 400, not the 100 a closed loop would report
        self.assertEqual(stats.open_loop_latency(100, 500), 400)
        self.assertEqual(stats.lateness(100, 400), 300)

    def test_on_time_is_not_late(self):
        self.assertEqual(stats.lateness(100, 90), 0)

    def test_phase_schedule_is_fixed(self):
        posts = events.plan(2, stream.phase_table(10, burst=True))
        low = [p["due_ns"] for p in posts if p["phase"] == "low"]
        self.assertEqual(low, [k * stream.LOW[1] for k in range(len(low))])
        self.assertTrue(all(p["due_ns"] == 0 for p in posts
                            if p["phase"] == "burst"))


class KeepLatest(unittest.TestCase):
    def test_greatest_ts_then_event_id_wins(self):
        evs = [{"user_id": 1, "ts": "2024-01-01T00:00:01.000Z", "event_id": 5},
               {"user_id": 1, "ts": "2024-01-01T00:00:02.000Z", "event_id": 3},
               {"user_id": 1, "ts": "2024-01-01T00:00:02.000Z", "event_id": 4},
               {"user_id": 2, "ts": "2024-01-01T00:00:00.000Z", "event_id": 1}]
        best = events.keep_latest(evs)
        self.assertEqual(best[1]["event_id"], 4)
        self.assertEqual(best[2]["event_id"], 1)


if __name__ == "__main__":
    unittest.main()
