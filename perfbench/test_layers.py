"""Tests of the span arithmetic and the percentile rule.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import layers


def span(id_, parent, kind, start, end, name="x", **attrs):
    return {"id": id_, "parent": parent, "kind": kind, "name": name,
            "op": id_, "start": start, "end": end, "attrs": attrs}


class SelfTime(unittest.TestCase):

    def test_overlapping_children_count_once(self):
        parent = span(1, 0, "op", 0.0, 100.0)
        children = [span(2, 1, "job", 10.0, 40.0), span(3, 1, "job", 30.0, 60.0),
                    span(4, 1, "job", 35.0, 50.0), span(5, 1, "job", 90.0, 120.0)]
        # covered: [10, 60] and [90, 100] (clipped to the parent) = 60
        self.assertAlmostEqual(layers.self_time(parent, children), 40.0)

    def test_no_children_is_whole_span(self):
        self.assertAlmostEqual(layers.self_time(span(1, 0, "op", 5.0, 7.5), []), 2.5)

    def test_children_outside_parent_are_ignored(self):
        parent = span(1, 0, "op", 10.0, 20.0)
        self.assertAlmostEqual(
            layers.self_time(parent, [span(2, 1, "job", 0.0, 10.0),
                                      span(3, 1, "job", 20.0, 30.0)]), 10.0)

    def test_tree_attaches_unparented_spans_to_innermost_driver_span(self):
        spans = [span(1, 0, "pass", 0.0, 100.0), span(2, 1, "op", 10.0, 50.0),
                 span(3, 2, "action", 20.0, 50.0), span(4, -1, "qe", 25.0, 30.0),
                 span(5, 3, "job", 30.0, 45.0)]
        tree = layers.Tree(spans)
        self.assertEqual(spans[3]["parent"], 3)
        # the action's children (qe 25-30, job 30-45) cover 20 of its 30 ms
        self.assertAlmostEqual(tree.self_time(spans[2]), 10.0)
        self.assertEqual({s["id"] for s in tree.descendants(1)}, {2, 3, 4, 5})

    def test_driver_gap_is_op_time_no_job_covers(self):
        spans = [span(1, 0, "pass", 0.0, 1000.0), span(2, 1, "op", 0.0, 1000.0),
                 span(3, 2, "build", 0.0, 400.0), span(4, 2, "action", 400.0, 1000.0),
                 span(5, 3, "job", 100.0, 300.0, stages=1),
                 span(6, 4, "job", 500.0, 900.0, stages=2),
                 span(7, 4, "job", 600.0, 700.0, stages=1)]
        tree = layers.Tree(spans)
        m = layers.pass_layers(tree, spans[0], {"rdd_block_mb": 0.0}, cores=4)
        self.assertAlmostEqual(m["operators.driver_gap_s"], 0.4)
        self.assertEqual(m["operators.jobs"], 3)
        self.assertEqual(m["operators.jobs_build"], 1)
        self.assertAlmostEqual(m["self_s.build"], 0.2)
        self.assertAlmostEqual(m["self_s.action"], 0.2)


class Percentiles(unittest.TestCase):

    def test_highest_percentile_with_ten_samples_beyond(self):
        cases = {20: 50, 39: 50, 40: 75, 99: 75, 100: 90, 199: 90, 200: 95,
                 999: 95, 1000: 99, 10000: 99.9, 100000: 99.99, 10 ** 7: 99.99}
        for n, p in cases.items():
            self.assertEqual(layers.tail_percentile(n), p, n)
            self.assertGreaterEqual(n * (100 - p) / 100.0, 10 - 1e-9)

    def test_too_few_samples_give_the_maximum(self):
        for n in (1, 5, 19):
            self.assertEqual(layers.tail_percentile(n), 100)
        t = layers.timing([3.0, 1.0, 2.0])
        self.assertEqual((t["p50"], t["tail"], t["tail_p"], t["n"]), (2.0, 3.0, 100, 3))

    def test_timing_of_a_uniform_ladder(self):
        t = layers.timing([float(i) for i in range(1, 101)])
        self.assertEqual(t["tail_p"], 90)
        self.assertAlmostEqual(t["tail"], 90.1)
        self.assertAlmostEqual(t["p50"], 50.5)


class EndToEnd(unittest.TestCase):

    def test_batch_op_timings_are_over_per_op_medians(self):
        def op(name, wall):
            return {"name": name, "wall_s": wall, "stated_bytes": 1048576}
        res = {"workload": "maplejuice", "session_start_s": [5.0, 0.2, 0.3],
               "warmup_s": 10.0, "peak_rss_mb": 100.0, "live_mb": 7.0,
               "passes": [{"kind": "timed", "wall_s": 14.0, "cpu_s": 1.0,
                           "ops": [op("a", 1.0), op("b", 2.0), op("c", 10.0)]},
                          {"kind": "timed", "wall_s": 17.0, "cpu_s": 3.0,
                           "ops": [op("a", 3.0), op("b", 2.0), op("c", 12.0)]}]}
        m, t = layers.end_to_end(res)
        # per-op medians a=2, b=2, c=11: the typical op is their geometric
        # mean; three samples: the tail is the maximum
        self.assertAlmostEqual(m["op_p50_s"], 44.0 ** (1 / 3))
        self.assertAlmostEqual(m["op_tail_s"], 11.0)
        self.assertEqual((t["n"], t["tail_p"]), (3, 100))
        self.assertAlmostEqual(m["setup_s"], 10.3)
        self.assertAlmostEqual(m["live_mb"], 7.0)
        self.assertAlmostEqual(m["pass_s"], 15.5)
        self.assertAlmostEqual(m["input_mb_s"], (3 / 14.0 + 3 / 17.0) / 2)

    def test_stream_pass_is_processing_time_of_the_scheduled_input(self):
        def rung(rate, busy, inputs, lat, seconds=4):
            return {"rate": rate, "scheduled_rows": rate * seconds,
                    "processed_rows": rate * sum(inputs), "cpu_s": 2.0 * sum(inputs),
                    "text_bytes": rate * sum(inputs) * 1048576 / 1000.0,
                    "batch_busy_s": busy, "batch_input_s": inputs, "latencies_s": lat}
        res = {"workload": "stream_dedup", "session_start_s": [4.0, 0.2, 0.1],
               "warmup_s": 5.0, "peak_rss_mb": 100.0, "live_mb": 300.0,
               "passes": [{"kind": "timed", "wall_s": 30.0, "cpu_s": 20.0,
                           "rungs": [rung(1000, [2.0, 0.3, 0.2, 0.3, 0.2], [0, 1, 0, 1, 0],
                                          [0.5, 0.7]),
                                     rung(2000, [0.6, 0.8, 0.7], [1, 1, 1], [0.9]),
                                     rung(8000, [1.0, 3.0, 6.0], [1, 2, 4], [7.0, 9.0])]}]}
        m, t = layers.end_to_end(res)
        # processing seconds per scheduled second, the start-up batch left
        # out and the no-data batches counted: 0.5, 0.75 and 1.5 (the top
        # rung, past capacity)
        self.assertAlmostEqual(m["pass_s"], 4 * (0.5 + 0.75 + 1.5))
        # the top rung: 8 MB of text per scheduled second over 1.5 s
        self.assertAlmostEqual(m["input_mb_s"], 8.0 / 1.5)
        self.assertAlmostEqual(m["op_p50_s"], 0.7)
        self.assertAlmostEqual(m["op_tail_s"], 0.9)
        self.assertEqual(t["n"], 3)
        self.assertAlmostEqual(m["live_mb"], 300.0)
        # CPU scaled to each rung's scheduled seconds: 2 CPU-s per second
        self.assertAlmostEqual(m["cpu_s"], 3 * 4 * 2.0)

if __name__ == "__main__":
    unittest.main()
