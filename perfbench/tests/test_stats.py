"""Metric arithmetic of the benchmark.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.percentile(range(1, 100), 0.9))  # 99 samples: 9 beyond
        self.assertEqual(stats.percentile(range(1, 101), 0.9), 90)  # 100 samples: 10 beyond
        self.assertEqual(stats.percentile(range(1, 201), 0.9), 180)

    def test_median_is_reported_from_one_sample(self):
        self.assertEqual(stats.percentile([3.0], 0.5), 3.0)
        self.assertIsNone(stats.percentile([], 0.5))
        self.assertEqual(stats.median([4.0, 1.0, 2.0, 3.0]), 2.5)


class ErrorRate(unittest.TestCase):
    def test_failed_ops_and_failed_checks_both_count(self):
        ops = [{"ok": True}, {"ok": False}, {"ok": True}, {"ok": True}]
        self.assertEqual(stats.failures(ops, []), (4, 1))
        self.assertEqual(stats.failures(ops, ["cow: 3 rows != 4"]), (4, 2))
        self.assertEqual(stats.error_rate(*stats.failures(ops, ["x"])), 0.5)

    def test_failed_is_capped_at_attempted(self):
        self.assertEqual(stats.failures([{"ok": False}], ["a", "b"]), (1, 1))

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.error_rate(0, 0)


class RoundRate(unittest.TestCase):
    def test_median_of_per_round_rates(self):
        ops = [{"round": 0, "ok": True, "start": 0, "end": 1000},
               {"round": 0, "ok": True, "start": 1000, "end": 2000},   # 1/s
               {"round": 1, "ok": True, "start": 2000, "end": 2500},
               {"round": 1, "ok": False, "start": 2500, "end": 3000},  # 1 ok in 1 s
               {"round": 2, "ok": True, "start": 3000, "end": 3100},
               {"round": 2, "ok": True, "start": 3100, "end": 3200}]   # 10/s
        self.assertEqual(stats.round_rate(ops), 1.0)


class IntervalUnion(unittest.TestCase):
    def test_overlapping_nested_and_disjoint(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]), 4)
        self.assertEqual(stats.union_length([]), 0)

    def test_clipped_to_the_op(self):
        self.assertEqual(stats.union_length([(-5, 1), (9, 20)], 0, 10), 2)

    def test_driver_gap_is_op_time_no_job_covers(self):
        # op 0..10 ms; jobs 1..3 and 2..4 overlap, 8..12 runs past the end
        self.assertEqual(stats.uncovered(0, 10, [(1, 3), (2, 4), (8, 12)]), 5)
        self.assertEqual(stats.uncovered(0, 10, []), 10)


class Spans(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        op = {"id": "op-0", "name": "merge_cow", "start": 0.0, "end": 100.0,
              "frames": [{"phases": {"analysis": [0, 10], "planning": [10, 20]}}],
              "jobs": [{"id": 1, "start": 15.0, "end": 60.0}], "batches": []}
        probe = {"op": "op-0", "table": "cow", "start": 100.0, "end": 101.0}
        sp = stats.spans([op], [probe])
        root = sp[0]
        self.assertEqual((root["name"], root["parent"]), ("op.merge_cow", None))
        # children cover 0..60 of the op's 0..100; the probe lies outside it
        self.assertEqual(root["self_ms"], 40.0)
        self.assertEqual({s["name"] for s in sp[1:]},
                         {"catalyst.analysis", "catalyst.planning", "job.1", "probe.snapshot.cow"})
        self.assertTrue(all(s["parent"] == 0 and s["op"] == "op-0" for s in sp[1:]))

    def test_micro_batch_phases_nest_under_their_batch(self):
        op = {"id": "op-0", "name": "land+process", "start": 0.0, "end": 50.0, "frames": [],
              "jobs": [], "batches": [{"name": "fact", "start": 1.0, "durations": {
                  "triggerExecution": 40, "latestOffset": 5, "addBatch": 30}}]}
        sp = stats.spans([op], [])
        batch = next(s for s in sp if s["name"] == "stream.batch.fact")
        self.assertEqual(batch["self_ms"], 5.0)
        self.assertEqual(sorted(s["name"] for s in sp if s["parent"] == batch["id"]),
                         ["stream.addBatch", "stream.latestOffset"])


if __name__ == "__main__":
    unittest.main()
