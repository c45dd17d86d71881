"""Seed determinism of the benchmark's inputs.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class SeedDeterminism(unittest.TestCase):
    def test_query_order(self):
        names = [f"q{i}" for i in range(8)]
        self.assertEqual(gen.query_passes(7, names, 3), gen.query_passes(7, names, 3))
        self.assertNotEqual(gen.query_passes(7, names, 3), gen.query_passes(8, names, 3))
        for p in gen.query_passes(7, names, 3):
            self.assertEqual(sorted(p), names)

    def test_statement_log(self):
        self.assertEqual(gen.statement_log(7, 1000, 3), gen.statement_log(7, 1000, 3))
        self.assertNotEqual(gen.statement_log(7, 1000, 3), gen.statement_log(8, 1000, 3))

    def test_every_round_runs_the_same_statement_mix(self):
        log = gen.statement_log(7, 1000, 3)
        mix = lambda r: sorted((e["cls"], e["kind"], e["table"]) for e in log if e["round"] == r)
        self.assertEqual(mix(-1), sorted(gen.ROUND))
        self.assertEqual(mix(0), mix(2))

    def test_merge_keys_are_unique_and_mix_matched_and_new(self):
        for e in gen.statement_log(7, 1000, 3):
            if e["kind"] == "merge":
                self.assertEqual(len(set(e["keys"])), len(e["keys"]))
                self.assertTrue(any(k < 1000 for k in e["keys"]))
                self.assertTrue(any(k >= 1000 for k in e["keys"]))

    def test_batch_files_and_tables(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.stream_files(7, 600, 3, os.path.join(d, "a"))
            b = gen.stream_files(7, 600, 3, os.path.join(d, "b"))
            c = gen.stream_files(8, 600, 3, os.path.join(d, "c"))
            self.assertEqual(digest(a), digest(b))
            self.assertNotEqual(digest(a), digest(c))
            gen.write_tables(7, 0.001, os.path.join(d, "t1"))
            gen.write_tables(7, 0.001, os.path.join(d, "t2"))
            files = lambda t: [os.path.join(d, t, f"{n}.parquet") for n in gen.tables(7, 0.001)]
            self.assertEqual(digest(files("t1")), digest(files("t2")))

    def test_event_times_strictly_increase(self):
        ts = gen.events(7, 1000)["ts"]
        self.assertTrue((ts[1:] > ts[:-1]).all())


if __name__ == "__main__":
    unittest.main()
