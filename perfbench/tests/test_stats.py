"""Self-tests for the benchmark's pure pieces. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import fixtures  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        values = list(range(1, 101))
        self.assertEqual(stats.percentile(values, 90), 90.0)
        with self.assertRaises(ValueError):
            stats.percentile(values, 91)
        with self.assertRaises(ValueError):
            stats.percentile(list(range(19)), 50)
        self.assertEqual(stats.percentile(list(range(20)), 50), 9.0)

    def test_nearest_rank_ignores_order(self):
        rng = np.random.default_rng(0)
        values = rng.permutation(1000)
        self.assertEqual(stats.percentile(values, 99), 989.0)


class SelfTime(unittest.TestCase):
    def test_children_subtracted_once(self):
        spans = [("root", "", "r", "a", 0.0, 10.0),
                 ("c1", "root", "c", "b", 1.0, 4.0),
                 ("c2", "root", "c", "b", 3.0, 6.0),   # overlaps c1
                 ("c3", "root", "c", "b", 9.0, 12.0),  # runs past its parent
                 ("g", "c1", "g", "c", 1.0, 2.0)]
        self_t = stats.self_times(spans)
        self.assertAlmostEqual(self_t["root"], 10 - 5 - 1)
        self.assertAlmostEqual(self_t["c1"], 2.0)
        self.assertAlmostEqual(self_t["g"], 1.0)
        self.assertAlmostEqual(stats.layer_self_times(spans)["b"], 2.0 + 3.0 + 3.0)


class PhaseLockedSchedule(unittest.TestCase):
    def test_slots_centred_inside_each_period(self):
        due = stats.schedule(5000.0, 1000.0, 10, 25)
        self.assertEqual(due[0], 5050.0)
        self.assertEqual(due[9], 5950.0)
        self.assertEqual(due[10], 6050.0)
        self.assertTrue(np.allclose(np.diff(due), 100.0))

    def test_lateness_and_boundary(self):
        due = stats.schedule(7000.0, 1000.0, 10, 30)
        released = due + np.linspace(0, 3, 30)
        self.assertAlmostEqual(stats.check_schedule(due, released, 1000.0, 10), 3.0)
        with self.assertRaises(ValueError):  # origin off the trigger clock
            stats.check_schedule(due + 250, released, 1000.0, 10)
        skewed = due.copy()
        skewed[7] += 40
        with self.assertRaises(ValueError):
            stats.check_schedule(skewed, released, 1000.0, 10)


class ManifestCheck(unittest.TestCase):
    def test_missing_duplicate_and_corrupt_rows(self):
        expected = np.arange(100, dtype=np.uint64) * np.uint64(7919)
        digests = expected.copy()
        counts = np.ones(100, np.int32)
        counts[80:] = 0
        self.assertEqual(stats.check_manifest(expected, counts, digests,
                                              [(0, 80, 1), (80, 100, 0)]), (100, 0))
        counts[3] = 0          # missing
        counts[4] = 2          # duplicated
        digests[5] ^= np.uint64(1)  # one bit differs
        counts[90] = 1         # delivered although never released
        self.assertEqual(stats.check_manifest(expected, counts, digests,
                                              [(0, 80, 1), (80, 100, 0)]), (100, 4))

    def test_digest_covers_every_field(self):
        rng = np.random.default_rng(1)
        part = np.array([1, 1], np.int32)
        ts = np.array([5, 5], np.int64)
        keys = rng.integers(0, 256, (1, 16), dtype=np.uint8).repeat(2, 0)
        values = rng.integers(0, 256, (1, 200), dtype=np.uint8).repeat(2, 0)
        seqs = np.array([3, 3])
        base = fixtures.envelope_digest(part, ts, keys, values, seqs)
        self.assertEqual(base[0], base[1])
        for change in ("part", "ts", "key", "value", "seq"):
            p, t, k, v, s = part.copy(), ts.copy(), keys.copy(), values.copy(), seqs.copy()
            {"part": p, "ts": t, "seq": s}.get(change, np.zeros(1))[1:] += 1
            if change == "key":
                k[1, 15] ^= 1
            if change == "value":
                v[1, 199] ^= 1
            d = fixtures.envelope_digest(p, t, k, v, s)
            self.assertNotEqual(d[0], d[1], change)


class BenchmarkSpec(unittest.TestCase):
    def test_metrics_match_what_run_prints(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         [(m, run.UNITS[m]) for m in run.END_TO_END])
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         [(m, run.unit_of(m)) for m in run.LAYER_NAMES])
        self.assertEqual([w["name"] for w in spec["workloads"]], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
