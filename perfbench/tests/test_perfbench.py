"""Tests of the benchmark's own Python parts.

    python3 -m unittest discover -s perfbench/tests

The generator and stream/ingest models are covered by
perfbench/src/test/scala/graftbench/GenSpec.scala (`sbt test` in perfbench).
"""
import hashlib
import json
import os
import statistics
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import aa  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import tables  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_percentile_interpolates_between_ranks(self):
        xs = list(range(1, 11))  # 1..10
        self.assertEqual(stats.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertEqual(stats.percentile([3.0], 90), 3.0)

    def test_quartiles_match_the_statistics_module(self):
        xs = [5.0, 1.0, 4.0, 2.0, 8.0, 7.0, 3.0]
        q = statistics.quantiles(xs, n=4)
        self.assertEqual(stats.quartiles(xs), (q[0], q[2]))
        self.assertAlmostEqual(stats.spread(xs), (q[2] - q[0]) / 4.0)


class Agreement(unittest.TestCase):
    spec = {"name": "latency_p50_s", "better": "lower", "bound": 0.2}
    a = [1.0, 1.01, 0.99, 1.02, 0.98]

    def test_change_is_a_share_of_the_first_median(self):
        self.assertAlmostEqual(aa.change(1.0, 1.1), 0.1)
        self.assertAlmostEqual(aa.change(100.0, 90.0), -0.1)

    def test_two_sets_agree_within_the_bound(self):
        j = aa.judge(self.spec, [self.a, [x * 1.1 for x in self.a]])
        self.assertTrue(j["steady"] and j["agree"])

    def test_agreement_is_symmetric(self):
        for factor in (1.3, 0.7):
            j = aa.judge(self.spec, [self.a, [x * factor for x in self.a]])
            self.assertFalse(j["agree"], factor)

    def test_a_wide_spread_is_not_steady(self):
        wide = [1.0, 1.5, 0.7, 1.2, 0.8]
        self.assertFalse(aa.judge(self.spec, [wide, self.a])["steady"])
        setup = dict(self.spec, name="setup_s")
        self.assertFalse(aa.judge(setup, [wide, self.a])["steady"])


class LayerMetrics(unittest.TestCase):
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))), "BENCHMARK.json")) as fh:
        per_layer = json.load(fh)["per_layer"]

    def test_every_per_layer_metric_belongs_to_a_workload(self):
        for m in self.per_layer:
            owners = [w for w in run.WORKLOADS
                      if run.missing_layers(w, [m], {}) == [m["name"]]]
            self.assertTrue(owners, m["name"])

    def test_a_metric_the_workload_runs_must_be_there(self):
        layers = {"streaming.batches": 3.0, "sources.rows": None}
        missing = run.missing_layers("stream_stateful", self.per_layer, layers)
        self.assertIn("sources.rows", missing)
        self.assertIn("streaming.planning_ms", missing)
        self.assertNotIn("streaming.batches", missing)
        self.assertNotIn("tables.scan_rows", missing)


class TableGenerator(unittest.TestCase):
    def digest(self, seed):
        with tempfile.TemporaryDirectory() as d:
            tables.generate(d, seed, scale=0.01)
            h = hashlib.sha256()
            for name in sorted(os.listdir(d)):
                with open(os.path.join(d, name), "rb") as fh:
                    h.update(name.encode() + fh.read())
            return h.hexdigest()

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        self.assertEqual(self.digest(3), self.digest(3))
        self.assertNotEqual(self.digest(3), self.digest(4))


if __name__ == "__main__":
    unittest.main()
