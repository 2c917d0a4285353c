"""Self-tests of the benchmark's arithmetic on fixed inputs; no Spark.

    python3 perfbench/test_stats.py
"""
import json
import os
import unittest

import spec
import stats

HERE = os.path.dirname(os.path.abspath(__file__))


class Percentile(unittest.TestCase):
    def test_p99_needs_ten_samples_beyond(self):
        xs = list(range(1, 1001))
        # 1,000 samples leave exactly 10 above the 99th percentile
        self.assertAlmostEqual(stats.percentile(xs, 0.99), 990.01)
        self.assertIsNone(stats.percentile(xs[:999], 0.99))

    def test_interpolates_between_order_statistics(self):
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([7]), 7)
        self.assertAlmostEqual(stats.percentile(list(range(11)), 0.95, min_beyond=0), 9.5)

    def test_empty(self):
        self.assertIsNone(stats.percentile([], 0.5, min_beyond=0))


class SelfTime(unittest.TestCase):
    def span(self, i, parent, name, a, b):
        return {"id": i, "parent": parent, "name": name, "start_ms": a, "end_ms": b}

    def test_overlapping_children_count_once_and_are_clipped(self):
        spans = [
            self.span(1, 0, "stream.drain", 0, 100),
            self.span(2, 1, "io.sink", 10, 30),
            self.span(3, 1, "io.sink", 20, 50),  # concurrent with span 2
            self.span(4, 1, "io.sink", 90, 120),  # ends after its parent
            self.span(5, 0, "flow.raw_table", 100, 110),
        ]
        got = stats.self_times(spans)
        self.assertEqual(got["stream"], 100 - 40 - 10)
        self.assertEqual(got["io"], 20 + 30 + 30)
        self.assertEqual(got["flow"], 10)

    def test_nested_layers(self):
        spans = [
            self.span(1, 0, "run.measure", 0, 10),
            self.span(2, 1, "queries.q", 1, 9),
            self.span(3, 2, "queries.construct", 1, 4),
            self.span(4, 2, "queries.execute", 5, 9),
        ]
        got = stats.self_times(spans)
        self.assertEqual(got["run"], 2)
        self.assertEqual(got["queries"], 1 + 3 + 4)


class FailedFrac(unittest.TestCase):
    def test_share(self):
        self.assertEqual(stats.failed_frac(250, 0), 0.0)
        self.assertEqual(stats.failed_frac(40, 2), 0.05)

    def test_nothing_attempted(self):
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)


class Landing(unittest.TestCase):
    def test_files_map_to_the_batch_holding_their_rows(self):
        files = [(0, 9), (10, 19), (20, 29)]
        batches = [(0, 0, 19), (1, 20, 29)]
        self.assertEqual(stats.landing(files, batches, {"0": 5.0, "1": 8.0}), [5.0, 5.0, 8.0])
        self.assertEqual(stats.landing([(40, 49)], batches, {"0": 5.0}), [None])


class StratifiedPick(unittest.TestCase):
    def test_middle_of_each_stratum_in_proportion_to_family_size(self):
        walls = {"a": {f"a{i}": float(i) for i in range(12)},
                 "b": {"b0": 5.0, "b1": 1.0, "b2": 3.0, "b3": 2.0}}
        # 16 names, k = 4: three strata of four in "a", one of four in "b"
        self.assertEqual(stats.stratified_pick(walls, 4), ["a2", "a6", "a10", "b2"])

    def test_every_family_keeps_one(self):
        walls = {"a": {f"a{i}": float(i) for i in range(30)}, "b": {"b0": 1.0}}
        # "a" gets round(2 * 30 / 31) = 2 strata; "b" still gets one
        self.assertEqual(stats.stratified_pick(walls, 2), ["a7", "a22", "b0"])


class Spec(unittest.TestCase):
    def test_benchmark_json_matches_spec(self):
        path = os.path.join(HERE, "..", "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to the benchmark")
        with open(path) as f:
            self.assertEqual(json.load(f), spec.benchmark_json())

    def test_setup_metric_has_the_largest_bound(self):
        bounds = {n: b for n, _, _, b in spec.END_TO_END}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))


if __name__ == "__main__":
    unittest.main()
