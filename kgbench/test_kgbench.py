"""Tests of the benchmark itself: generator determinism, the percentile and
spread rules, and the metric names against BENCHMARK.json.

    python3 -m unittest discover -s kgbench -p 'test_*.py'
"""
import hashlib
import json
import os
import statistics
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

SMALL = 600


def digest(seed, convs):
    with tempfile.TemporaryDirectory() as d:
        gen.write_corpus(seed, convs, d)
        with open(os.path.join(d, "events.parquet"), "rb") as fh:
            return hashlib.sha256(fh.read()).hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(digest(7, SMALL), digest(7, SMALL))

    def test_other_seed_gives_other_bytes(self):
        self.assertNotEqual(digest(7, SMALL), digest(8, SMALL))

    def test_constants_shape_the_corpus(self):
        t = gen.generate(3, SMALL).to_pydict()
        n = len(t["event_id"])
        self.assertEqual(len(set(t["event_id"])), n, "event ids are unique")
        self.assertEqual(list(t["ts"]), sorted(t["ts"]), "rows are in time order")
        convs = {}
        for u, ts in zip(t["user_id"], t["ts"]):
            convs[(u, ts.date())] = convs.get((u, ts.date()), 0) + 1
        self.assertEqual(len(convs), SMALL)
        self.assertLessEqual(max(convs.values()), gen.LEN_CAP)
        self.assertGreater(max(convs.values()), 4 * statistics.median(convs.values()), "long tail")
        slots = [0] * gen.ALIAS_SLOTS
        for e in t["event_id"]:
            slots[e % gen.ALIAS_SLOTS] += 1
        self.assertGreater(max(slots), 3 * min(slots), "alias choice is skewed")
        roles = {"user": 0, "assistant": 0, "tool": 0}
        for et in t["event_type"]:
            roles[next(r for r, ts in gen.ROLE_EVENTS.items() if et in ts)] += 1
        for share, r in zip(gen.ROLE_MIX, ("user", "assistant", "tool")):
            self.assertLess(abs(roles[r] / n - share), 0.03)


class StatisticsTest(unittest.TestCase):
    def test_quantile_interpolates(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(metrics.quantile(xs, 0.5), 3)
        self.assertEqual(metrics.quantile(xs, 0.0), 1)
        self.assertEqual(metrics.quantile(xs, 1.0), 5)
        self.assertAlmostEqual(metrics.quantile([0, 10], 0.9), 9.0)

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(10))
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(1000), 99)
        for n in range(11, 400):
            p = metrics.tail_percentile(n)
            beyond = n - -(-p * n // 100)
            self.assertGreaterEqual(beyond, 10)

    def test_spread_uses_statistics_quartiles(self):
        xs = [10.0, 11.0, 9.0, 10.5, 10.2, 9.8, 10.1, 10.3, 9.9, 10.0]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(metrics.spread(xs), (q3 - q1) / statistics.median(xs))


class MetricNamesTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            cls.bench = json.load(fh)

    def test_names_and_units_follow_the_grammar(self):
        names = [n for n, *_ in metrics.END_TO_END + metrics.PER_LAYER]
        names += [w["name"] for w in self.bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, metrics.NAME_RE)
        for u in metrics.UNITS.values():
            self.assertRegex(u, metrics.UNIT_RE)

    def test_benchmark_json_matches_the_code(self):
        b = self.bench
        self.assertEqual(sorted(b), ["command", "end_to_end", "paths", "per_layer", "run_seconds", "workloads"])
        self.assertEqual(b["command"], ["python3", "kgbench/run.py"])
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]], metrics.PER_LAYER)

    def test_bounds(self):
        bounds = {m["name"]: m["bound"] for m in self.bench["end_to_end"]}
        self.assertTrue(all(0 < v <= 0.25 for v in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))

    def test_result_line_shape(self):
        r = metrics.result(True, 3, 0, {"setup_s": 1.5})
        self.assertEqual(sorted(r), ["attempted", "correct", "failed", "metrics"])
        self.assertEqual(r["metrics"]["setup_s"], {"value": 1.5, "unit": "s"})


if __name__ == "__main__":
    unittest.main()
