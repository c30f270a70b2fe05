"""Tests of the benchmark's arithmetic and of BENCHMARK.json.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import re
import statistics
import unittest

import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 2.0, 3.0]), 2.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class SpreadTest(unittest.TestCase):
    def test_iqr_share_uses_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.iqr_share(xs), (q3 - q1) / q2)


def node(i, parent, start, end, layer="x"):
    return {"id": i, "parent": parent, "start": start, "end": end, "layer": layer}


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([node(1, 0, 0, 10)]), {1: 10})

    def test_overlapping_children_are_counted_once(self):
        nodes = [node(1, 0, 0, 100), node(2, 1, 10, 40), node(3, 1, 30, 60),
                 node(4, 1, 80, 90)]
        st = stats.self_times(nodes)
        self.assertEqual(st[1], 100 - 50 - 10)
        self.assertEqual(st[2], 30)

    def test_children_are_clipped_to_the_parent(self):
        nodes = [node(1, 0, 10, 20), node(2, 1, 5, 15)]
        self.assertEqual(stats.self_times(nodes)[1], 5)

    def test_self_times_add_up_to_the_root(self):
        nodes = [node(1, 0, 0, 100, "workload"), node(2, 1, 0, 70, "functions"),
                 node(3, 2, 10, 60, "spark.job"), node(4, 3, 20, 55, "spark.stage")]
        by_layer = stats.self_by_layer(nodes)
        self.assertEqual(by_layer, {"workload": 30, "functions": 20,
                                    "spark.job": 15, "spark.stage": 35})
        self.assertEqual(sum(by_layer.values()), 100)


class SpanTreeTest(unittest.TestCase):
    def test_jobs_and_stages_hang_under_their_span(self):
        raw = {
            "spans": [
                {"id": 1, "parent": 0, "name": "traced.4", "layer": "workload",
                 "start_ms": 0, "end_ms": 100},
                {"id": 2, "parent": 1, "name": "call", "layer": "pipeline",
                 "start_ms": 0, "end_ms": 90},
                {"id": 3, "parent": 0, "name": "other", "layer": "core",
                 "start_ms": 200, "end_ms": 300},
            ],
            "ledger.traced.4": {
                "jobs": [{"id": 0, "span": 2, "start_ms": 10, "end_ms": 80}],
                "stages": [{"id": 0, "attempt": 0, "job": 0, "name": "s",
                            "start_ms": 20, "end_ms": 70}],
            },
        }
        by_layer = stats.self_by_layer(stats.span_tree(raw, "traced.4"))
        self.assertEqual(by_layer, {"workload": 10, "pipeline": 20,
                                    "spark.job": 20, "spark.stage": 50})


class SparkSummaryTest(unittest.TestCase):
    def test_shares_and_skew(self):
        ledger = {"jobs": [{"id": 0}, {"id": 1}], "stages": [
            {"run_ms": 3000, "gc_ms": 300, "task_ms": [1000, 1000, 1000, 3000],
             "shuffle_write_bytes": 10, "shuffle_read_bytes": 10, "spill_bytes": 0},
            {"run_ms": 1000, "gc_ms": 100, "task_ms": [500],
             "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 4},
        ]}
        m = stats.spark_summary(ledger, busy_wall_s=2.0, cores=4, ops=2)
        self.assertEqual(m["spark.jobs_per_op"], 1.0)
        self.assertEqual(m["spark.tasks_per_op"], 2.5)
        self.assertAlmostEqual(m["spark.task_busy_share"], 4000 / 8000)
        self.assertAlmostEqual(m["spark.gc_share"], 0.1)
        self.assertEqual(m["spark.task_skew"], 3.0)
        self.assertEqual(m["spark.spill_bytes_per_op"], 2.0)


class BenchmarkFileTest(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics run.py prints."""

    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            self.spec = json.load(fh)

    def test_metric_lists_match(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["end_to_end"]],
                         stats.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["per_layer"]],
                         stats.PER_LAYER)

    def test_shape(self):
        self.assertEqual(set(self.spec), {"command", "paths", "run_seconds",
                                          "workloads", "end_to_end", "per_layer"})
        import run
        self.assertEqual(tuple(w["name"] for w in self.spec["workloads"]),
                         run.WORKLOADS)
        name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in self.spec[k]]
        self.assertEqual(len(names), len(set(names)))
        for m in self.spec["end_to_end"] + self.spec["per_layer"]:
            self.assertRegex(m["name"], name)
            self.assertRegex(m["unit"], unit)
        for m in self.spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in self.spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["better"], "lower")
        self.assertEqual(setup[0]["bound"],
                         max(m["bound"] for m in self.spec["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
