"""Unit tests of the benchmark's metric helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import benchlib  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 21))  # 1..20
        self.assertEqual(benchlib.percentile(xs, 0.5), 10)
        self.assertEqual(benchlib.percentile(xs, 0.9), 18)
        self.assertEqual(benchlib.percentile(xs, 1.0), 20)
        self.assertEqual(benchlib.percentile([7], 0.9), 7)
        self.assertEqual(benchlib.percentile([1, 2, 3, 4], 0.5), 2)

    def test_order_does_not_matter(self):
        self.assertEqual(benchlib.percentile([5, 1, 3, 2, 4], 0.6), 3)

    def test_rejects_bad_input(self):
        with self.assertRaises(ValueError):
            benchlib.percentile([], 0.5)
        with self.assertRaises(ValueError):
            benchlib.percentile([1], 0)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlap_and_touching(self):
        self.assertEqual(benchlib.merge_intervals([(5, 7), (0, 2), (1, 3), (3, 4)]),
                         [(0, 4), (5, 7)])
        self.assertEqual(benchlib.union_length([(0, 2), (1, 3), (5, 7)]), 5)

    def test_union_ignores_empty(self):
        self.assertEqual(benchlib.union_length([(2, 2), (3, 1)]), 0)

    def test_overlap(self):
        self.assertEqual(benchlib.overlap([(0, 1), (2, 3)]), 1.0)
        self.assertEqual(benchlib.overlap([(0, 2), (0, 2)]), 2.0)
        self.assertAlmostEqual(benchlib.overlap([(0, 2), (1, 3)]), 4 / 3)
        self.assertEqual(benchlib.overlap([]), 1.0)

    def test_self_time(self):
        self.assertEqual(benchlib.self_time((0, 10), []), 10)
        self.assertEqual(benchlib.self_time((0, 10), [(1, 3), (2, 4), (8, 12)]), 5)
        # children outside the span are clipped away
        self.assertEqual(benchlib.self_time((0, 10), [(-5, -1), (11, 12)]), 10)


def synthetic_result():
    """A traced query run: one op with a construct job and a sink job."""
    ops = [{"name": "q1", "start_s": 100.0, "constructed_s": 101.0,
            "end_s": 103.0, "ok": True, "error": None, "rows": 4, "digest": "9"}]
    stage = {"tasks": 4.0, "empty_tasks": 1.0, "run_s": 2.0, "cpu_s": 1.5,
             "gc_s": 0.1, "input_bytes": 2e6, "shuffle_read_bytes": 0.0,
             "shuffle_write_bytes": 1e6, "spill_bytes": 0.0,
             "output_bytes": 0.0, "output_rows": 0.0}
    return {
        "cores": 4, "stores": 0,
        "setup": {"session_s": 2.0, "corpus_s": 1.0, "warmup_s": 2.0,
                  "setup_s": 5.0},
        "passes": [
            {"traced": False, "start_s": 90.0, "end_s": 94.0, "wall_s": 4.0,
             "cpu_s": 6.0, "ops": ops,
             "heap": {"alloc_mb": 90.0, "live_mb": 300.0}},
            {"traced": True, "start_s": 100.0, "end_s": 103.0, "wall_s": 3.0,
             "cpu_s": 5.0, "ops": ops,
             "heap": {"alloc_mb": 80.0, "live_mb": 310.0}},
            {"traced": False, "start_s": 110.0, "end_s": 112.5, "wall_s": 2.5,
             "cpu_s": 4.0, "ops": ops,
             "heap": {"alloc_mb": 70.0, "live_mb": 320.0}},
        ],
        "trace": {
            "jobs": [{"job": 1, "op": "q1", "phase": "construct",
                      "start_ms": 100200, "end_ms": 100700},
                     {"job": 2, "op": "q1", "phase": "sink",
                      "start_ms": 101500, "end_ms": 102500}],
            "stages": [dict(stage, stage=1, job=1, op="q1", phase="construct",
                            start_ms=100300, end_ms=100600),
                       dict(stage, stage=2, job=2, op="q1", phase="sink",
                            start_ms=101500, end_ms=102500)],
            "executions": [{"func": "command", "ok": True, "start_ms": 101000,
                            "analysis_ms": 3, "optimizer_ms": 5, "planning_ms": 7}],
            "progress": [],
        },
    }


class MetricsTest(unittest.TestCase):
    def test_end_to_end(self):
        m = benchlib.end_to_end(synthetic_result())
        self.assertEqual(m["setup_s"], (5.0, "s"))
        self.assertEqual(m["wall_s"], (3.25, "s"))  # untraced passes only
        self.assertAlmostEqual(m["op_geomean_s"][0], 3.0)
        self.assertEqual(m["alloc_mb"], (80.0, "MB"))
        self.assertEqual(m["live_mb"], (310.0, "MB"))

    def test_per_layer(self):
        m = benchlib.per_layer(synthetic_result())
        self.assertAlmostEqual(m["ops.construct_self_s"][0], 0.5)
        self.assertAlmostEqual(m["sink.self_s"][0], 1.0)
        self.assertAlmostEqual(m["sched.no_job_s"][0], 1.5)
        self.assertAlmostEqual(m["sched.job_self_s"][0], 0.2)
        self.assertEqual(m["sched.tasks"][0], 8.0)
        self.assertAlmostEqual(m["sched.empty_task_frac"][0], 0.25)
        self.assertAlmostEqual(m["exec.cpu_util"][0], 3.0 / (3.0 * 4))
        self.assertAlmostEqual(m["trace.overhead"][0], 0.2)
        self.assertEqual(m["catalyst.planning_ms"][0], 7)

    def test_per_layer_names_match_benchmark_json(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)),
                               "BENCHMARK.json")) as fh:
            declared = json.load(fh)
        m = benchlib.per_layer(synthetic_result())
        self.assertEqual({d["name"]: d["unit"] for d in declared["per_layer"]},
                         {k: u for k, (_, u) in m.items()})
        e = benchlib.end_to_end(synthetic_result())
        self.assertEqual({d["name"]: d["unit"] for d in declared["end_to_end"]},
                         {k: u for k, (_, u) in e.items()})

    def test_spans_nest(self):
        r = synthetic_result()
        spans = benchlib.spans(r["passes"][1], r["trace"])
        ids = {s["id"]: s for s in spans}
        layers = [ids[s["parent"]]["layer"] + ">" + s["layer"]
                  for s in spans if s["parent"]]
        self.assertEqual(sorted(set(layers)), ["construct>job", "job>stage",
                                               "op>construct", "op>sink",
                                               "run>op", "sink>job"])
        self.assertAlmostEqual(ids["op0.construct"]["self_s"], 0.5)
        self.assertAlmostEqual(ids["job1"]["self_s"], 0.2)


if __name__ == "__main__":
    unittest.main()
