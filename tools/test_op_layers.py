"""Tests of tools/op_layers.py: python3 -m unittest discover -s tools -p 'test_*.py'"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import op_layers  # noqa: E402


def _spans():
    # one pass, two ops: q2 with one construction job and one sink job,
    # q10 with no construction job and two sink jobs
    return [
        {"id": "run", "parent": None, "layer": "run", "name": "pass",
         "start": 0.0, "end": 5.0, "self_s": 0.0},
        {"id": "op0", "parent": "run", "layer": "op", "name": "q10_b",
         "start": 0.0, "end": 2.0, "self_s": 0.0},
        {"id": "op0.construct", "parent": "op0", "layer": "construct",
         "name": "q10_b", "start": 0.0, "end": 0.5, "self_s": 0.5},
        {"id": "op0.sink", "parent": "op0", "layer": "sink", "name": "q10_b",
         "start": 0.5, "end": 2.0, "self_s": 0.25},
        {"id": "job1", "parent": "op0.sink", "layer": "job", "name": "1",
         "start": 0.6, "end": 1.0, "self_s": 0.0},
        {"id": "stage1", "parent": "job1", "layer": "stage", "name": "1",
         "start": 0.6, "end": 1.0, "self_s": 0.4},
        {"id": "job2", "parent": "op0.sink", "layer": "job", "name": "2",
         "start": 1.0, "end": 1.9, "self_s": 0.0},
        {"id": "op1", "parent": "run", "layer": "op", "name": "q2_a",
         "start": 2.0, "end": 5.0, "self_s": 0.0},
        {"id": "op1.construct", "parent": "op1", "layer": "construct",
         "name": "q2_a", "start": 2.0, "end": 3.0, "self_s": 0.75},
        {"id": "job3", "parent": "op1.construct", "layer": "job", "name": "3",
         "start": 2.1, "end": 2.35, "self_s": 0.0},
        {"id": "op1.sink", "parent": "op1", "layer": "sink", "name": "q2_a",
         "start": 3.0, "end": 5.0, "self_s": 1.5},
        {"id": "job4", "parent": "op1.sink", "layer": "job", "name": "4",
         "start": 3.0, "end": 3.5, "self_s": 0.0},
    ]


class OpLayersTest(unittest.TestCase):
    def test_layers_count_jobs_per_phase(self):
        t = op_layers.layers(_spans())
        self.assertEqual(t["q10_b"]["construct"], {"s": 0.5, "jobs": 0, "self_s": 0.5})
        self.assertEqual(t["q10_b"]["sink"], {"s": 1.5, "jobs": 2, "self_s": 0.25})
        self.assertEqual(t["q2_a"]["construct"]["jobs"], 1)
        self.assertEqual(op_layers.total(t)["construct"],
                         {"s": 1.5, "jobs": 1, "self_s": 1.25})

    def test_op_without_sink_span_reads_zero(self):
        spans = [s for s in _spans() if s["id"] != "op0.sink"
                 and s["parent"] != "op0.sink"]
        self.assertEqual(op_layers.layers(spans)["q10_b"]["sink"],
                         {"s": 0.0, "jobs": 0, "self_s": 0.0})

    def test_render_orders_by_number_and_pairs_before_after(self):
        before = op_layers.layers(_spans())
        after = op_layers.layers([s for s in _spans() if s["id"] != "job3"])
        lines = op_layers.render([before, after]).splitlines()
        self.assertTrue(lines[2].startswith("| q2_a | 1.00 -> 1.00 | 1 -> 0 |"))
        self.assertTrue(lines[3].startswith("| q10_b |"))
        self.assertTrue(lines[-1].startswith("| total | 1.50 -> 1.50 | 1 -> 0 |"))


if __name__ == "__main__":
    unittest.main()
