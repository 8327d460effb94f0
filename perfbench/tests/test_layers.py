"""Span arithmetic: self time and driver gap reconcile with wall time."""

import glob
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402


def span(i, name, parent, start, end, run=1):
    return {"id": i, "name": name, "parent": parent, "run": run, "start_ms": start, "end_ms": end,
            "wall_s": (end - start) / 1000.0}


TRACE = {
    "spans": [span(1, "streaming.post_replay", -1, 0, 1000),
              span(2, "streaming.batch", 1, 100, 400),
              span(3, "streaming.batch", 1, 350, 600),
              span(4, "analytics.search", -1, 1000, 1100)],
    "jobs": [{"id": 0, "start_ms": 100, "end_ms": 300, "stages": [0]},
             {"id": 1, "start_ms": 200, "end_ms": 500, "stages": [1]},
             {"id": 2, "start_ms": 800, "end_ms": 1200, "stages": [2]},
             {"id": 3, "start_ms": 1050, "end_ms": 1090, "stages": [3]}],
    "stage_submit_ms": {"0": 100, "1": 200, "2": 800, "3": 1050},
    # stage, launch, run, gc, shuffle bytes, io bytes, reads shuffle, reads files
    "tasks": [[0, 110, 150, 5, 0, 2000000, 0, 1], [1, 260, 200, 0, 1000000, 0, 1, 0],
              [2, 800, 300, 10, 0, 0, 0, 0], [3, 1050, 30, 0, 0, 500000, 0, 1]],
    "batches": [{"query": "q", "start_ms": 100, "durations_ms": {"triggerExecution": 300, "addBatch": 200,
                                                                  "getBatch": 20, "latestOffset": 5}},
                {"query": "q", "start_ms": 350, "durations_ms": {"triggerExecution": 250, "addBatch": 100,
                                                                  "walCommit": 7, "commitOffsets": 3}}],
}


class SpanArithmeticTest(unittest.TestCase):
    def reconcile(self, spans):
        for s in spans:
            self.assertAlmostEqual(s["self_s"] + s["child_s"], s["wall_s"], places=9, msg=s["name"])
            self.assertAlmostEqual(s["job_s"] + s["driver_gap_s"], s["wall_s"], places=9, msg=s["name"])
            self.assertGreaterEqual(s["driver_gap_s"], -1e-9, s["name"])
            self.assertGreaterEqual(s["self_s"], -1e-9, s["name"])

    def test_union_merges_overlaps_and_clips(self):
        self.assertAlmostEqual(layers.union_s([(100, 300), (200, 500), (800, 1200)], 0, 1000), 0.6)
        self.assertAlmostEqual(layers.union_s([(100, 400), (350, 600)], 0, 1000), 0.5)
        self.assertEqual(layers.union_s([], 0, 1000), 0.0)

    def test_synthetic_trace(self):
        spans = {s["id"]: s for s in layers.annotate(TRACE)}
        self.reconcile(spans.values())
        replay = spans[1]
        self.assertAlmostEqual(replay["job_s"], 0.6)  # [100,500] and [800,1000]
        self.assertAlmostEqual(replay["self_s"], 0.5)  # children cover [100,600]
        self.assertEqual((replay["jobs"], replay["tasks"]), (3, 3))
        self.assertAlmostEqual(replay["queue_s"], 0.07)
        self.assertAlmostEqual(spans[4]["io_mb"], 0.5)
        values, _ = layers.layer_metrics(TRACE, [2.0, 2.2], [2.5], 0.01)
        self.assertEqual(values["streaming.batches"], 2)
        self.assertAlmostEqual(values["streaming.fold_s"], 0.3)
        self.assertAlmostEqual(values["streaming.source_s"], 0.025)
        self.assertAlmostEqual(values["streaming.wal_s"], 0.01)
        self.assertAlmostEqual(values["trace.overhead_s"], 0.4)
        self.assertEqual(values["enrich.palette.wall_s"], 0.0)
        self.assertEqual(set(values), {n for n, _ in layers.metric_units()})

    def test_benchmark_json_names_every_metric(self):
        import run
        with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], layers.metric_units())
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], list(run.END_TO_END))
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]), sorted(run.WORKLOADS))

    def test_recorded_traces(self):
        """Every span of every traced run left in tmp/ reconciles too."""
        paths = glob.glob(os.path.join(ROOT, "tmp", "perfbench", "out", "*", "trace.json"))
        if not paths:
            self.skipTest("no traced run recorded yet (run perfbench/run.py --trace 1)")
        for p in paths:
            with open(p, encoding="utf-8") as f:
                self.reconcile(layers.annotate(json.load(f)))


if __name__ == "__main__":
    unittest.main()
