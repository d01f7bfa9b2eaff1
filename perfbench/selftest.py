#!/usr/bin/env python3
"""Self-tests of the benchmark itself. Run from the repository root:

    python3 perfbench/selftest.py

* the same seed gives byte-identical inputs, a different seed changes them;
* the event-log reader parses a small recorded log (testdata/);
* the pruning guard trips on a pruned plan and passes an unpruned one;
* BENCHMARK.json has exactly its six keys, its workloads exist, its
  per-layer names are exactly what a traced run prints, and README.md maps
  every per-layer metric to a layer and explains why older bench numbers
  do not compare.
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import sys
import unittest

import numpy as np

HERE = pathlib.Path(__file__).resolve().parent
ROOT = pathlib.Path.cwd()
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import inputs as I        # noqa: E402
import spans as T         # noqa: E402

WORK = ROOT / ".perfbench_work" / "selftest"
SAMPLE_LOG = HERE / "testdata" / "eventlog_sample.json"


class Inputs(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        shutil.rmtree(WORK, ignore_errors=True)
        a = I.prepare("convert", 5, WORK / "a")
        b = I.prepare("convert", 5, WORK / "b")
        c = I.prepare("convert", 6, WORK / "c")
        self.assertEqual(a["digest"], b["digest"])
        self.assertNotEqual(a["digest"], c["digest"])
        self.assertEqual(pathlib.Path(a["input"]).read_bytes(),
                         pathlib.Path(b["input"]).read_bytes())

    def test_rewrite_inputs_follow_the_seed(self):
        from cogger_spark.fixtures import make_pixels
        self.assertEqual(I.rewrite_rows(5), I.rewrite_rows(5))
        self.assertNotEqual(I.rewrite_rows(5), I.rewrite_rows(6))
        i, w, h, b = I.rewrite_rows(5)[0]
        one = I.tiled_tiff_bytes(make_pixels(i, w, h, b, False))
        self.assertEqual(one, I.tiled_tiff_bytes(make_pixels(i, w, h, b, False)))
        ifds = I.read_ifds(one)
        self.assertEqual((ifds[0][256][0], ifds[0][257][0]), (w, h))
        self.assertEqual([d[254][0] for d in ifds], [0] + [1] * (len(ifds) - 1))
        # equal file sizes: binaryFile packs them into one partition per slot
        sizes = {len(I.tiled_tiff_bytes(np.zeros((h, w, b), np.uint8)))
                 for _i, w, h, b in I.rewrite_rows(5)}
        self.assertEqual(len(sizes), 1)


class EventLog(unittest.TestCase):
    def test_reader_attributes_tasks_to_spans(self):
        log = T.read_event_log(SAMPLE_LOG)
        descs = {j["desc"] for j in log["jobs"].values()} - {None}
        self.assertEqual(descs, {"pb:sample:1:kernel", "pb:sample:2:count"})
        kern = T.span_metrics(log, {"pb:sample:1:kernel"})
        # mapInPandas over 2 partitions, then AQE's final-aggregate job
        self.assertEqual((kern["jobs"], kern["stages"], kern["tasks"]), (2, 2, 3))
        self.assertEqual(kern["kernel_tasks"], 2)
        self.assertAlmostEqual(kern["py_sent_mb"], 0.165376)
        self.assertGreater(kern["run_s"], 0)
        self.assertGreater(kern["job_wall_s"], 0)
        both = T.span_metrics(log, descs)
        self.assertGreater(both["tasks"], kern["tasks"])
        self.assertEqual(both["failed_tasks"], 0)

    def test_span_coverage(self):
        tr = T.Tracer(True)
        tr.spans = [{"id": 1, "parent": None, "name": "pass", "start": 0.0, "end": 10.0},
                    {"id": 2, "parent": 1, "name": "a", "start": 0.0, "end": 4.0},
                    {"id": 3, "parent": 1, "name": "b", "start": 3.0, "end": 9.0}]
        self.assertAlmostEqual(tr.coverage(tr.spans[0]), 0.9)


class PruningGuard(unittest.TestCase):
    def test_guard_trips_on_pruned_plan(self):
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        import pyspark.sql.functions as F
        import run
        work = WORK / "spark"
        work.mkdir(parents=True, exist_ok=True)
        spark = run.start_session(work, event_log=False)
        try:
            plus1 = F.udf(lambda v: v + 1, "long")
            df = spark.range(1000).withColumn("y", plus1("id"))
            since = T.last_execution_id(spark)
            df.count()                  # Catalyst prunes the unused UDF
            pruned = T.sql_executions(spark, since)
            self.assertIsNotNone(T.guard(pruned, 0))
            since = T.last_execution_id(spark)
            df.agg(F.sum("y")).collect()
            full = T.sql_executions(spark, since)
            self.assertIsNone(T.guard(full, 0))
            self.assertIsNotNone(T.guard(full, 1e12))
        finally:
            run.stop_session(spark)


class Contract(unittest.TestCase):
    def setUp(self):
        self.bench = json.loads((ROOT / "BENCHMARK.json").read_text())

    def test_keys_and_workloads(self):
        import workloads
        self.assertEqual(set(self.bench), {"command", "paths", "run_seconds",
                                           "workloads", "end_to_end", "per_layer"})
        names = [w["name"] for w in self.bench["workloads"]]
        self.assertEqual(sorted(names), sorted(workloads.WORKLOADS))
        for w in self.bench["workloads"]:
            self.assertTrue(w["why"].strip())
        e2e = {m["name"] for m in self.bench["end_to_end"]}
        self.assertIn("setup_s", e2e)

    def test_per_layer_names_match_a_traced_run(self):
        import layers
        import workloads
        m = {"seed": 1, "in_bytes": 10, "rows": [(3, 600, 600, 1, False, "raw")],
             "input": "unused"}
        wl = workloads.Rewrite(m, WORK)
        tr = T.Tracer(True)
        tr.spans = [{"id": 1, "parent": None, "name": "pass", "start": 0.0,
                     "end": 1.0}]
        log = {"jobs": {}, "stages": {}, "tasks": {}}
        out = layers.finish({"scan_s": 0.1, "codec": (1.0, 2.0)}, log, tr, wl,
                            [(1.0, 2.0)] * 3, [1.0], [1.0], 0.0, 1000.0,
                            1, 0, 4)
        self.assertEqual(set(out), {m["name"] for m in self.bench["per_layer"]})
        for name, (_v, unit) in out.items():
            want = next(m["unit"] for m in self.bench["per_layer"]
                        if m["name"] == name)
            self.assertEqual(unit, want, name)

    def test_readme_maps_every_layer_metric(self):
        readme = (HERE / "README.md").read_text()
        for m in self.bench["per_layer"] + self.bench["end_to_end"]:
            self.assertIn(f"`{m['name']}`", readme, m["name"])
        self.assertIn("not comparable", readme)


if __name__ == "__main__":
    unittest.main(verbosity=2)
