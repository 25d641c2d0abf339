"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The pure-Python helpers (median, layer aggregation) are tested directly. The JVM-side helpers
(generators, fingerprints, the loopback server) run through the
harness's ``selftest`` mode, and layer aggregation is checked on a tiny
traced run over tables generated at sf0.001.
"""

import json
import os
import shutil
import sys
import tempfile
import time
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2, 10]), 2.5)
        self.assertIsNone(stats.median([]))

    def test_mean(self):
        self.assertEqual(stats.mean([3, 1, 2, 10]), 4.0)
        self.assertIsNone(stats.mean([]))


class LayerSummaryTest(unittest.TestCase):
    def test_means_peaks_and_shares(self):
        ops = [
            {"s": 1.0, "build_s": 0.1, "plan_s": 0.2, "exec_s": 0.7, "jit_cpu_s": 0.5,
             "layers": {"sched.jobs": 2, "sched.task_run_s": 2.0, "exchange.skew": 3.0,
                        "stream.batches": 1, "stream.trigger_ms": 400.0}},
            {"s": 3.0, "build_s": 0.3, "plan_s": 0.4, "exec_s": 2.3, "jit_cpu_s": 1.5,
             "layers": {"sched.jobs": 4, "sched.task_run_s": 6.0, "exchange.skew": 1.5}},
        ]
        window = {"jvm.gc_s": 0.5, "jvm.compile_s": 9.0, "workload_layers": {"daily.table_rows": 7}}
        m = stats.layer_summary(ops, 2, window)
        self.assertEqual(m["sched.jobs"], 3.0)            # mean per op
        self.assertEqual(m["exchange.skew"], 3.0)         # high-water mark
        self.assertEqual(m["sched.busy_share"], 8.0 / (4.0 * 2))
        self.assertAlmostEqual(m["entry.plan_s"], 0.3)
        self.assertAlmostEqual(m["stream.startup_s"], 0.6)  # only the streamed op
        self.assertEqual(m["jvm.jit_cpu_s"], 1.0)
        self.assertEqual((m["jvm.gc_s"], m["daily.table_rows"]), (0.5, 7))


class JvmHelpersTest(unittest.TestCase):
    """Generators, fingerprints and the loopback server, on the JVM."""

    @classmethod
    def setUpClass(cls):
        cls.cp = build.build()
        cls.tmp = tempfile.mkdtemp(dir=build.BUILD)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def harness(self, mode, args, tmp):
        run.harness(self.cp, mode, args + ["--tmp", tmp, "--cores", "2"],
                    os.path.join(self.tmp, mode + ".log"), tmp, time.time() + 600)

    def test_selftest(self):
        self.harness("selftest", [], os.path.join(self.tmp, "self"))

    def test_layer_aggregation_on_tiny_run(self):
        data = os.path.join(self.tmp, "sf0.001")
        self.harness("gen", ["--data", data, "--sf", "0.001", "--seed", "3"],
                     os.path.join(self.tmp, "gen"))
        keys = "q1_agg,q_stream_dedup"
        cal = os.path.join(self.tmp, "cal.jsonl")
        self.harness("calibrate", ["--data", data, "--out", cal, "--keys", keys],
                     os.path.join(self.tmp, "cal"))
        fps = {r["key"]: r["fp"][0] for r in run.read_records(cal)}
        expected = os.path.join(self.tmp, "expected.json")
        with open(expected, "w") as fh:
            json.dump({"ops": sorted(fps), "fingerprints": fps}, fh)
        recs_path = os.path.join(self.tmp, "records.jsonl")
        self.harness("run", ["--workload", "query_mix", "--seed", "1", "--seconds", "0.1",
                             "--trace", "1", "--data", data,
                             "--expected", expected, "--out", recs_path],
                     os.path.join(self.tmp, "run"))
        recs = run.read_records(recs_path)
        ops = [r for r in recs if r["kind"] == "op"]
        # whole passes over the op set, and at least two of them
        self.assertEqual({op["key"] for op in ops}, set(fps))
        self.assertGreaterEqual(len(ops), 2 * len(fps))
        self.assertEqual(len(ops) % len(fps), 0)
        self.assertTrue(all(op["ok"] for op in ops))
        self.assertFalse([r for r in recs if r["kind"] == "verify"])
        for op in ops:
            lay = op["layers"]
            self.assertGreaterEqual(lay["catalyst.executions"], 1)
            self.assertGreater(lay["sched.tasks"], 0)
            self.assertGreater(lay["scan.bytes"], 0)
            self.assertLessEqual(op["build_s"] + op["plan_s"] + op["exec_s"], op["s"])
            # CPU time of the program's threads, and apart from it the JIT's
            self.assertGreater(op["cpu_s"], 0)
            self.assertGreaterEqual(op["jit_cpu_s"], 0)
        stream = next(op for op in ops if op["key"] == "q_stream_dedup")["layers"]
        self.assertGreater(stream["stream.batches"], 0)
        self.assertGreater(stream["state.rows"], 0)
        window = next(r for r in recs if r["kind"] == "window")
        m = stats.layer_summary(ops, window["cores"], window)
        self.assertAlmostEqual(m["sched.tasks"],
                               sum(op["layers"]["sched.tasks"] for op in ops) / len(ops))
        self.assertGreater(m["sched.busy_share"], 0)
        self.assertLessEqual(m["sched.busy_share"], 1.0)


if __name__ == "__main__":
    unittest.main()
