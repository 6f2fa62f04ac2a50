"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The harness test runs a JVM (no Spark session) and builds the classes first
if needed; everything else is pure Python."""
import io
import json
import os
import shutil
import subprocess
import sys
import unittest
from contextlib import redirect_stderr

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

SCRATCH = os.path.join(build.OUT, "test-scratch")


def _op(i, s, ok=True, kind="tool", name="t"):
    return {"id": i, "kind": kind, "name": name, "client": 0, "s": s, "ok": ok,
            "items": 1, "rows": 3, "error": None if ok else "boom"}


def _result(ops, traced=False):
    win = {"traced": traced, "wall_s": 10.0, "ops": ops, "rounds": [{"s": 5.0, "ok": True}]}
    return {"primary_kind": "tool", "peak_rss_mb": 900.0, "setup_done_ms": 0,
            "windows": [win, dict(win, traced=True)] if traced else [win],
            "layers": {}, "extras": {}}


class InputsTest(unittest.TestCase):
    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_same_seed_gives_identical_input_hash(self):
        for workload in ("admin_sweep", "ingest_stream"):
            a = gen.generate(workload, 11, os.path.join(SCRATCH, "a"))
            b = gen.generate(workload, 11, os.path.join(SCRATCH, "b"))
            c = gen.generate(workload, 12, os.path.join(SCRATCH, "c"))
            self.assertEqual(a["input_digest"], b["input_digest"], workload)
            self.assertNotEqual(a["input_digest"], c["input_digest"], workload)

    def test_planted_ingest_classes_are_consistent(self):
        import pyarrow.parquet as pq
        gen.generate("ingest_stream", 5, SCRATCH)
        t = pq.read_table(os.path.join(SCRATCH, "ingest", "batches.parquet")).to_pylist()
        text = {r["doc_id"]: r["text"] for r in t}
        for r in t:
            if r["expect_verdict"] == "dup_batch":
                self.assertLess(r["expect_dup_of"], r["doc_id"])
                self.assertEqual(text[r["expect_dup_of"]], r["text"])
            if r["expect_verdict"] == "unsignable":
                self.assertLess(len(r["text"].split(" ")), 3)


class PercentileRuleTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(1000), 90.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertAlmostEqual(stats.tail_percentile(50), 80.0)
        self.assertAlmostEqual(stats.tail_percentile(20), 50.0)
        self.assertIsNone(stats.tail_percentile(19))
        for n in (20, 37, 64, 100, 250):
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(n * (1 - p / 100.0), 10 - 1e-9, n)

    def test_sample_count_is_reported(self):
        w = stats.window_metrics(_result([_op(i, 0.1 + i / 1000) for i in range(30)])["windows"][0], "tool")
        self.assertEqual(w["_samples"], 30)
        self.assertAlmostEqual(w["_tail_pct"], 100 * (1 - 10 / 30))
        err = io.StringIO()
        with redirect_stderr(err):
            run.result_line(run.spec(), _result([_op(i, 0.1) for i in range(30)]), 0, 1.0)
        self.assertIn("30 tool samples", err.getvalue())


class FailureAccountingTest(unittest.TestCase):
    def test_failed_op_is_counted_and_never_a_sample(self):
        ops = [_op(1, 0.1), _op(2, 99.0, ok=False), _op(3, 0.3)]
        w = stats.window_metrics(_result(ops)["windows"][0], "tool")
        self.assertEqual((w["_attempted"], w["_failed"], w["_samples"]), (3, 1, 2))
        self.assertAlmostEqual(w["op_p50_s"], 0.2)
        with redirect_stderr(io.StringIO()):
            line = run.result_line(run.spec(), _result(ops), 0, 1.0)
        self.assertFalse(line["correct"])
        self.assertEqual((line["attempted"], line["failed"]), (3, 1))

    def test_injected_throwing_op_in_the_jvm_harness(self):
        cp = build.build()
        out = subprocess.run(["java", "-cp", os.pathsep.join(cp), "perfbench.SelfTest"],
                             stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        self.assertEqual(out.returncode, 0, out.stdout + out.stderr)
        got = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertEqual((got["attempted"], got["failed"], got["problems"]), (2, 1, []))


class MetricsPrintedTest(unittest.TestCase):
    def test_every_metric_prints_with_name_and_unit(self):
        bench = run.spec()
        ops = [_op(i, 0.1 + i / 100) for i in range(40)]
        with redirect_stderr(io.StringIO()):
            e2e = run.result_line(bench, _result(ops), 0, 12.5)
            per_layer = run.result_line(bench, _result(ops, traced=True), 1, 12.5)
        for line, specs in ((e2e, bench["end_to_end"]), (per_layer, bench["per_layer"])):
            self.assertTrue(line["correct"])
            self.assertEqual(set(line["metrics"]), {m["name"] for m in specs})
            for m in specs:
                self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])
                self.assertIsInstance(line["metrics"][m["name"]]["value"], (int, float))
        self.assertEqual(e2e["metrics"]["setup_s"]["value"], 12.5)
        json.loads(json.dumps(e2e))


if __name__ == "__main__":
    unittest.main()
