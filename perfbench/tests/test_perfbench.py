"""The benchmark's own tests: instrument self-test, fail-loud check and smoke
runs of every workload on the tiny data set.

    python3 -m unittest discover -s perfbench/tests -v

Run from the root of a checkout; the first test builds the engine (about a
minute). The smoke runs read the sf 0.001 test tables.
"""
import contextlib
import io
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import metrics  # noqa: E402
import workloads  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(*args):
    r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args], cwd=ROOT,
                       capture_output=True, text=True, timeout=900)
    return r.returncode, r.stdout, r.stderr


class SelfTest(unittest.TestCase):
    def test_plan_counters_see_through_aqe(self):
        code, out, err = run("--selftest")
        self.assertEqual(code, 0, err[-2000:])
        r = json.loads(out.strip().splitlines()[-1])
        # q_agg_group shuffles; under AQE the root is an adaptive leaf
        self.assertTrue(r["adaptive_root"])
        self.assertEqual(r["naive_exchanges"], 0)
        self.assertGreater(r["exchanges"], 0)
        self.assertGreater(r["codegen_stages"], 0)
        # the traced noop-sink run attributes its work to the operation
        (op,) = r["traced_ops"]
        self.assertGreater(op["exchanges"], 0)
        self.assertGreater(op["tasks"], 0)
        self.assertGreater(op["jobs"], 0)


class FailLoud(unittest.TestCase):
    """A traced run whose layers did work but read zero must exit non-zero
    without printing a result."""

    @staticmethod
    def _result(spans, **counters):
        with open(spans, "w") as f:
            f.write(json.dumps({"id": 1, "parent": 0, "op": 1, "name": "op",
                                "start_us": 0, "end_us": 1000}) + "\n")
            f.write(json.dumps({"id": 2, "parent": 1, "op": 1, "name": "build",
                                "start_us": 0, "end_us": 900}) + "\n")
            f.write(json.dumps({"id": 3, "parent": 1, "op": 1, "name": "plan",
                                "start_us": 900, "end_us": 950}) + "\n")
        op = {"op": 1, "jobs": 2, "tasks": 8, "exec_ms": 5.0, "exchanges": 1,
              "codegen_stages": 2}
        op.update(counters)
        return {"main_entered_ms": 0, "session_s": 1.0, "warmup_s": 1.0, "first_timed_ms": 2000,
                "calib_s": 1.0, "failures": [],
                "ops": [{"name": "q", "kind": "query", "ms": 1.0, "ok": True,
                         "traced": True, "pass": 0}],
                "traced_ops": [op], "jvm_gc_ms": 0, "jvm_heap_peak_mb": 100.0,
                "passes_s": [{"s": 1.0, "traced": True, "ok": True}],
                "kernels_ns_per_row": {k: 1.0 for k in metrics.KERNELS}}

    def test_zero_counters_are_named(self):
        with tempfile.TemporaryDirectory() as tmp:
            spec = {"spans": os.path.join(tmp, "spans.jsonl"), "cores": 4,
                    "passes": [["q"]], "queries": ["q"]}
            _, _, zeros = metrics.per_layer("graph_dedup", spec, self._result(spec["spans"]))
            self.assertEqual(zeros, [])
            result = self._result(spec["spans"], tasks=0, exchanges=0)
            _, _, zeros = metrics.per_layer("graph_dedup", spec, result)
            self.assertEqual(set(zeros), {"spark.sched.tasks", "plans.exchanges"})

    def test_run_exits_nonzero(self):
        import run

        def fake_jvm(classpath, spec, run_dir):
            return self._result(spec["spans"], tasks=0), 0.0

        saved = run.build, run.run_jvm, workloads.check_batch
        run.build, run.run_jvm = (lambda: ""), fake_jvm
        workloads.check_batch = lambda *a: []
        try:
            out = io.StringIO()
            with contextlib.redirect_stdout(out), contextlib.redirect_stderr(io.StringIO()):
                with self.assertRaises(SystemExit) as cm:
                    run.run_workload("graph_dedup", 1, 1, 1)
            self.assertEqual(cm.exception.code, 3)
            self.assertEqual(out.getvalue(), "")
        finally:
            run.build, run.run_jvm, workloads.check_batch = saved


class CheckBatch(unittest.TestCase):
    def test_jvm_check_failure_counts_once(self):
        with tempfile.TemporaryDirectory() as tmp:
            jvm = [{"name": "q", "phase": "check", "error": "boom"}]
            got = workloads.check_batch(tmp, os.path.join(tmp, "check"), {"q": "SELECT 1"},
                                        ["q"], os.path.join(tmp, "expected"), jvm)
            self.assertEqual(got, [])


class Smoke(unittest.TestCase):
    """Every metric BENCHMARK.json names is printed with its unit, and no
    operation fails."""

    def _smoke(self, workload, trace):
        code, out, err = run("--smoke", "--workload", workload, "--trace", str(trace),
                             "--seed", "3")
        self.assertEqual(code, 0, err[-3000:])
        line = json.loads(out.strip().splitlines()[-1])
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(line["correct"], out)
        self.assertEqual(line["failed"], 0)
        self.assertGreater(line["attempted"], 0)
        want = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(line["metrics"]), {m["name"] for m in want})
        for m in want:
            got = line["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        self.assertIn("failed_frac=0.0000", out)


for _w in workloads.WORKLOADS:
    for _t in (0, 1):
        setattr(Smoke, f"test_{_w}_trace{_t}",
                lambda self, w=_w, t=_t: self._smoke(w, t))


if __name__ == "__main__":
    unittest.main()
