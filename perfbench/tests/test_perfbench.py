"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests   (from the repo root)

The smoke tests run every workload at the tiny input size (about a
minute each), so they build the engine on first use like run.py does.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import check  # noqa: E402
import layers  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace, *extra):
    p = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                        "--seed", "5", "--seconds", "1", "--trace", str(trace),
                        "--size", "tiny", *extra],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


class SmokeTest(unittest.TestCase):
    def assert_metrics(self, out, declared):
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"])
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(out["failed"], 0)
        want = {m["name"]: m["unit"] for m in declared}
        got = {k: v["unit"] for k, v in out["metrics"].items()}
        self.assertEqual(got, want)
        for k, v in out["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)

    def test_every_workload_emits_every_metric_with_its_unit(self):
        for w in SPEC["workloads"]:
            for trace, declared in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
                with self.subTest(workload=w["name"], trace=trace):
                    rc, out, err = run(w["name"], trace)
                    self.assertEqual(rc, 0, err[-2000:])
                    self.assert_metrics(out, declared)

    def test_a_corrupted_result_fails_the_check(self):
        # one workload per kind of check: the DuckDB replay and the oracle SQL
        for w in ("lakehouse_dml", "curation_batch"):
            with self.subTest(workload=w):
                rc, out, err = run(w, 0, "--corrupt")
                self.assertNotEqual(rc, 0)
                self.assertFalse(out["correct"])
                self.assertIn("CHECK FAILED", err)


class DigestTest(unittest.TestCase):
    def test_digest_ignores_row_order_but_not_values(self):
        a = [(1, 2.5, "x", None), (2, -0.0, "y", True)]
        self.assertEqual(check.digest(a), check.digest(list(reversed(a))))
        self.assertNotEqual(check.digest(a), check.digest([(1, 2.5, "x", None), (2, 0.0, "y", True)]))
        self.assertNotEqual(check.digest(a), check.digest(a[:1]))


class SelfTimeTest(unittest.TestCase):
    def test_layer_self_times_sum_to_the_op_wall_time(self):
        op = {"id": 0, "name": "merge", "kind": "write", "layer": "txlog.commit",
              "phase": "traced", "start_ms": 1000.0, "end_ms": 2000.0, "ok": True,
              "error": "", "gc_ms": 0, "info": {"version": 3}}
        stage = {"stage": 0, "job": 0, "op": "0", "start_ms": 1300, "end_ms": 1500, "tasks": 4,
                 "run_ms": 600, "cpu_ns": 0, "gc_ms": 0, "input_bytes": 0, "input_records": 0,
                 "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
                 "output_bytes": 0, "sched_delay_ms": 10}
        res = {"ops": [op], "heap_peak_mb": 1.0, "probes": [], "export": {},
               "trace": {
                   "jobs": [{"job": 0, "op": "0", "start_ms": 1200, "end_ms": 1600,
                             "desc": "txlog:stage-write", "site": "", "ok": True}],
                   "stages": [stage, dict(stage, stage=1, start_ms=1400, end_ms=1550)],
                   "actions": [{"func": "count", "ok": True, "exchanges": 1, "scan_files": 0,
                                "scan_bytes": 0, "scan_rows": 0,
                                "phases": {"analysis": {"start_ms": 1100, "end_ms": 1150},
                                           "planning": {"start_ms": 1150, "end_ms": 1250}}}]}}
        m = layers.per_layer(res, lambda o: 0)
        parts = [m[k][0] for k in ("plan.self_s", "sched.self_s", "exec.self_s", "driver.busy_s")]
        self.assertAlmostEqual(sum(parts), 1.0)
        self.assertAlmostEqual(m["exec.self_s"][0], 0.25)   # stages cover 1300-1550
        self.assertAlmostEqual(m["sched.self_s"][0], 0.15)  # job outside stages
        self.assertAlmostEqual(m["plan.self_s"][0], 0.10)   # planning before the job
        self.assertAlmostEqual(m["txlog.stage_write_s"][0], 0.4)


if __name__ == "__main__":
    unittest.main()
