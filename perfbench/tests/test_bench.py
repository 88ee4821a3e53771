"""Smoke and negative tests for the pipeline benchmark.

    python3 -m unittest discover -s perfbench/tests -v

Every run uses --smoke (about 50-job DAGs, sf0.001), so the whole file takes
about two minutes once the benchmark is built.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
RUN = os.path.join(BENCH_DIR, "run.py")
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
END_TO_END = {m["name"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"] for m in SPEC["per_layer"]}


def run(*args, cwd=ROOT, script=RUN):
    proc = subprocess.run([sys.executable, script, "--seed", "3", "--seconds", "1", *args],
                          cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return proc, result


class SmokeTest(unittest.TestCase):

    def check_clean(self, workload):
        proc, result = run("--workload", workload, "--trace", "0", "--smoke")
        self.assertEqual(proc.returncode, 0, proc.stdout + proc.stderr[-2000:])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(set(result["metrics"]), END_TO_END)
        for name, m in result["metrics"].items():
            self.assertGreater(m["value"], 0, name)

    def test_dag_memory(self):
        self.check_clean("dag_memory")

    def test_dag_jdbc(self):
        self.check_clean("dag_jdbc")

    def test_etl(self):
        self.check_clean("etl_sf001")

    def test_traced_run_reports_layers(self):
        # both DAG workloads run the failure mix, heartbeats and the monitor
        for workload in ("dag_memory", "dag_jdbc"):
            with self.subTest(workload=workload):
                proc, result = run("--workload", workload, "--trace", "1", "--smoke")
                self.assertEqual(proc.returncode, 0, proc.stderr[-2000:])
                m = result["metrics"]
                self.assertEqual(set(m), PER_LAYER)
                for name in ("store.ready.calls", "store.fail.calls", "store.reset.calls",
                             "store.abort.ms", "store.heartbeat.ms", "store.dead.ms"):
                    self.assertGreater(m[name]["value"], 0, name)


class NegativeTest(unittest.TestCase):

    def test_double_finish_is_caught(self):
        proc, result = run("--workload", "dag_memory", "--trace", "0", "--smoke",
                           "--inject", "double-finish")
        self.assertNotEqual(proc.returncode, 0)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertIn("closed 2 times", proc.stdout)

    def test_corrupt_fingerprint_is_caught(self):
        proc, result = run("--workload", "etl_sf001", "--trace", "0", "--smoke",
                           "--inject", "corrupt-fingerprint")
        self.assertNotEqual(proc.returncode, 0)
        self.assertFalse(result["correct"])
        self.assertIn("q01 fingerprint", proc.stdout)

    def test_fails_without_program_sources(self):
        work = os.path.join(BENCH_DIR, ".work")
        os.makedirs(work, exist_ok=True)
        bare = tempfile.mkdtemp(dir=work)
        try:
            shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("target", ".work", "out", "__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            proc, result = run("--workload", "dag_memory", "--trace", "0", cwd=bare,
                               script=os.path.join(bare, "perfbench", "run.py"))
            self.assertNotEqual(proc.returncode, 0)
            self.assertIsNone(result)
        finally:
            shutil.rmtree(bare)


if __name__ == "__main__":
    unittest.main()
