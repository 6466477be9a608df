"""Self-tests of the benchmark at tiny scale (sf0.001, a few epochs).

Run from the root of a checkout:
  python3 -m pytest perfbench/tests -q      (or python3 -m unittest discover perfbench/tests)

Each workload runs once untraced and once traced through run.py; the
tests check that every metric BENCHMARK.json names is printed with its
unit, and that the correctness checks fire on a deleted ledger marker
and on a perturbed query result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import run  # noqa: E402

TINY_DATA = os.path.join(BENCH, "data", "sf0.001")


def bench_run(workload: str, trace: int) -> tuple:
    """(result line, run record) of one tiny run that keeps its work dir."""
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--data", TINY_DATA, "--keep"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().split("\n")
    return json.loads(lines[-1]), json.loads(lines[-2])["run"]


class BenchmarkSelfTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.spec = json.load(fh)
        cls.runs = {(w["name"], t): bench_run(w["name"], t)
                    for w in cls.spec["workloads"] for t in (0, 1)}

    @classmethod
    def tearDownClass(cls):
        for _, record in cls.runs.values():
            shutil.rmtree(record["work_dir"], ignore_errors=True)

    def raw(self, workload: str, trace: int) -> tuple:
        work = self.runs[(workload, trace)][1]["work_dir"]
        with open(os.path.join(work, "raw.json")) as fh:
            return json.load(fh), work

    def test_every_metric_printed_with_its_unit(self):
        for (workload, trace), (result, record) in self.runs.items():
            with self.subTest(workload=workload, trace=trace):
                self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(result["correct"])
                self.assertEqual(result["failed"], 0)
                self.assertGreaterEqual(result["attempted"], 1)
                want = self.spec["per_layer" if trace else "end_to_end"]
                self.assertEqual(set(result["metrics"]), {m["name"] for m in want})
                for m in want:
                    got = result["metrics"][m["name"]]
                    self.assertEqual(got["unit"], m["unit"], m["name"])
                    self.assertIsInstance(got["value"], (int, float), m["name"])
                for key in ("nproc", "loadavg_start", "loadavg_end", "java", "spark", "seed"):
                    self.assertIn(key, record)

    def test_traced_run_writes_trace_file(self):
        for w in self.spec["workloads"]:
            record = self.runs[(w["name"], 1)][1]
            with open(record["trace_file"]) as fh:
                trace = json.load(fh)
            self.assertTrue(trace["spans"])
            self.assertTrue(trace["jobs"])

    def test_deleted_ledger_marker_is_a_failure(self):
        raw, work = self.raw("ingest_small", 0)
        _, fails = run.failures(raw, TINY_DATA)
        self.assertEqual(fails, {})
        ledger = raw["check"]["m"]["ledger"]
        markers = sorted(f for f in os.listdir(ledger) if f.endswith(".json"))
        self.assertGreaterEqual(len(markers), 2)
        with tempfile.TemporaryDirectory() as keep:
            victim = markers[len(markers) // 2]
            shutil.move(os.path.join(ledger, victim), os.path.join(keep, victim))
            try:
                attempted, fails = run.failures(raw, TINY_DATA)
            finally:
                shutil.move(os.path.join(keep, victim), os.path.join(ledger, victim))
        self.assertTrue(any("ledger" in why for why in fails.values()), fails)
        self.assertLessEqual(len(fails), attempted)

    def test_perturbed_result_row_is_a_failure(self):
        import pandas as pd
        raw, work = self.raw("batch_queries", 0)
        results = raw["check"]["results"]
        self.assertEqual(run.check_batch(results, TINY_DATA), {})
        name = "q_agg_hash"
        path = os.path.join(results, name)
        df = pd.read_parquet(path)
        col = next(c for c in df.columns if pd.api.types.is_numeric_dtype(df[c]))
        df.loc[0, col] = df.loc[0, col] + 1
        shutil.rmtree(path)
        os.makedirs(path)
        df.to_parquet(os.path.join(path, "part-0.parquet"))
        bad = run.check_batch(results, TINY_DATA)
        self.assertEqual(set(bad), {name})
        _, fails = run.failures(raw, TINY_DATA)
        self.assertTrue(fails and all(name in op for op in fails), fails)


if __name__ == "__main__":
    unittest.main()
