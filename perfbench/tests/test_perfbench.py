"""Self-tests for the benchmark harness.

    python3 -m unittest discover -s perfbench/tests -v

The smoke test builds the engine if needed and runs every workload on tiny
inputs, so the suite takes a few minutes.
"""
import hashlib
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

import gen  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(run.percentile(range(1, 101), 90), 90)  # 10 beyond
        self.assertIsNone(run.percentile(range(1, 100), 90))     # 9 beyond
        self.assertEqual(run.percentile(range(1, 41), 75), 30)   # 10 beyond

    def test_median_has_no_floor(self):
        self.assertEqual(run.percentile([5, 1, 3], 50), 3)
        self.assertEqual(run.percentile([2, 1], 50), 1)
        self.assertIsNone(run.percentile([], 50))


class TimedPasses(unittest.TestCase):
    def test_metrics_skip_the_warm_up_pass(self):
        def pas(n, traced, v):
            return {"pass": n, "traced": traced, "wall_s": v, "cpu_s": v, "driver_cpu_s": v,
                    "peak_task_mem_mb": v, "ops_ms": [v]}
        res = {"setup": [{"total_s": 9.0}, {"total_s": 1.0}, {"total_s": 2.0}],
               "passes": [pas(0, False, 100.0), pas(1, True, 50.0), pas(2, True, 60.0),
                          pas(3, False, 1.0), pas(4, False, 3.0)]}
        e2e = run.end_to_end(res, run.timed(res, False), 10)
        self.assertEqual((e2e["setup_s"], e2e["cpu_s"], e2e["passes"]), (2.0, 2.0, 2))
        self.assertEqual(e2e["rows_per_s"], 5.0)
        self.assertEqual([p["pass"] for p in run.timed(res, True)], [1, 2])


class SeedDeterminism(unittest.TestCase):
    def write(self, seed, d):
        tables = gen.tpch_tables(seed, 0.001)
        tables.update(gen.llm_tables(seed, 50, 2, 40))
        stats = gen.write(tables, d)
        stats.update(gen.write_etl_layouts(seed, tables, d))
        digests = {k: v["sha256"] for k, v in stats.items() if "sha256" in v}
        for sub in ("events_stream", "orders_landing/accepted", "orders_landing/rejected"):
            for name in sorted(os.listdir(os.path.join(d, sub))):
                path = os.path.join(d, sub, name)
                with open(path, "rb") as f:
                    digests[f"{sub}/{name}"] = hashlib.sha256(f.read()).hexdigest()
                if sub == "events_stream":  # the stream source orders files by mtime
                    digests[f"{sub}/{name}:mtime"] = os.stat(path).st_mtime_ns
        return digests

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            first, again, other = self.write(7, a), self.write(7, b), self.write(8, c)
        self.assertEqual(first, again)
        seeded = [k for k in first if k not in ("region", "nation")]
        self.assertTrue(all(first[k] != other[k] for k in seeded if "/" not in k))
        self.assertNotEqual(first, other)

    def test_foreign_keys_resolve(self):
        t = gen.tpch_tables(3, 0.001)
        orders = set(t["orders"].column("o_orderkey").to_pylist())
        self.assertTrue(set(t["lineitem"].column("l_orderkey").to_pylist()) <= orders)
        custs = set(t["customer"].column("c_custkey").to_pylist())
        self.assertTrue(set(t["orders"].column("o_custkey").to_pylist()) <= custs)


class Smoke(unittest.TestCase):
    """Every workload on tiny inputs: correct outputs, and every declared
    metric printed by name with its declared unit."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def run_workload(self, workload, trace):
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", "5", "--seconds", "1", "--trace", str(trace), "--scale", "0.2"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], p.stdout[-3000:])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        declared = self.bench["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in declared})
        for m in declared:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
            self.assertTrue(any(line.startswith(f"metric {m['name']} = ") and
                                line.endswith(f" {m['unit']}") for line in lines), m["name"])
        return result

    def test_workloads_untraced(self):
        for w in self.bench["workloads"]:
            with self.subTest(workload=w["name"]):
                metrics = self.run_workload(w["name"], 0)["metrics"]
                self.assertTrue(all(v["value"] > 0 for v in metrics.values()), metrics)

    def test_traced_run_prints_layers(self):
        metrics = self.run_workload("hive_etl", 1)["metrics"]
        self.assertGreater(metrics["io.calls"]["value"], 0)
        self.assertGreater(metrics["catalog.calls"]["value"], 0)
        self.assertGreater(metrics["entry.calls"]["value"], 0)
        self.assertEqual(metrics["llm.dedup.calls"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
