"""Self-tests of the runner's own logic (python3 perfbench/run.py --selftest
runs these and the JVM's generator and tracing checks)."""
import json
import os
import shutil
import tempfile
import unittest

import benchlib

HERE = os.path.dirname(os.path.abspath(__file__))


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        for n, p in [(20, 50), (40, 75), (100, 90), (1000, 99), (5000, 99)]:
            self.assertEqual(benchlib.tail_percentile(n), p, n)
            beyond = n - 1 - (n - 1) * p / 100.0
            self.assertGreaterEqual(beyond, 9, n)

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(benchlib.tail_percentile(19), 100)
        self.assertEqual(benchlib.tail([3.0, 1.0, 2.0]), (100, 3.0))

    def test_percentile_interpolates(self):
        xs = [float(x) for x in range(1, 101)]
        self.assertAlmostEqual(benchlib.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(benchlib.percentile(xs, 90), 90.1)
        self.assertEqual(benchlib.tail(xs), (90, benchlib.percentile(xs, 90)))


class FailureAccounting(unittest.TestCase):
    def test_clean_run(self):
        self.assertEqual(benchlib.failure_counts({"batch": 3, "q01": 2}, {}, []), (5, 0))

    def test_wrong_result_marks_every_execution_of_its_kind(self):
        self.assertEqual(
            benchlib.failure_counts({"batch": 3, "q01": 2}, {}, ["q01", "q01"]), (5, 2))

    def test_raised_operations_count_as_attempted_and_failed(self):
        self.assertEqual(
            benchlib.failure_counts({"batch": 3}, {"op": 1}, ["batch"]), (4, 4))

    def test_check_without_timed_operations_counts_once(self):
        self.assertEqual(benchlib.failure_counts({}, {}, ["selftest"]), (1, 1))


class Metrics(unittest.TestCase):
    def test_end_to_end_reports_every_metric(self):
        rec = {"setup": {"session_s": 4.0, "generate_s": 1.5},
               "phase": {"samples_ms": [float(x) for x in range(1, 41)],
                         "throughput_per_s": 123.0},
               "peak_rss_mb": 900.0}
        m, p = benchlib.end_to_end(rec)
        self.assertEqual(set(m), set(benchlib.END_TO_END))
        self.assertEqual(p, 75)
        self.assertAlmostEqual(m["setup_s"], 5.5)
        self.assertAlmostEqual(m["latency_p50_ms"], 20.5)
        self.assertTrue(all(v != 0 for v in m.values()))

    def test_per_layer_fills_layers_a_workload_skips(self):
        m = benchlib.per_layer({"layers": {"ops.dedup_s": 0.5}})
        self.assertEqual(set(m), set(benchlib.PER_LAYER))
        self.assertEqual(m["ops.dedup_s"], 0.5)
        self.assertEqual(m["llm.gate_s"], 0.0)


class BenchmarkFile(unittest.TestCase):
    def test_lists_what_the_runner_reports(self):
        path = os.path.join(HERE, "..", "BENCHMARK.json")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], benchlib.WORKLOADS)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, benchlib.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, benchlib.PER_LAYER)


class OracleCompare(unittest.TestCase):
    def setUp(self):
        import duckdb
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=os.path.join(HERE, "out"))
        self.con = duckdb.connect()
        os.makedirs(os.path.join(self.dir, "out"))
        self.con.execute(
            f"COPY (SELECT CAST(range AS BIGINT) AS k, CAST(range * 2 AS BIGINT) AS v "
            f"FROM range(5)) TO '{self.dir}/out/part-0.parquet' (FORMAT PARQUET)")

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.dir)

    def test_match_ignores_column_order(self):
        ok, _ = benchlib.compare_oracle(
            self.con, "SELECT CAST(range * 2 AS BIGINT) AS v, CAST(range AS BIGINT) AS k "
            "FROM range(5)", f"{self.dir}/out")
        self.assertTrue(ok)

    def test_wrong_value_fails(self):
        ok, detail = benchlib.compare_oracle(
            self.con, "SELECT CAST(range AS BIGINT) AS k, CAST(range * 3 AS BIGINT) AS v "
            "FROM range(5)", f"{self.dir}/out")
        self.assertFalse(ok)
        self.assertIn("col v", detail)

    def test_wrong_row_count_fails(self):
        ok, _ = benchlib.compare_oracle(
            self.con, "SELECT CAST(range AS BIGINT) AS k, CAST(range * 2 AS BIGINT) AS v "
            "FROM range(4)", f"{self.dir}/out")
        self.assertFalse(ok)

    def test_non_canonical_oracle_type_fails(self):
        ok, _ = benchlib.compare_oracle(
            self.con, "SELECT CAST(range AS HUGEINT) AS k, CAST(range * 2 AS BIGINT) AS v "
            "FROM range(5)", f"{self.dir}/out")
        self.assertFalse(ok)


if __name__ == "__main__":
    unittest.main()
