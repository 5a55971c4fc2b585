"""Tests of the benchmark's own arithmetic and checks.

    python3 perfbench/tests/test_benchlib.py

The model-check test builds the harness on first use (as a benchmark run
does) and runs it in a JVM."""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [float(i) for i in range(1, 11)]  # 1..10
        self.assertAlmostEqual(benchlib.percentile(xs, 0.5), 5.5)
        self.assertAlmostEqual(benchlib.percentile(xs, 0.9), 9.1)
        self.assertEqual(benchlib.percentile(xs, 0.0), 1.0)
        self.assertEqual(benchlib.percentile(xs, 1.0), 10.0)
        self.assertEqual(benchlib.percentile([3.0], 0.9), 3.0)

    def test_order_does_not_matter(self):
        self.assertEqual(benchlib.percentile([5, 1, 4, 2, 3], 0.5), 3)

    def test_failed_op_misses_every_limit(self):
        xs = [0.1] * 18 + [benchlib.FAILED_S] * 2
        self.assertGreater(benchlib.percentile(xs, 0.9), 1e6)
        self.assertAlmostEqual(benchlib.percentile(xs, 0.5), 0.1)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            benchlib.percentile([], 0.5)

    def test_samples_beyond_p90(self):
        self.assertEqual(benchlib.beyond(0, 0.9), 0)
        self.assertEqual(benchlib.beyond(10, 0.9), 1)
        self.assertEqual(benchlib.beyond(101, 0.9), 10)
        # brute force: count samples strictly above the percentile
        for n in range(1, 250):
            xs = list(range(n))
            p = benchlib.percentile(xs, 0.9)
            self.assertEqual(benchlib.beyond(n, 0.9),
                             sum(1 for x in xs if x > p), n)

    def test_ten_beyond_p90_needs_92_samples(self):
        self.assertEqual(min(n for n in range(1, 500)
                             if benchlib.beyond(n, 0.9) >= 10), 92)


class ResultLineTest(unittest.TestCase):
    UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s",
             "op_p90_s": "s", "peak_rss_mb": "MB"}

    def test_round_trip(self):
        metrics = {"setup_s": 21.123456789012345, "wall_s": 9.87654321,
                   "op_p50_s": 0.2915, "op_p90_s": 0.46796767359999997,
                   "peak_rss_mb": 1560.04296875}
        line = benchlib.result_line(True, 58, 0, metrics, self.UNITS)
        self.assertNotIn("\n", line)
        ok, att, fail, vals, units = benchlib.parse_result_line(line)
        self.assertEqual((ok, att, fail), (True, 58, 0))
        self.assertEqual(vals, metrics)  # every digit survives
        self.assertEqual(units, self.UNITS)

    def test_end_to_end_line_fits_the_tail(self):
        metrics = {k: 123456.78901234567 for k in self.UNITS}
        line = benchlib.result_line(False, 10 ** 6, 10 ** 6, metrics,
                                    self.UNITS)
        self.assertLess(len(line), 1500)

    def test_rejects_other_keys(self):
        with self.assertRaises(ValueError):
            benchlib.parse_result_line('{"correct": true, "metrics": {}}')


class SelfTimeTest(unittest.TestCase):
    def test_layers_and_remainder_sum_to_wall(self):
        spans = [("sql", 0, 100), ("plans", 5, 15), ("spark", 10, 40),
                 ("spark", 30, 60), ("manifest", 90, 120),
                 ("streaming", -10, 3)]
        parts = benchlib.self_times(0, 100, spans)
        self.assertAlmostEqual(sum(parts.values()), 100)
        self.assertAlmostEqual(parts["spark"], 50)       # [10, 60)
        self.assertAlmostEqual(parts["plans"], 5)        # [5, 10)
        self.assertAlmostEqual(parts["streaming"], 3)    # clipped to [0, 3)
        self.assertAlmostEqual(parts["sql"], 42)         # [3,5) + [60,100)
        self.assertAlmostEqual(parts["manifest"], 0)     # sql outranks it
        self.assertAlmostEqual(parts["unattributed"], 0)

    def test_uncovered_time_is_unattributed(self):
        parts = benchlib.self_times(100.0, 110.0, [("spark", 102.0, 104.0)])
        self.assertAlmostEqual(parts["spark"], 2.0)
        self.assertAlmostEqual(parts["unattributed"], 8.0)

    def test_spans_outside_the_op_count_nothing(self):
        parts = benchlib.self_times(0, 10, [("spark", 20, 30)])
        self.assertEqual(parts["unattributed"], 10)

    def test_union_length(self):
        self.assertEqual(benchlib.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(benchlib.union_length([]), 0)


class OracleGateTest(unittest.TestCase):
    """verify_registry hands the dumps to the library's oracle gate and
    reports each mismatch it prints."""

    def test_planted_wrong_row_fails_only_its_query(self):
        import tempfile
        import duckdb
        import run
        sql = "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"
        with tempfile.TemporaryDirectory() as out:
            con = duckdb.connect()
            con.execute(f"CREATE VIEW region AS SELECT * FROM "
                        f"'{run.DATA}/region.parquet'")
            for q, fix in (("good", ""), ("bad", " WHERE r_regionkey > 0")):
                os.makedirs(f"{out}/dumps/{q}")
                con.execute(f"COPY ({sql.replace(' ORDER', fix + ' ORDER')})"
                            f" TO '{out}/dumps/{q}/part.parquet'")
            con.close()
            result = {"verified": ["good", "bad"],
                      "oracle": {"good": sql, "bad": sql}}
            bad = run.verify_registry(result, os.path.dirname(HERE), out)
        self.assertEqual(sorted(bad), ["bad"])
        self.assertIn("rows", bad["bad"])


class BenchmarkFileTest(unittest.TestCase):
    def test_runner_reports_exactly_the_declared_metrics(self):
        import json
        import run
        spec = json.load(open(os.path.join(os.path.dirname(HERE),
                                           "BENCHMARK.json")))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         run.WORKLOADS)


class ModelCheckTest(unittest.TestCase):
    def test_model_check_catches_planted_wrong_rows(self):
        import run
        run.build(os.path.dirname(HERE))
        cp = run.HARNESS_JAR + os.pathsep + open(
            run.CLASSPATH_FILE).read().strip()
        r = subprocess.run(["java", "-cp", cp, "perfbench.SelfTest"],
                           capture_output=True, text=True, timeout=120)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertIn("cases ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
