"""Self-test of the benchmark's arithmetic; needs neither Spark nor a
build (the oracle canonicalisation runs in an in-memory DuckDB).

    python3 perfbench/test_bench.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402
import metrics as M  # noqa: E402
import oracle  # noqa: E402


class Median(unittest.TestCase):
    def test_odd_even(self):
        self.assertEqual(M.median([3, 1, 2]), 2)
        self.assertEqual(M.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(M.median([7]), 7)

    def test_empty(self):
        with self.assertRaises(ValueError):
            M.median([])


class Tail(unittest.TestCase):
    def test_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        p, v, n = M.tail(xs)
        # p99 leaves 1 beyond, p95 leaves 5, p90 leaves exactly 10
        self.assertEqual((p, v, n), (90.0, 90, 100))

    def test_large_sample_reaches_p99(self):
        xs = list(range(1, 1001))
        p, v, _ = M.tail(xs)
        self.assertEqual((p, v), (99.0, 990))

    def test_too_few_samples_reports_max(self):
        p, v, n = M.tail([5, 1, 9, 3])
        self.assertEqual((p, v, n), (None, 9, 4))

    def test_median_rung(self):
        xs = list(range(1, 21))  # 20 samples: p75 leaves 5, p50 leaves 10
        self.assertEqual(M.tail(xs)[:2], (50.0, 10))

    def test_nearest_rank(self):
        self.assertEqual(M.percentile([1, 2, 3, 4], 50), 2)
        self.assertEqual(M.percentile([1, 2, 3, 4], 51), 3)
        self.assertEqual(M.percentile([4, 3, 2, 1], 100), 4)


class Intervals(unittest.TestCase):
    def test_union(self):
        self.assertEqual(M.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(M.union_length([(3, 1)]), 0)
        self.assertEqual(M.union_length([]), 0)

    def test_covered_by(self):
        execs = [(0, 10), (20, 30)]
        jobs = [(2, 4), (3, 6), (25, 40)]
        self.assertEqual(M.covered_by(execs, jobs), 4 + 5)

    def test_clip(self):
        self.assertEqual(M.clip([(0, 10), (20, 30)], 5, 25), [(5, 10), (20, 25)])


class SelfTime(unittest.TestCase):
    SPANS = [
        {"id": 1, "parent": None, "name": "pass", "start_s": 0.0, "end_s": 10.0},
        {"id": 2, "parent": 1, "name": "key:a", "start_s": 1.0, "end_s": 4.0},
        {"id": 3, "parent": 1, "name": "key:b", "start_s": 3.0, "end_s": 6.0},
        {"id": 4, "parent": 2, "name": "tokenize", "start_s": 1.5, "end_s": 2.0},
        # a child running past its parent counts only inside the parent
        {"id": 5, "parent": 3, "name": "flatten", "start_s": 5.0, "end_s": 7.0},
    ]

    def test_self_times(self):
        s = M.self_times(self.SPANS)
        self.assertAlmostEqual(s[1], 10.0 - 5.0)  # children cover [1, 6]
        self.assertAlmostEqual(s[2], 3.0 - 0.5)
        self.assertAlmostEqual(s[3], 3.0 - 1.0)
        self.assertAlmostEqual(s[4], 0.5)
        self.assertAlmostEqual(s[5], 2.0)

    def test_by_name(self):
        s = M.self_times(self.SPANS)
        self.assertAlmostEqual(M.by_name(self.SPANS, s)["pass"], 5.0)
        self.assertAlmostEqual(M.by_name(self.SPANS)["pass"], 10.0)


class Fractions(unittest.TestCase):
    def test_frac_keeps_base(self):
        self.assertEqual(M.frac(3, 4), (0.75, 3, 4))
        self.assertEqual(M.frac(0, 0), (0.0, 0, 0))

    def _traced_result(self):
        p = {"traced": True, "wall_s": 2.0, "start_ms": 1000, "end_ms": 3000,
             "keys": {}, "heap_old_mb": 1.0, "parquet_scans": 3,
             "staging": {"new_files": 2, "new_bytes": 1048576},
             "progress": [
                 {"start_ms": 1000, "duration_ms": {"triggerExecution": 500, "addBatch": 300},
                  "state_rows": 7, "source_metrics": {"behindGroups": "2"}},
                 {"start_ms": 2000, "duration_ms": {"triggerExecution": 500, "addBatch": 100},
                  "state_rows": 9, "source_metrics": {}}],
             "layers": {"executions": [[1100, 1400], [2100, 2200], [2700, 2900]],
                        "jobs": [[1200, 1300], [2750, 2800], [2800, 2850]],
                        "stages": 4,
                        "sums": {"tasks": 8, "task_run_ms": 4000, "result_bytes": 0}}}
        plain = dict(p, traced=False, wall_s=1.6)
        probes = {"quarantined_docs": 10, "xml_docs": 100, "lsh_candidates": 40,
                  "lsh_verified": 10, "occ_commits": 60, "occ_attempts": 80, "log_files": 2}
        return {"passes": [plain, p], "probes": probes, "staging": {"bytes": 1048576}}

    def test_layer_ratios_and_bases(self):
        wl = {"input_tables": ["events"]}
        sizes = {"events": {"rows": 10, "bytes": 2 * 1048576}}
        out, notes = layers.per_layer(self._traced_result(), wl, sizes, 4, "/nonexistent")
        v = {k: x[0] for k, x in out.items()}
        self.assertEqual(v["sql_executions"], 3)
        self.assertAlmostEqual(v["exec_driver_s"], 0.3 + 0.1 + 0.2 - 0.1 - 0.1)
        self.assertAlmostEqual(v["outside_exec_s"], 2.0 - 0.6)
        self.assertEqual(v["executions_per_trigger"], 1.0)  # 2 execs in 2 triggers
        self.assertEqual(v["jobs_per_trigger"], 0.5)
        self.assertEqual(v["trigger_add_batch_ms"], 200)
        self.assertEqual(v["state_rows"], 9)
        self.assertEqual(v["replay_behind_groups"], 2)
        self.assertAlmostEqual(v["executor_busy_frac"], 4.0 / (2.0 * 4))
        self.assertAlmostEqual(v["quarantine_frac"], 0.1)
        self.assertAlmostEqual(v["lsh_useful_frac"], 0.25)
        self.assertAlmostEqual(v["occ_useful_frac"], 0.75)
        self.assertAlmostEqual(v["write_amp"], 0.5)
        self.assertAlmostEqual(v["trace_overhead_frac"], 2.0 / 1.6 - 1)
        for name in ("executor_busy_frac", "quarantine_frac", "lsh_useful_frac",
                     "occ_useful_frac", "write_amp", "executions_per_trigger"):
            self.assertIn("/", notes[name], name)


class MetricNames(unittest.TestCase):
    """The metrics a run prints are exactly the ones BENCHMARK.json lists."""

    def setUp(self):
        import json
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_end_to_end(self):
        import run
        res = Fractions()._traced_result()
        res["setup_s"], res["ready_s"] = 3.0, 1.0
        out, _ = run.end_to_end(res, {"keys": [], "input_tables": ["events"]},
                                {"events": {"rows": 10, "bytes": 1}})
        want = [(m["name"], m["unit"]) for m in self.spec["end_to_end"]]
        self.assertEqual([(k, u) for k, (_, u) in out.items()], want)
        self.assertTrue(all(v > 0 for v, _ in out.values()))

    def test_per_layer(self):
        out, _ = layers.per_layer(Fractions()._traced_result(), {"input_tables": ["events"]},
                                  {"events": {"rows": 10, "bytes": 1}}, 4, "/nonexistent")
        want = sorted((m["name"], m["unit"]) for m in self.spec["per_layer"])
        self.assertEqual(sorted((k, u) for k, (_, u) in out.items()), want)


class OracleCanon(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        import duckdb
        cls.con = duckdb.connect()

    def fp(self, sql):
        return oracle.fingerprint(self.con, sql)

    def test_row_order_and_column_order(self):
        a = self.fp("SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(a, b)")
        b = self.fp("SELECT b, a FROM (VALUES (2, 'y'), (1, 'x')) t(a, b)")
        self.assertEqual(a, b)

    def test_null_and_nan_agree(self):
        a = self.fp("SELECT CAST(NULL AS DOUBLE) AS v")
        b = self.fp("SELECT CAST('NaN' AS DOUBLE) AS v")
        self.assertEqual(a, b)

    def test_float_rounding(self):
        a = self.fp("SELECT 0.1 + 0.2 AS v")
        b = self.fp("SELECT CAST(0.3 AS DOUBLE) AS v")
        self.assertEqual(a, b)
        c = self.fp("SELECT CAST(0.3001 AS DOUBLE) AS v")
        self.assertNotEqual(a[2], c[2])

    def test_integral_double_matches_integer(self):
        self.assertEqual(self.fp("SELECT CAST(42 AS DOUBLE) AS v"),
                         self.fp("SELECT CAST(42 AS BIGINT) AS v"))

    def test_float_lists(self):
        a = self.fp("SELECT [CAST(0.5 AS FLOAT), 1.0] AS v")
        b = self.fp("SELECT [CAST(0.5 AS DOUBLE), 1.0] AS v")
        self.assertEqual(a, b)

    def test_negative_zero(self):
        self.assertEqual(self.fp("SELECT CAST('-0.0' AS DOUBLE) AS v"),
                         self.fp("SELECT CAST(0.0 AS DOUBLE) AS v"))

    def test_duplicate_rows_count(self):
        once = self.fp("SELECT 1 AS v")
        twice = self.fp("SELECT * FROM (VALUES (1), (1)) t(v)")
        self.assertNotEqual(once, twice)

    def test_cell_diff_tolerance(self):
        self.assertTrue(oracle.cells_equal(1.0, 1.0 + 1e-12))
        self.assertFalse(oracle.cells_equal(1.0, 1.001))
        self.assertTrue(oracle.cells_equal(None, float("nan")))
        self.assertTrue(oracle.cells_equal([1.0, None], [1.0 + 1e-12, float("nan")]))
        self.assertFalse(oracle.cells_equal([1.0], [1.0, 2.0]))
        self.assertIsNone(oracle.cell_diff(
            self.con, "SELECT 1.0 AS v UNION ALL SELECT 2.0",
            "SELECT 2.0 + 1e-13 AS v UNION ALL SELECT 1.0", ["v"]))
        self.assertIn("want", oracle.cell_diff(
            self.con, "SELECT 1.0 AS v", "SELECT 1.5 AS v", ["v"]))


if __name__ == "__main__":
    unittest.main()
