"""Percentiles and sample counts against known lists.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


class Verdicts:
    failures = []

    @staticmethod
    def op_ok(p, op):
        return op["ok"]

    @staticmethod
    def rows_of(op):
        return max(op["rows"], 0)


def op(i, kind, ms, ok=True):
    return {"i": i, "kind": kind, "name": kind, "module": "ts", "build_s": 0.0,
            "run_s": ms / 1e3, "ok": ok, "err": "", "rows": 1}


def run(passes):
    return {"context_s": 2.0, "setup_s": 4.0, "measured_s": 9.0,
            "peak_rss_kb": 2048, "passes": passes}


class Percentiles(unittest.TestCase):
    def test_known_lists(self):
        xs = list(range(1, 11))  # 1..10
        self.assertEqual(metrics.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 9.1)
        self.assertEqual(metrics.percentile(xs, 0), 1)
        self.assertEqual(metrics.percentile(xs, 100), 10)
        self.assertEqual(metrics.percentile([4.0], 90), 4.0)
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)

    def test_matches_statistics_median(self):
        xs = [0.3, 9.1, 2.2, 7.7, 5.0, 1.1, 4.4]
        self.assertEqual(metrics.percentile(xs, 50), statistics.median(xs))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class Report(unittest.TestCase):
    def test_end_to_end_from_untraced_passes(self):
        passes = [
            {"index": 0, "traced": False, "wall_s": 4.0, "cpu_s": 8.0, "layers": {},
             "ops": [op(0, "read", 10), op(1, "read", 30), op(2, "write", 100)]},
            {"index": 1, "traced": False, "wall_s": 6.0, "cpu_s": 10.0, "layers": {},
             "ops": [op(3, "read", 20), op(4, "write", 300)]},
        ]
        rep = metrics.report("tsdb_serve", run(passes), Verdicts, 0, 4)
        e2e, n = rep["end_to_end"], rep["samples"]
        self.assertEqual((e2e["setup_s"], n["setup_s"]), (4.0, 1))
        self.assertEqual(e2e["pass_s"], 5.0)
        self.assertEqual(e2e["pass_cpu_s"], 9.0)
        self.assertAlmostEqual(e2e["read_p50_ms"], 20.0)
        self.assertAlmostEqual(e2e["read_p90_ms"], 28.0)
        self.assertAlmostEqual(e2e["write_p50_ms"], 200.0)
        self.assertEqual(e2e["peak_rss_mb"], 2.0)
        self.assertEqual((n["read_p50_ms"], n["write_p50_ms"], n["pass_s"]), (3, 2, 2))
        line = rep["line"]
        self.assertEqual((line["correct"], line["attempted"], line["failed"]), (True, 5, 0))
        self.assertEqual(set(line["metrics"]), set(metrics.END_TO_END))

    def test_a_failed_op_misses_every_latency_limit(self):
        passes = [{"index": 0, "traced": False, "wall_s": 1.0, "cpu_s": 1.0, "layers": {},
                   "ops": [op(0, "read", 10), op(1, "read", 10, ok=False)]}]
        rep = metrics.report("tsdb_serve", run(passes), Verdicts, 0, 4)
        self.assertEqual(rep["end_to_end"]["read_p90_ms"], float("inf"))
        self.assertEqual(rep["end_to_end"]["failed_frac"], 0.5)
        self.assertFalse(rep["line"]["correct"])

    def test_traced_run_reports_every_layer(self):
        passes = [
            {"index": 0, "traced": False, "wall_s": 2.0, "cpu_s": 2.0, "layers": {},
             "ops": [op(0, "read", 500)]},
            {"index": 1, "traced": True, "wall_s": 2.2, "cpu_s": 2.0,
             "layers": {"exec.run_s": 4.4, "scan.rows": 10.0}, "ops": [op(1, "read", 2000)]},
        ]
        rep = metrics.report("tsdb_serve", run(passes), Verdicts, 1, 4)
        m = rep["line"]["metrics"]
        self.assertEqual(set(m), set(metrics.PER_LAYER))
        self.assertAlmostEqual(m["trace.overhead_frac"]["value"], 0.1)
        self.assertAlmostEqual(m["exec.busy_frac"]["value"], 0.5)
        self.assertAlmostEqual(m["trace.residual_s"]["value"], 0.2)
        self.assertEqual(m["scan.rows_per_out_row"]["value"], 10.0)
        self.assertEqual(m["ts.ops"]["value"], 1)


if __name__ == "__main__":
    unittest.main()
