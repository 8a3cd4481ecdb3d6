"""Tests of the benchmark's own code.

    python3 -m unittest bench/test_bench.py

The statistics and span tests run in Python. The JVM self-test (generator
determinism and each workload's output check) builds the program and runs
``graftbench.SelfTest``; it is skipped only where no Spark distribution is
installed.
"""
import statistics
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import benchstats  # noqa: E402
import build  # noqa: E402


def spark_missing():
    """Why the JVM self-test cannot run here, or an empty string."""
    try:
        build.spark_jars()
        return ""
    except build.BuildError as e:
        return str(e)


def span(i, parent, start, end, name="x", pass_id=0):
    return {"id": i, "parent": parent, "pass": pass_id, "name": name, "start_us": start, "end_us": end}


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(benchstats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(benchstats.median([4.0, 1.0, 2.0, 3.0]), 2.5)
        self.assertEqual(benchstats.median([]), 0.0)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        q = statistics.quantiles(xs, n=4)
        self.assertEqual(benchstats.quartiles(xs), (q[0], q[2]))
        self.assertEqual(benchstats.quartiles([2.0]), (2.0, 2.0))

    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(benchstats.tail_percentile(list(range(19))))
        p, v = benchstats.tail_percentile([float(x) for x in range(1, 21)])
        self.assertEqual(p, 50.0)
        self.assertEqual(v, 10.0)
        p, v = benchstats.tail_percentile([float(x) for x in range(1, 101)])
        self.assertEqual((p, v), (90.0, 90.0))
        p, _ = benchstats.tail_percentile([1.0] * 1000)
        self.assertEqual(p, 99.0)


class SelfTimeTest(unittest.TestCase):
    def test_nested_and_parallel_children(self):
        spans = [
            span(1, 0, 0, 100),           # root: children cover 10-60 and 70-90
            span(2, 1, 10, 60),           # child with two overlapping children
            span(3, 2, 20, 40),
            span(4, 2, 30, 50),           # overlaps 3: union 20-50
            span(5, 1, 70, 90),
            span(6, 5, 60, 80),           # starts before its parent: clipped
        ]
        st = benchstats.self_times(spans)
        self.assertEqual(st[1], 100 - 50 - 20)
        self.assertEqual(st[2], 50 - 30)
        self.assertEqual(st[3], 20)
        self.assertEqual(st[4], 20)
        self.assertEqual(st[5], 20 - 10)
        self.assertEqual(st[6], 20)

    def test_self_by_name_sums_per_pass_then_takes_median(self):
        spans = [span(1, 0, 0, 1_000_000, "pass", 1), span(2, 1, 0, 400_000, "spark.job", 1),
                 span(3, 0, 0, 3_000_000, "pass", 2), span(4, 0, 0, 2_000_000, "pass", 3),
                 span(5, 0, 0, 9_000_000, "pass", 4)]
        by = benchstats.self_by_name(spans, {1, 2, 3})
        self.assertAlmostEqual(by["pass"], 2.0)
        self.assertAlmostEqual(by["spark.job"], 0.4)

    def test_task_time_below_a_named_span(self):
        spans = [span(1, 0, 0, 100, "call", 1), span(2, 1, 10, 90, "spark.job", 1),
                 span(3, 2, 10, 50, "spark.task", 1), span(4, 2, 20, 90, "spark.task", 1),
                 span(5, 0, 0, 100, "other", 1), span(6, 5, 0, 30, "spark.task", 1)]
        got = benchstats.task_s_under(spans, "call")
        self.assertEqual(list(got), [1])
        self.assertAlmostEqual(got[1], 110 / 1e6)


class MetricsTest(unittest.TestCase):
    def test_end_to_end_counts_median_input_build_once(self):
        rec = {"setup": {"jvm_to_first_pass_s": 20.0, "input_builds_s": [3.0, 1.0, 2.0]},
               "passes": [{"wall_s": 2.0, "rows": 100, "ok": True, "heap_mb": 50.0},
                          {"wall_s": 4.0, "rows": 100, "ok": False, "heap_mb": 70.0},
                          {"wall_s": 3.0, "rows": 100, "ok": True, "heap_mb": 60.0}]}
        m = benchstats.end_to_end(rec)
        self.assertEqual(m["setup_s"], 20.0 - 6.0 + 2.0)
        self.assertAlmostEqual(m["rows_per_s"], 200 / 9.0)
        self.assertEqual(m["pass_p50_s"], 3.0)
        self.assertEqual(m["heap_mb"], 60.0)


@unittest.skipIf(spark_missing(), spark_missing())
class JvmSelfTest(unittest.TestCase):
    def test_generators_and_checks(self):
        run = Path(__file__).resolve().parent / "run.py"
        res = subprocess.run([sys.executable, str(run), "--selftest"], stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, text=True, timeout=900)
        self.assertEqual(res.returncode, 0, res.stdout[-3000:])
        self.assertIn("selftest: all passed", res.stdout)


if __name__ == "__main__":
    unittest.main()
