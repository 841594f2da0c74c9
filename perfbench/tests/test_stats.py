"""Self-test of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import pathlib
import sys
import unittest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))
import stats  # noqa: E402


class TailPercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_summary_reports_tail_only_above_the_median(self):
        self.assertEqual(stats.summary(list(range(30))), {"n": 30, "p50": 14.5})
        s = stats.summary([float(x) for x in range(100)])
        self.assertEqual((s["n"], s["tail_p"]), (100, 90.0))
        self.assertAlmostEqual(s["tail"], 89.1)
        self.assertEqual(stats.summary([]), {"n": 0})

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([5], 95), 5)
        self.assertAlmostEqual(stats.percentile([0, 10], 95), 9.5)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class SpanSelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        span = {"start": 0.0, "end": 100.0}
        jobs = [{"start": 10.0, "end": 40.0}, {"start": 30.0, "end": 60.0},
                {"start": 90.0, "end": 120.0}]
        # Covered: 10..60 and 90..100 (the last job is clipped to the span).
        self.assertEqual(stats.self_time(span, jobs), 40.0)

    def test_concurrent_spans_each_see_their_own_jobs(self):
        # Two requests in flight at once; jobs of both interleave.
        a = {"start": 0.0, "end": 50.0}
        b = {"start": 20.0, "end": 80.0}
        jobs = [{"start": 5.0, "end": 15.0}, {"start": 25.0, "end": 45.0},
                {"start": 60.0, "end": 70.0}]
        ra = stats.op_rollup([a], jobs)
        self.assertEqual((ra["jobs"], ra["job_ms"], ra["driver_ms"]), (2, 30.0, 20.0))
        rb = stats.op_rollup([b], jobs)
        self.assertEqual((rb["jobs"], rb["job_ms"], rb["driver_ms"]), (2, 30.0, 30.0))

    def test_accounting_reports_jobs_outside_every_span(self):
        spans = [{"start": 0.0, "end": 40.0}, {"start": 50.0, "end": 90.0}]
        jobs = [{"start": 5.0, "end": 25.0},     # inside the first call
                {"start": 42.0, "end": 48.0},    # between calls: unattributed
                {"start": 60.0, "end": 80.0},
                {"start": 150.0, "end": 160.0}]  # outside the window
        acc = stats.accounting(spans, jobs, (0.0, 100.0))
        self.assertEqual((acc["spans"], acc["jobs"], acc["unattributed_jobs"]), (2, 3, 1))
        self.assertAlmostEqual(acc["unattributed_job_share"], 6.0 / 46.0)
        # 40..50 and 90..100 lie between (or after) the calls.
        self.assertEqual(acc["between_spans_ms"], 20.0)
        self.assertEqual(acc["between_spans_share"], 0.2)
        full = stats.accounting(spans, jobs[:1] + jobs[2:3], (0.0, 90.0))
        self.assertEqual(full["unattributed_job_share"], 0.0)

    def test_rollup_of_no_calls(self):
        self.assertEqual(stats.op_rollup([], [])["calls"], 0)

    def test_union_clips_and_merges(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 20), (30, 40)]), 30.0)
        self.assertEqual(stats.union_ms([(0, 10), (5, 20), (30, 40)], 8, 35), 17.0)
        self.assertEqual(stats.union_ms([]), 0.0)


class ClosedLoopAccounting(unittest.TestCase):
    def test_throughput_and_failed_fraction(self):
        results = [
            (-5.0, 100.0, True),    # started before the window: not attempted
            (0.0, 400.0, True),
            (400.0, 700.0, False),  # error response: attempted and failed
            (700.0, 900.0, True),
            (900.0, 1200.0, True),  # still in flight at the window's end
        ]
        r = stats.closed_loop(results, 0.0, 1000.0)
        self.assertEqual((r["attempted"], r["failed"]), (4, 1))
        self.assertEqual(r["ops_per_s"], 2.0)
        self.assertEqual(r["failed_frac"], 0.25)

    def test_empty_window(self):
        r = stats.closed_loop([], 0.0, 1000.0)
        self.assertEqual((r["attempted"], r["failed"], r["failed_frac"]), (0, 0, 0.0))


class SparkRollup(unittest.TestCase):
    def test_per_pass_totals_and_driver_gap(self):
        job = {"tasks": 4, "task_ms": 400, "cpu_ms": 300.0, "gc_ms": 10,
               "shuffle_write_b": 1048576, "shuffle_read_b": 1048576, "spill_b": 0,
               "input_b": 2097152}
        jobs = [dict(job, start=100.0, end=300.0), dict(job, start=200.0, end=400.0),
                dict(job, start=5000.0, end=5100.0)]   # outside the window
        plans = [{"analysis_start": 50.0, "analysis_end": 60.0,
                  "optimization_start": 60.0, "optimization_end": 65.0,
                  "planning_start": 65.0, "planning_end": 66.0}]
        out = stats.spark_layer(jobs, plans, (0.0, 1000.0), passes=2, cpus=4)
        self.assertEqual(out["spark.jobs"], 1.0)
        self.assertEqual(out["spark.tasks"], 4.0)
        self.assertEqual(out["spark.input_mb"], 2.0)
        self.assertEqual(out["spark.core_util"], 800 / 4000)
        self.assertEqual(out["spark.driver_gap_ms"], (1000 - 300) / 2)
        self.assertEqual((out["plan.actions"], out["plan.analysis_ms"]), (0.5, 5.0))


if __name__ == "__main__":
    unittest.main()
