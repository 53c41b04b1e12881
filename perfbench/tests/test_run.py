"""Tests of run.py's statistics, digest, failure accounting and
tracing overhead.

    python3 -m unittest discover -s perfbench/tests
"""
import datetime
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import digest  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))         # 100 samples: p90 has 10 above it
        self.assertEqual(stats.tail(xs), (90, 0.9, 10))
        self.assertEqual(stats.tail(list(range(1, 12))), (1, 1 / 11, 10))
        self.assertEqual(stats.tail(list(range(1, 21))), (10, 0.5, 10))

    def test_ties_count_only_samples_strictly_above(self):
        # 11 samples but the lowest 2 tie: only 9 lie above the 2nd
        self.assertEqual(stats.tail([1, 1] + list(range(2, 11))), (None, None, 0))
        self.assertEqual(stats.tail([1] + [2] * 3 + list(range(3, 13))), (2, 4 / 14, 10))

    def test_too_few_samples_give_none(self):
        self.assertEqual(stats.tail(list(range(10))), (None, None, 0))
        self.assertEqual(stats.tail([]), (None, None, 0))

    def test_order_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 6
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class DigestTest(unittest.TestCase):
    ROWS = [
        ("x", 1, -0.0, datetime.datetime(2024, 1, 1, 0, 0, 0, 1), datetime.date(2024, 1, 2), [1, 2]),
        (None, 2, 1.5, datetime.datetime(1969, 12, 31, 23, 59, 59), datetime.date(1969, 12, 31), []),
        ("é|ü", -3, float("nan"), None, None, None),
    ]
    COLS = ["b", "a", "c", "d", "e", "f"]

    def test_matches_the_harness_digest(self):
        # HarnessSpec pins the same value for the same rows on the JVM side
        want = "f299584680b74f5815c40910bae414ae79cb481ec26c072d1e60c0335ef1695d"
        self.assertEqual(digest.of(self.COLS, self.ROWS), (want, 3))
        self.assertEqual(digest.of(self.COLS, self.ROWS[::-1])[0], want)

    def test_cells_compare_exactly(self):
        self.assertNotEqual(digest.cell(0.0), digest.cell(-0.0))
        self.assertNotEqual(digest.cell(1), digest.cell(1.0))
        self.assertEqual(digest.cell(float("nan")), "f:nan")


def op(name, seconds, failure=None):
    return {"name": name, "seconds": seconds, "cpu_s": 0.1, "failure": failure}


class SummarizeTest(unittest.TestCase):
    def result(self, ops):
        return {"unit": "docs", "work_per_pass": 100.0, "peak_rss_mb": 900.0,
                "warmup_ops": [op("q1", 9.0)],
                "passes": [ops, [op("q1", 4.0)]]}

    def test_a_failed_op_counts_and_records_no_timing(self):
        m, failed, attempted, detail = run.summarize(
            self.result([op("q1", None, "wrong: digest"), op("q2", 1.0)]), 3.0, 0)
        self.assertEqual((failed, attempted), (1, 4))
        self.assertEqual(detail["latency_samples"], 2)           # 1.0 and 4.0
        self.assertEqual(m["ok_ratio"], 0.75)
        self.assertEqual(m["throughput"], 25.0)                   # only the clean pass
        self.assertEqual(m["op_p50_s"], 2.5)
        self.assertAlmostEqual(m["cpu_s"], 0.15)                 # ops' CPU, per pass

    def test_clean_run(self):
        m, failed, attempted, _ = run.summarize(
            self.result([op("q1", 1.0), op("q2", 1.0)]), 3.0, 0)
        self.assertEqual((failed, attempted, m["ok_ratio"]), (0, 4, 1.0))
        self.assertEqual(m["throughput"], 100.0 / 3.0)           # median pass: 3 s
        self.assertEqual(m["setup_s"], 3.0)
        self.assertNotIn("op_tail_s", m)                         # detail only: 3 samples

    def test_traced_overhead_compares_the_replay_with_the_passes_around_it(self):
        res = self.result([op("q1", 1.0), op("q2", 1.0)])       # passes: 2 s, 4 s
        res["passes"].insert(0, [op("q1", 9.0)])                 # an early, slow pass
        res.update({"replay_ops": [op("q1", 3.5), op("q2", 0.5)],
                    "layers": {"queries.q1_s": 3.5}, "spans": []})
        m, failed, attempted, detail = run.summarize(res, 3.0, 1)
        self.assertEqual((failed, attempted), (0, 7))
        self.assertEqual(m["trace.overhead_ratio"], 4.0 / 3.0)  # replay / mean(2 s, 4 s)
        res["replay_ops"][1] = op("q2", None, "threw: boom")
        m, failed, _, _ = run.summarize(res, 3.0, 1)
        self.assertEqual((failed, m["trace.overhead_ratio"]), (1, 0.0))


if __name__ == "__main__":
    unittest.main()
