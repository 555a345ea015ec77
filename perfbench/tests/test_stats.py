"""Tests for the benchmark's own arithmetic.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        # 100 samples: p90 leaves exactly 10 beyond, p95 only 5
        xs = list(range(1, 101))
        value, p, beyond, met = stats.tail(xs)
        self.assertEqual((p, beyond, met), (90.0, 10, True))
        self.assertAlmostEqual(value, stats.percentile(xs, 90.0))

    def test_boundaries(self):
        self.assertEqual(stats.tail(list(range(40)))[1:3], (75.0, 10))
        self.assertEqual(stats.tail(list(range(39)))[1:3], (50.0, 19))
        self.assertEqual(stats.tail(list(range(200)))[1:3], (95.0, 10))
        self.assertEqual(stats.tail(list(range(1000)))[1:3], (99.0, 10))
        self.assertEqual(stats.tail(list(range(10000)))[1:3], (99.9, 10))

    def test_too_few_samples_falls_back_to_median(self):
        value, p, beyond, met = stats.tail([3.0, 1.0, 2.0])
        self.assertEqual((value, p, met), (2.0, 50.0, False))
        self.assertLess(beyond, stats.TAIL_BEYOND)

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([5], 99), 5)


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [
            {"id": 0, "parent": -1, "name": "sources.read", "start_ms": 0, "end_ms": 30},
            {"id": 1, "parent": -1, "name": "ops.srs", "start_ms": 30, "end_ms": 90},
            {"id": 2, "parent": 1, "name": "dsp.srs", "start_ms": 40, "end_ms": 70},
        ]
        selfs = stats.self_times(100, spans)
        self.assertEqual(selfs, {-1: 10, 0: 30, 1: 30, 2: 30})
        # self times partition the operation's wall time
        self.assertEqual(sum(selfs.values()), 100)

    def test_no_spans(self):
        self.assertEqual(stats.self_times(42.0, []), {-1: 42.0})


class IntervalUnion(unittest.TestCase):
    def test_overlaps_and_gaps(self):
        self.assertEqual(stats.interval_union([(0, 10), (5, 15), (20, 30)]), 25)

    def test_clipped_to_operation(self):
        self.assertEqual(stats.interval_union([(-5, 5), (8, 12)], lo=0, hi=10), 7)

    def test_nested_and_disjoint_outside(self):
        self.assertEqual(stats.interval_union([(0, 10), (2, 3), (50, 60)], 0, 20), 10)

    def test_sched_gap_is_wall_minus_union(self):
        raw = {"ops": [op(0, 0, 100)],
               "counters": {"jobs": [job(0, "op-0", 10, 40), job(1, "op-0", 30, 60),
                                     job(2, "op-0", 80, 90)],
                            "stages": [], "sql": []}}
        att = metrics.Attribution(raw)
        self.assertEqual(att.sched_gap_ms(raw["ops"][0]), 100 - 60)


class FailedFrac(unittest.TestCase):
    def test_failed_check_counts(self):
        raw = synthetic_raw([True, False, True, True])
        e2e, tail = metrics.end_to_end(raw)
        self.assertEqual(e2e["failed_frac"], 0.25)
        self.assertEqual((tail["attempted"], tail["failed"]), (4, 1))

    def test_oracle_mismatch_fails_every_run_of_the_query(self):
        raw = synthetic_raw([True, True, True, True], names=["q_a", "q_b", "q_a", "q_b"])
        e2e, _ = metrics.end_to_end(raw, oracle_failed=["q_b"])
        self.assertEqual(e2e["failed_frac"], 0.5)

    def test_no_operations(self):
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)


class Spread(unittest.TestCase):
    def test_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5]), (4.5 - 1.5) / 3)


def op(i, start, end, ok=True, name="op", rows=10):
    return {"id": i, "name": name, "phase": "timed", "start_ms": start, "end_ms": end,
            "ok": ok, "rows": rows, "err": "" if ok else "output check failed"}


def job(i, group, start, end):
    return {"id": i, "group": group, "desc": None, "start_ms": start, "end_ms": end,
            "stages": []}


def synthetic_raw(oks, names=None):
    names = names or ["op"] * len(oks)
    ops = [op(i, 100 * i, 100 * i + 50, ok, n) for i, (ok, n) in enumerate(zip(oks, names))]
    return {"stamp": {"workload": "neardup_corpus"},
            "setup": {"setup_s": 9.0, "session_s": 1.0, "prepare_s": 3.0, "warm_s": 4.0},
            "phases": [{"name": "timed", "wall_ms": 100 * len(oks), "cpu_s": 2.0}],
            "ops": ops, "counters": {"jobs": [], "stages": [], "sql": []},
            "peak_rss_kb": 1024}


if __name__ == "__main__":
    unittest.main()
