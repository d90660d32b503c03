#!/usr/bin/env python3
"""Self-tests for the benchmark's own arithmetic and output checks.

    python3 graftbench/selftest.py

Needs no engine build: it exercises stats.py, the result checks in
run.py and the verdicts of compare.py on small hand-made inputs.
"""
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import compare  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def ev(i, due, et, key=0, value=1, kind=0):
    return [i, due, et, key, value, kind]


class Percentiles(unittest.TestCase):
    def test_percentile_needs_ten_samples_beyond(self):
        self.assertAlmostEqual(stats.percentile(range(1, 101), 90), 90.5, places=6)
        self.assertAlmostEqual(stats.percentile(range(1, 96), 90), 86.0, places=6)  # 10 beyond
        self.assertIsNone(stats.percentile(range(1, 95), 90))  # 85.1: only 9 beyond

    def test_percentile(self):
        self.assertAlmostEqual(stats.percentile(range(1, 41), 75), 30.5, places=6)
        self.assertIsNone(stats.percentile(range(1, 38), 75))  # 9 beyond

    def test_harrell_davis_quantile(self):
        self.assertAlmostEqual(stats.betainc(2, 3, 0.5), 11 / 16)
        self.assertAlmostEqual(stats.quantile([3, 1, 2], 0.5), 2.0)
        self.assertEqual(stats.quantile([5], 0.5), 5.0)
        self.assertAlmostEqual(stats.quantile(range(1, 1001), 0.9), 900.5, places=6)
        # every sample carries weight: moving the largest moves the median
        self.assertLess(stats.quantile([1, 2, 3, 10], 0.5),
                        stats.quantile([1, 2, 3, 20], 0.5))

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([5, 5, 5]), 5.0)
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])

    def test_spread_is_iqr_over_median(self):
        xs = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        q1, _, q3 = __import__("statistics").quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / 5.5)

    def test_batch_metrics(self):
        execs = [{"query": "a", "ms": 100.0}, {"query": "a", "ms": 300.0},
                 {"query": "b", "ms": 400.0}, {"query": "b", "ms": 400.0}]
        m, geo, n = stats.batch_metrics(execs, [1000.0, 3000.0, 2000.0])
        self.assertEqual(n, 4)
        self.assertAlmostEqual(m["wall_s"], 2.0)
        self.assertAlmostEqual(geo, (200.0 * 400.0) ** 0.5)
        self.assertAlmostEqual(m["latency_p50_ms"], stats.quantile([100, 300, 400, 400], 0.5))
        self.assertIsNone(m["latency_tail_ms"])  # too few samples
        execs = [{"query": "a", "ms": float(i)} for i in range(1, 41)]
        m, _, _ = stats.batch_metrics(execs, [1.0])
        self.assertAlmostEqual(m["latency_tail_ms"], 30.5, places=6)


class Windows(unittest.TestCase):
    W, S, D = 1000, 500, 500

    def test_window_starts(self):
        self.assertEqual(stats.window_starts(1250, self.W, self.S), [500, 1000])
        self.assertEqual(stats.window_starts(1000, self.W, self.S), [500, 1000])
        self.assertEqual(stats.window_starts(999, self.W, self.S), [0, 500])

    def test_reference_keeps_out_of_order_and_drops_far_late(self):
        events = [ev(0, 1100, 1100, value=2),
                  ev(1, 1200, 900, value=3, kind=1),            # out of order
                  ev(2, 1300, 1300 - 3_600_000, value=50, kind=2)]  # far late
        ref = stats.window_reference(events, self.W, self.S)
        self.assertEqual(ref[(500, 0)], [2, 5])
        self.assertEqual(ref[(1000, 0)], [1, 2])
        self.assertEqual(ref[(0, 0)], [1, 3])
        self.assertFalse(any(s < 0 for s, _ in ref))

    def test_closing_event_ignores_out_of_order_and_late(self):
        events = [ev(0, 1000, 1000), ev(1, 1400, 1400),
                  ev(2, 1500, 1600 - 3_600_000, kind=2),
                  ev(3, 1600, 1450, kind=1),   # behind the stream: closes nothing
                  ev(4, 1700, 1700)]
        # window end 1000 closes once max event time - delay >= 1000
        self.assertEqual(stats.closing_due(events, [1000, 1500], self.D),
                         {1000: 1700})

    def test_latency_is_measured_from_due_time(self):
        events = [ev(0, 100, 100), ev(1, 1600, 1600), ev(2, 2100, 2100)]
        rows = [[0, 0, 1, 1.0, 1900, 1], [500, 0, 1, 1.0, 2450, 2]]
        moments, n = stats.live_latencies(rows, events, self.W, self.D, 0, 10_000)
        # [0,1000) closes at the event due 1600, [500,1500) at the one due 2100
        self.assertEqual(moments, {1600: 300, 2100: 350})
        self.assertEqual(n, 2)
        moments, _ = stats.live_latencies(rows, events, self.W, self.D, 2000, 10_000)
        self.assertEqual(moments, {2100: 350})

    def test_windows_closing_together_are_one_sample(self):
        events = [ev(0, 100, 100), ev(1, 1600, 1600)]
        rows = [[0, 0, 1, 1.0, 1900, 1], [0, 1, 1, 1.0, 1900, 1],
                [0, 2, 1, 1.0, 1950, 2]]
        moments, n = stats.live_latencies(rows, events, self.W, self.D, 0, 10_000)
        self.assertEqual(moments, {1600: 350})  # the last receipt counts
        self.assertEqual(n, 3)

    def test_check_windows_catches_wrong_missing_and_extra_rows(self):
        events = [ev(0, 1100, 1100, key=1, value=4), ev(1, 2600, 2600, key=1, value=6)]
        ref = stats.window_reference(events, self.W, self.S)
        good = [[500, 1, 1, 4.0, 0, 1], [1000, 1, 1, 4.0, 0, 1]]
        self.assertEqual(stats.check_windows(good, ref, 2100, self.W), (2, 0))
        wrong = [[500, 1, 1, 5.0, 0, 1], [1000, 1, 1, 4.0, 0, 1]]
        self.assertEqual(stats.check_windows(wrong, ref, 2100, self.W), (2, 1))
        self.assertEqual(stats.check_windows(good[:1], ref, 2100, self.W), (2, 1))
        extra = good + [[-3_600_000, 1, 1, 9.0, 0, 1]]
        self.assertEqual(stats.check_windows(extra, ref, 2100, self.W), (3, 1))

    def test_backlog_growth(self):
        self.assertFalse(stats.backlog_grows([900, 1100, 1000, 950, 1050, 1000], 2000))
        self.assertTrue(stats.backlog_grows([500, 600, 2000, 3000, 5000, 7000], 2000))


class DrainChecks(unittest.TestCase):
    """Each drain must consume the whole backlog and emit its windows."""
    W, S = 1000, 500

    def res(self, **drain):
        backlog = [ev(0, 1100, 1100, key=1, value=4), ev(1, 2600, 2600, key=1, value=6),
                   ev(2, 2700, 2700 - 3_600_000, key=1, value=9, kind=2)]
        rows = [[500, 1, 1, 4.0, 0, 1], [1000, 1, 1, 4.0, 0, 1]]
        d = {"events": 3, "watermark": "1970-01-01T00:00:02.100Z", "rows": rows}
        d.update(drain)
        return {"backlog": backlog, "drain": d}

    def test_right_drain_passes(self):
        self.assertEqual(run.drain_checks(self.res(), self.W, self.S), (3, 0))

    def test_lost_events_wrong_and_missing_rows_fail(self):
        self.assertEqual(run.drain_checks(self.res(events=2), self.W, self.S), (3, 1))
        wrong = [[500, 1, 1, 4.0, 0, 1], [1000, 1, 2, 13.0, 0, 1]]
        self.assertEqual(run.drain_checks(self.res(rows=wrong), self.W, self.S), (3, 1))
        self.assertEqual(run.drain_checks(self.res(rows=[]), self.W, self.S), (3, 2))

    def test_every_drain_of_a_traced_run_is_checked(self):
        res = self.res()
        res["plain_drain"] = [dict(res["drain"], rows=[])]
        res["one_core_drain"] = dict(res["drain"], events=0)
        self.assertEqual(run.drain_checks(res, self.W, self.S), (9, 3))


class AlteredAnswers(unittest.TestCase):
    """A deliberately altered expected answer must raise failed_frac."""

    def setUp(self):
        import pandas as pd
        self.pd = pd
        self.tmp = tempfile.TemporaryDirectory()
        t = self.tmp.name
        self.data = os.path.join(t, "data")
        os.makedirs(self.data)
        for name in run.load_check().TABLES:
            pd.DataFrame({"k": [1, 2, 3], "v": [1.5, 2.5, 3.5]}).to_parquet(
                os.path.join(self.data, f"{name}.parquet"))
        self.rundir = os.path.join(t, "run")
        os.makedirs(os.path.join(self.rundir, "verify"))
        with open(os.path.join(self.rundir, "verify", "oracle_sql.json"), "w") as f:
            f.write('{"with_oracle": "SELECT k, v FROM region"}')
        self.work, run.WORK = run.WORK, os.path.join(t, "work")

    def tearDown(self):
        run.WORK = self.work
        self.tmp.cleanup()

    def verify(self, with_oracle, without, expected):
        for name, df in (("with_oracle", with_oracle), ("no_oracle", without)):
            df.to_parquet(os.path.join(self.rundir, "verify", name))
        res = {"verify": [{"query": "with_oracle", "err": None},
                          {"query": "no_oracle", "err": None}]}
        failed = run.verify_batch(res, self.data, self.rundir, expected)
        return len(failed) / len(res["verify"])

    def test_altered_answers_raise_failed_frac(self):
        pd = self.pd
        right = pd.DataFrame({"k": [3, 1, 2], "v": [3.5, 1.5, 2.5]})
        expected = {"no_oracle": list(run.content_hash(right))}
        self.assertEqual(self.verify(right, right, expected), 0.0)
        altered = right.copy()
        altered.loc[0, "v"] = 3.25
        self.assertEqual(self.verify(altered, right, expected), 0.5)
        self.assertEqual(self.verify(right, altered, expected), 0.5)
        self.assertEqual(self.verify(altered, altered, expected), 1.0)


class Verdicts(unittest.TestCase):
    SPEC = {"name": "wall_s", "better": "lower", "bound": 0.1}

    def test_unresolved_when_spread_exceeds_bound(self):
        noisy = [1.0, 1.5, 0.6, 1.2, 0.8, 1.4, 0.7, 1.0]
        self.assertEqual(compare.verdict(self.SPEC, noisy, noisy), "unresolved")

    def test_same_better_worse(self):
        a = [1.0, 1.01, 0.99, 1.0, 1.02, 0.98]
        self.assertEqual(compare.verdict(self.SPEC, a, [x * 1.05 for x in a]), "same")
        self.assertEqual(compare.verdict(self.SPEC, a, [x * 1.3 for x in a]), "worse")
        self.assertEqual(compare.verdict(self.SPEC, a, [x * 0.7 for x in a]), "better")


if __name__ == "__main__":
    unittest.main()
