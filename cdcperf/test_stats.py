"""Self-tests of the benchmark's statistics: python3 cdcperf/test_stats.py"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 41))  # 40 samples
        v, pct, n = stats.tail(xs)
        self.assertEqual(n, 40)
        self.assertEqual(v, 30)  # 31..40 are the ten beyond it
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(pct, 75.0)

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 11, 12]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))
        self.assertEqual(stats.tail(xs)[0], 2)

    def test_too_few_samples_gives_the_maximum(self):
        self.assertEqual(stats.tail([3, 1, 2]), (3, 100.0, 3))
        self.assertEqual(stats.tail(list(range(10)))[0], 9)
        self.assertEqual(stats.tail([]), (None, None, 0))


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            {"id": 1, "parent": 0, "t0": 0, "t1": 100},
            {"id": 2, "parent": 1, "t0": 10, "t1": 40},
            {"id": 3, "parent": 1, "t0": 30, "t1": 50},   # overlaps its sibling
            {"id": 4, "parent": 2, "t0": 15, "t1": 20},   # grandchild: not subtracted from 1
            {"id": 5, "parent": 1, "t0": 90, "t1": 120},  # runs past its parent's end
        ]
        self_t = stats.self_times(spans)
        self.assertEqual(self_t[1], 100 - 40 - 10)
        self.assertEqual(self_t[2], 30 - 5)
        self.assertEqual(self_t[4], 5)

    def test_union_length_clips(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)], 2, 25), 13 + 5)
        self.assertEqual(stats.union_length([], 0, 10), 0)


class StallDetection(unittest.TestCase):
    def batch(self, prev, version, hook):
        return {"prev_version": prev, "version": version, "hook_commits": hook}

    def test_own_commit_is_ordinary(self):
        self.assertFalse(stats.is_stall(self.batch(7, 8, 0)))

    def test_maintenance_commit_between_callbacks_is_a_stall(self):
        self.assertTrue(stats.is_stall(self.batch(7, 9, 0)))

    def test_read_round_commits_are_not_stalls(self):
        # an explicit compaction in the read round moved the head by one
        self.assertFalse(stats.is_stall(self.batch(7, 9, 1)))
        self.assertTrue(stats.is_stall(self.batch(7, 10, 1)))


class Steadiness(unittest.TestCase):
    def judge(self, xs, warm=None):
        return stats.steadiness({"lookup_s": list(enumerate(xs))}, {"lookup": warm} if warm else {})["lookup_s"]

    def test_flat_series_is_steady(self):
        r, n, w, ok = self.judge([1.0 + 0.01 * (t % 3) for t in range(12)], warm=[1.5, 1.1, 1.0])
        self.assertTrue(ok)
        self.assertAlmostEqual(w, 1.01)

    def test_warming_within_the_window_is_unsteady(self):
        r, n, w, ok = self.judge([2.0 - 0.11 * t for t in range(12)])
        self.assertLess(r, 1 / (1 + stats.IN_RUN_LIMIT))
        self.assertFalse(ok)

    def test_warming_past_the_warm_up_best_is_unsteady(self):
        r, n, w, ok = self.judge([1.5] * 6 + [0.9] * 6, warm=[2.0, 1.6, 1.5])
        self.assertLess(r, 1 / (1 + stats.IN_RUN_LIMIT))
        self.assertFalse(ok)

    def test_recovering_to_the_warm_up_best_is_steady(self):
        # a slow first round, then back to the speed warm-up already reached
        r, n, w, ok = self.judge([1.6] * 6 + [1.0] * 6, warm=[1.5, 1.0, 1.0])
        self.assertLess(r, 1 / (1 + stats.IN_RUN_LIMIT))
        self.assertTrue(ok)

    def test_a_shift_between_rounds_is_steady(self):
        # the thirds of a two-round window: the second round a fifth faster
        r, n, w, ok = self.judge([1.0] * 6 + [0.8] * 6)
        self.assertAlmostEqual(r, 0.8)
        self.assertTrue(ok)

    def test_faster_than_the_warm_up_is_unsteady(self):
        # warm-up stopped while the type still had half to go
        r, n, w, ok = self.judge([0.6, 0.62, 0.59], warm=[2.0, 1.2, 1.0])
        self.assertLess(w, 1 / (1 + stats.IN_RUN_LIMIT))
        self.assertFalse(ok)

    def test_a_shift_between_warm_up_and_window_is_steady(self):
        r, n, w, ok = self.judge([0.76, 0.75, 0.77], warm=[2.0, 1.2, 1.0])
        self.assertAlmostEqual(w, 0.76)
        self.assertTrue(ok)

    def test_sparse_series_is_judged_against_the_warm_up_only(self):
        r, n, w, ok = self.judge([2.0, 1.6, 1.0], warm=[1.2, 1.1])
        self.assertAlmostEqual(r, 0.5)
        self.assertTrue(ok)
        self.assertIsNone(stats.trend([(0, 1.0), (1, 2.0)]))

    def test_slowing_series_is_reported_not_judged(self):
        r, n, w, ok = self.judge([1.0 + 0.1 * t for t in range(12)], warm=[1.0])
        self.assertGreater(r, 1 + stats.TREND_BOUND)
        self.assertTrue(ok)


class Drift(unittest.TestCase):
    def rounds(self, first, last):
        keys = ("live_rows", "files", "dv_rows")
        return {"rounds": [{"phase": "warm", **dict(zip(keys, (1, 1, 1)))},
                           {"phase": "window", **dict(zip(keys, first))},
                           {"phase": "window", **dict(zip(keys, (0, 0, 0)))},
                           {"phase": "window", **dict(zip(keys, last))}]}

    def test_first_and_last_window_round(self):
        d = stats.drift(self.rounds((50000, 16, 3500), (49800, 16, 3600)))
        self.assertEqual(d, {"live_rows": (50000, 49800), "files": (16, 16), "dv_rows": (3500, 3600)})
        self.assertEqual(stats.drifted(d), [])

    def test_every_quantity_is_judged(self):
        d = stats.drift(self.rounds((50000, 16, 3500), (56000, 20, 4000)))
        self.assertEqual(stats.drifted(d), ["live_rows", "files", "dv_rows"])

    def test_zero_stays_zero(self):
        self.assertEqual(stats.drifted({"dv_rows": (0, 0)}), [])


class WriteAmp(unittest.TestCase):
    def test_counts_the_streams_writes_only(self):
        batch = {"phase": "window", "events": 100, "s": 1.0, "cpu": 2.0, "t0": 0, "version": 2, "prev_version": 1,
                 "hook_commits": 0, "traced": False}
        raw = {"setup_s": [1.0, 2.0, 3.0], "files_per_trigger": 2, "wal_bytes": [10] * 8,
               "batches": [batch, batch], "ops": [{"kind": "compact", "phase": "window", "s": 1.0, "cpu": 2.0, "t0": 0,
                                                  "written": {"data": 10 ** 6}}],
               "window": {"start": {"batch": 1, "engine_written": 500},
                          "end": {"batch": 3, "engine_written": 560}}}
        m, timings, counts, series = stats.end_to_end(raw)
        # 200 changes over 4 CPU-seconds of batches
        self.assertAlmostEqual(timings["ingest_events_per_cpu_s"][0], 50.0)
        self.assertAlmostEqual(timings["ingest_eps"][0], 100.0)
        # batches 2 and 3 consumed WAL files 2..5: 40 bytes
        self.assertAlmostEqual(m["write_amp"][0], 60 / 40)
        self.assertEqual(m["setup_s"][0], 2.0)
        self.assertEqual(sorted(m), sorted(stats.END_TO_END))


if __name__ == "__main__":
    unittest.main()
