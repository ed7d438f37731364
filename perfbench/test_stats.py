"""Tests of the benchmark's reporting rules and its freshness harness.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The last test builds the benchmark and runs the engine-side self-test
(a small stream whose last real event is a delete); it is skipped when
no Spark distribution is installed.
"""
import shutil
import unittest

import build
import run
import stats


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.supported_percentile(100), 90)
        self.assertEqual(stats.supported_percentile(99), 75)
        self.assertEqual(stats.supported_percentile(1000), 99)
        self.assertEqual(stats.supported_percentile(999), 90)
        self.assertEqual(stats.supported_percentile(10000), 99.9)
        self.assertEqual(stats.supported_percentile(40), 75)
        self.assertEqual(stats.supported_percentile(20), 50)
        self.assertIsNone(stats.supported_percentile(19))

    def test_interpolated_percentile(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 4.6)
        self.assertAlmostEqual(stats.percentile([1, 2], 50), 1.5)


class QueryWorkloadSummary(unittest.TestCase):
    def test_per_query_medians_and_pass_durations(self):
        names = ["a", "b", "b", "a", "a", "b"]
        ms = [10, 100, 120, 30, 20, 110]
        med, passes = stats.per_query(names, ms)
        self.assertEqual(med, {"a": 20, "b": 110})
        self.assertEqual(passes, [110, 150, 130])

    def test_latency_is_taken_across_queries(self):
        raw = {"op_names": ["a", "b", "c"] * 2, "op_ms": [10, 20, 300, 12, 22, 280],
               "setup_s": 1.0, "peak_rss_mb": 5.0}
        m, _, unseen = stats.end_to_end("kql_interactive", raw)
        self.assertEqual(m["latency_p50_ms"], 21)
        self.assertAlmostEqual(m["latency_tail_ms"], 21 + 0.8 * (290 - 21))
        self.assertAlmostEqual(m["throughput_per_s"], 3 / 0.322)
        self.assertEqual(unseen, 0)
        self.assertEqual(set(m), set(stats.END_TO_END_UNITS))


def span(i, parent, start, end, name="x"):
    return (i, parent, 1, name, start, end)


class SelfTime(unittest.TestCase):
    def test_children_subtracted_once_where_they_overlap(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60)]
        self.assertEqual(stats.self_times(spans), {1: 50, 2: 30, 3: 30})

    def test_child_clipped_to_parent_and_grandchildren_ignored(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 130), span(3, 2, 95, 100)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 90)   # only 90..100 of the child lies inside
        self.assertEqual(st[2], 35)   # its own child covers 5 of 40
        self.assertEqual(st[3], 5)

    def test_leaf_self_time_is_duration(self):
        self.assertEqual(stats.self_times([span(7, 0, 3, 11)]), {7: 8})


class Freshness(unittest.TestCase):
    # two batches: batch 0 ingests lines 0..3, batch 1 lines 4..6
    batches = [(0, 4), (1, 3)]

    def test_event_visible_at_first_read_of_a_version_holding_it(self):
        lines = [(i, 100 + i, True) for i in range(7)]
        reads = [(500, 0, 1.0), (700, 1, 1.0)]
        fresh, unseen = stats.freshness(lines, self.batches, reads)
        self.assertEqual(unseen, 0)
        self.assertEqual(fresh, [400, 399, 398, 397, 596, 595, 594])

    def test_replays_are_not_new_events(self):
        lines = [(0, 100, True), (1, 100, False), (2, 101, True), (3, 90, False)]
        fresh, unseen = stats.freshness(lines, [(0, 4)], [(200, 0, 1.0)])
        self.assertEqual(fresh, [100, 99])
        self.assertEqual(unseen, 0)

    def test_trailing_delete_is_matched_by_position_not_by_lsn(self):
        # the last line is a delete: it leaves no row (so no lsn) in the
        # snapshot, but a version that ingested it still counts it
        lines = [(0, 10, True), (1, 20, True)]
        fresh, unseen = stats.freshness(lines, [(0, 2)], [(50, 0, 1.0)])
        self.assertEqual((fresh, unseen), ([40, 30], 0))

    def test_unread_events_are_reported_unseen(self):
        lines = [(i, 0, True) for i in range(7)]
        fresh, unseen = stats.freshness(lines, self.batches, [(10, 0, 1.0)])
        self.assertEqual((len(fresh), unseen), (4, 3))

    def test_an_older_version_read_later_does_not_undo_visibility(self):
        lines = [(i, 0, True) for i in range(7)]
        fresh, unseen = stats.freshness(lines, self.batches, [(10, 1, 1.0), (20, 0, 1.0)])
        self.assertEqual((fresh, unseen), ([10] * 7, 0))

    def test_version_without_progress_event_uses_the_latest_batch_below(self):
        self.assertEqual(stats.freshness([(5, 0, True)], [(0, 4), (2, 3)], [(9, 1, 1.0)]), ([], 1))
        self.assertEqual(stats.freshness([(5, 0, True)], [(0, 4), (2, 3)], [(9, 3, 1.0)]), ([9], 0))


class Generator(unittest.TestCase):
    def test_lateness_from_due_time_and_backlog_at_batch_start(self):
        raw = {"files": [(100, 100, 10), (200, 230, 20), (300, 301, 30)],
               "batches": [(0, 5, 0, 0, 50, 0, 0, 0, 0, 0, 0, 0),
                           (1, 10, 0, 250, 50, 0, 0, 0, 0, 0, 0, 0),
                           (2, 15, 0, 400, 60, 0, 0, 0, 0, 0, 0, 0)],
               "live_batch0": 0, "lines": [], "completed": 1}
        layer = stats.per_layer("cdc_live", raw, {"latency_p50_ms": 1.0})
        self.assertEqual(layer["gen.lateness_ms"], 30)
        # at 250 ms 20 lines had landed and 5 were ingested; at 400 ms 30 and 15
        self.assertEqual(layer["sources.backlog_events"], 15)
        self.assertEqual(set(layer), set(stats.PER_LAYER_UNITS))


@unittest.skipUnless(shutil.which("java"), "needs java")
class EngineSelfTest(unittest.TestCase):
    def test_stream_ending_in_a_delete_terminates_and_matches_the_model(self):
        try:
            classes = build.build()
        except build.BuildError as e:
            self.skipTest(str(e))
        work = build.BUILD_DIR / "runs" / "selftest"
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        try:
            rc = run.jvm(classes, work, ["selftest", str(work)], 150)
            log = (work / "jvm.log").read_text(errors="replace")
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(rc, 0, log[-3000:])
        self.assertNotIn("FAIL ", log)
        self.assertEqual(log.count("ok  "), 5, log[-3000:])


if __name__ == "__main__":
    unittest.main()
