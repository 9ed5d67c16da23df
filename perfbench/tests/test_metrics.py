"""Self-tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


def progress(q, batch, start, trigger_ms, rows):
    return {"q": q, "batch": batch, "start": start, "rows": rows,
            "dur": {"triggerExecution": trigger_ms, "addBatch": trigger_ms // 2}}


class PercentileRule(unittest.TestCase):
    def test_linear_between_closest_ranks(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 90.1)
        self.assertEqual(metrics.percentile(xs, 100), 100)
        self.assertEqual(metrics.percentile([7.0], 90), 7.0)
        self.assertEqual(metrics.percentile([], 90), 0.0)

    def test_few_samples_do_not_collapse_to_the_maximum(self):
        # Nine refreshes: p90 lies between the two slowest.
        xs = [100] * 8 + [1000]
        self.assertAlmostEqual(metrics.percentile(xs, 90), 100 + 0.2 * 900)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.percentile([5, 1, 4, 2, 3], 90), 4.6)

    def test_ticks_not_events_decide_the_percentile(self):
        # 400 events shown by 16 view ticks: not even p50 has ten ticks beyond.
        ticks = [(1000 * k, 1000 * k + 400) for k in range(16)]
        commits = [i * 15000 // 400 for i in range(400)]
        shown, _ = metrics.shown_times(commits, ticks, deadline=10 ** 6)
        self.assertEqual(len(set(shown)), 16)
        self.assertIsNone(metrics.highest_reportable(len(set(shown))))
        self.assertEqual(metrics.highest_reportable(len(shown)), 90.0)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(metrics.highest_reportable(19))
        self.assertEqual(metrics.highest_reportable(20), 50.0)
        self.assertEqual(metrics.highest_reportable(99), 50.0)
        self.assertEqual(metrics.highest_reportable(100), 90.0)
        self.assertEqual(metrics.highest_reportable(1000), 99.0)
        self.assertEqual(metrics.highest_reportable(10000), 99.9)


class FreshnessFromProgress(unittest.TestCase):
    def test_batches_take_events_in_cumulative_order(self):
        prog = [progress("ingest_prices", 0, 1000, 200, 3),
                progress("ingest_prices", 1, 2000, 300, 2)]
        self.assertEqual(metrics.commit_times(prog, 5), [1200, 1200, 1200, 2300, 2300])

    def test_snapshot_split_across_two_triggers(self):
        # A 4-message snapshot lands while batch 1 runs: two of its
        # messages ride batch 1, the other two batch 2.
        prog = [progress("ingest_prices", 1, 1000, 400, 3),   # 1 earlier event + 2 of the snapshot
                progress("ingest_prices", 2, 2000, 100, 2)]   # rest of the snapshot
        self.assertEqual(metrics.commit_times(prog, 5), [1400, 1400, 1400, 2100, 2100])

    def test_idle_triggers_and_other_queries_are_ignored(self):
        idle = {"q": "ingest_prices", "batch": 1, "start": 1500, "rows": 0,
                "dur": {"triggerExecution": 5}}
        prog = [progress("ingest_prices", 0, 1000, 200, 1), idle,
                progress("qmap_live", 0, 1000, 900, 1), progress("ingest_prices", 2, 2000, 200, 1)]
        self.assertEqual(metrics.commit_times(prog, 2), [1200, 2200])

    def test_unread_events_have_no_commit(self):
        self.assertEqual(metrics.commit_times([progress("ingest_prices", 0, 0, 10, 1)], 3),
                         [10, None, None])

    def test_shown_by_first_tick_starting_after_commit(self):
        # A tick that starts before the commit read the old warehouse.
        ticks = [(1000, 1500), (2000, 2600), (3000, 3400)]
        shown, missed = metrics.shown_times([1200, 2000, 2100], ticks, deadline=10000)
        self.assertEqual(shown, [2600, 2600, 3400])
        self.assertEqual(missed, 0)

    def test_live_trickle_end_to_end(self):
        raw = {"workload": "live_trickle", "warmup_events": 1, "deadline": 9000,
               "events": [[900, 901, 50], [950, 951, 50], [1100, 1101, 50]],
               "progress": [progress("ingest_prices", 0, 1000, 200, 2),
                            progress("ingest_prices", 1, 2000, 200, 1),
                            progress("qmap_live", 0, 1000, 300, 2),
                            progress("qmap_live", 1, 2000, 500, 1)]}
        e = metrics.live_end_to_end(raw)
        self.assertEqual(e["fresh_wh"], [1200 - 950, 2200 - 1100])
        # event 1 committed at 1200: first tick starting after is (2000, 2500)
        # event 2 committed at 2200: no later tick, counted at the deadline
        self.assertEqual(e["fresh_dash"], [2500 - 950, 9000 - 1100])
        self.assertEqual(e["missed"], 1)
        # one ingest tick per windowed event; one view tick plus the deadline
        self.assertEqual((e["wh_ticks"], e["dash_ticks"]), (2, 2))

    def test_events_of_one_tick_count_as_one(self):
        raw = {"workload": "live_trickle", "warmup_events": 0, "deadline": 9000,
               "events": [[900, 901, 50], [950, 951, 50], [1100, 1101, 50]],
               "progress": [progress("ingest_prices", 0, 1200, 200, 3),
                            progress("qmap_live", 0, 2000, 300, 1)]}
        e = metrics.live_end_to_end(raw)
        self.assertEqual((len(e["fresh_wh"]), e["wh_ticks"], e["dash_ticks"]), (3, 1, 1))

    def test_dash_refresh_ticks_are_operations(self):
        raw = {"workload": "dash_refresh", "ops": [[0, 100, 1500], [1600, 1700, 3200]]}
        e = metrics.end_to_end(raw)
        self.assertEqual((e["wh_ticks"], e["dash_ticks"]), (2, 2))


class DeadlineCounting(unittest.TestCase):
    def test_never_shown_counts_at_deadline(self):
        shown, missed = metrics.shown_times([100, 5000], [(200, 300)], deadline=4000)
        self.assertEqual(shown, [300, 4000])
        self.assertEqual(missed, 1)

    def test_shown_after_deadline_counts_at_deadline(self):
        shown, missed = metrics.shown_times([100], [(200, 4500)], deadline=4000)
        self.assertEqual((shown, missed), ([4000], 1))

    def test_never_committed_counts_at_deadline(self):
        shown, missed = metrics.shown_times([None], [(200, 300)], deadline=4000)
        self.assertEqual((shown, missed), ([4000], 1))


class SpanSelfTime(unittest.TestCase):
    def test_children_subtracted_once_where_they_overlap(self):
        self.assertEqual(metrics.self_time((0, 100), [(10, 30), (20, 40), (60, 70)]), 100 - 40)

    def test_children_clipped_to_the_span(self):
        self.assertEqual(metrics.self_time((0, 100), [(-50, 10), (90, 150)]), 80)

    def test_no_children(self):
        self.assertEqual(metrics.self_time((5, 25), []), 20)

    def test_child_outside_span(self):
        self.assertEqual(metrics.self_time((0, 10), [(20, 30)]), 10)


if __name__ == "__main__":
    unittest.main()
