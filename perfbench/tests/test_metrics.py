"""Tests of the benchmark's own arithmetic: python3 -m unittest discover perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import layers  # noqa: E402
import metrics as M  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_interpolates_between_closest_ranks(self):
        xs = [10, 20, 30, 40, 50]
        self.assertEqual(M.percentile(xs, 50), 30)
        self.assertEqual(M.percentile(xs, 90), 46)
        self.assertEqual(M.percentile(xs, 0), 10)
        self.assertEqual(M.percentile(xs, 100), 50)

    def test_order_does_not_matter(self):
        self.assertEqual(M.percentile([3, 1, 2], 50), 2)

    def test_no_samples(self):
        self.assertIsNone(M.percentile([], 50))
        self.assertEqual(M.summarize([]), {"n": 0, "p50": None, "p90": None})

    def test_summary_reports_sample_count(self):
        s = M.summarize([5.0] * 7 + [9.0] * 3)
        self.assertEqual(s["n"], 10)
        self.assertEqual(s["p50"], 5.0)
        self.assertAlmostEqual(s["p90"], 9.0)


class Latency(unittest.TestCase):
    def test_measured_from_due_time_not_append_time(self):
        # record 1 was due at 100 but the generator only appended it at 400;
        # its batch committed at 1000, so it waited 900 ms, not 600 ms
        commit = {0: 1000.0, 1: 2500.0}
        first = M.first_commits([(1, 0), (2, 1)], commit)
        self.assertEqual(M.latencies([(1, 100.0), (2, 1500.0)], first), [900.0, 1000.0])

    def test_redelivery_keeps_first_commit(self):
        first = M.first_commits([(7, 1), (7, 0)], {0: 50.0, 1: 80.0})
        self.assertEqual(first, {7: 50.0})

    def test_uncommitted_records_have_no_latency(self):
        self.assertEqual(M.latencies([(1, 0.0)], {}), [])

    def test_batches_without_a_commit_time_are_ignored(self):
        self.assertEqual(M.first_commits([(1, 3)], {0: 1.0}), {})


class Lag(unittest.TestCase):
    def test_appended_minus_committed_at_each_commit(self):
        appends = [0, 1, 2, 3, 10, 11]
        commits = [5, 5, 5, 5, 12, 12]
        # at t=5: 4 appended, 4 committed; at t=12: 6 appended, 6 committed;
        # the lag is sampled at commits, so it never shows the 4 in flight
        self.assertEqual(M.max_lag(appends, commits), 0)

    def test_backlog_grows_when_commits_fall_behind(self):
        appends = [0, 1, 2, 3, 4, 5]
        commits = [2, 2, 6, 6]
        # at t=2: 3 appended, 2 committed -> 1; at t=6: 6 appended, 4 committed -> 2
        self.assertEqual(M.max_lag(appends, commits), 2)

    def test_no_commits(self):
        self.assertEqual(M.max_lag([1, 2], []), 0)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = {1: (0, 0.0, 10.0), 2: (1, 1.0, 3.0), 3: (1, 5.0, 9.0)}
        self.assertEqual(M.self_times(spans), {1: 4.0, 2: 2.0, 3: 4.0})

    def test_overlapping_children_count_once(self):
        spans = {1: (0, 0.0, 10.0), 2: (1, 1.0, 6.0), 3: (1, 4.0, 8.0)}
        self.assertEqual(M.self_times(spans)[1], 3.0)

    def test_children_are_clipped_to_the_parent(self):
        spans = {1: (0, 0.0, 10.0), 2: (1, 8.0, 15.0)}
        self.assertEqual(M.self_times(spans)[1], 8.0)

    def test_self_times_sum_to_the_root(self):
        spans = {1: (0, 0.0, 10.0), 2: (1, 2.0, 7.0), 3: (2, 3.0, 4.0)}
        self.assertEqual(sum(M.self_times(spans).values()), 10.0)

    def test_batch_phases_nest_under_the_enclosing_span(self):
        spans = [{"id": 1, "parent": 0, "name": "ingest.burst", "start_ms": 0.0,
                  "end_ms": 100.0, "thread": "main"},
                 {"id": 2, "parent": 0, "name": "streaming.sink_write", "start_ms": 22.0,
                  "end_ms": 28.0, "thread": "stream"}]
        progress = [{"timestamp_ms": 10.0, "duration_ms": {
            "triggerExecution": 30, "latestOffset": 5, "walCommit": 5, "addBatch": 20}}]
        tree = layers.span_tree(spans, progress)
        by_name = {n: (sid, p) for sid, (p, a, b, n, t) in tree.items()}
        batch, parent = by_name["streaming.batch"]
        self.assertEqual(parent, 1)
        self.assertEqual(by_name["sources.latest_offset"][1], batch)
        self.assertEqual(tree[2][0], by_name["streaming.add_batch"][0])
        self_t = M.self_times({sid: (p, a, b) for sid, (p, a, b, n, t) in tree.items()})
        self.assertEqual(self_t[1], 70.0)
        self.assertEqual(self_t[by_name["streaming.add_batch"][0]], 14.0)


class Names(unittest.TestCase):
    def test_valid_names(self):
        for n in ("setup_s", "ops.events.build_ms", "sources.latest_offset_ms.p50", "a-b.c_1"):
            self.assertTrue(M.valid_name(n), n)

    def test_invalid_names(self):
        for n in ("", ".x", "has space", "x/y", "a" * 65, "ümlaut"):
            self.assertFalse(M.valid_name(n), n)

    def test_every_declared_metric_is_valid(self):
        import run
        names = [n for n, _ in run.END_TO_END] + list(layers.UNITS)
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(M.valid_name(n), n)

    def test_benchmark_json_declares_what_the_benchmark_prints(self):
        import json
        import run
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..", "BENCHMARK.json")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, layers.UNITS)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.REPLICAS))


class Oracle(unittest.TestCase):
    def test_collapses_replays(self):
        for seq in (["m1", "m2", "m3"], ["m1", "m1", "m1", "m2", "m3"],
                    ["m1", "m2", "m1", "m2", "m3"], ["m1", "m2", "m3", "m2", "m3", "m4"],
                    ["m1", "m2", "m3", "m2", "m2", "m3", "m4"]):
            self.assertEqual(M.dedup_replays(seq),
                             [m for i, m in enumerate(seq) if m not in seq[:i]], seq)

    def test_reorderings_are_errors(self):
        for seq in (["m1", "m2", "m1", "m3"], ["m1", "m2", "m3", "m2", "m4"],
                    ["m1", "m2", "m2", "m1", "m3"], ["m1", "m2", "m3", "m3", "m2"]):
            with self.assertRaises(M.ReplayError, msg=str(seq)):
                M.dedup_replays(seq)

    def test_mismatches_per_key(self):
        sent = [("a", 1), ("a", 2), ("b", 3)]
        self.assertEqual(M.ingest_mismatches([("a", 1), ("a", 2), ("a", 1), ("a", 2), ("b", 3)],
                                             sent), {})
        bad = M.ingest_mismatches([("a", 2), ("a", 1), ("b", 3)], sent)
        self.assertEqual(set(bad), {"a"})


if __name__ == "__main__":
    unittest.main()
