"""Tests for the benchmark's own arithmetic (perfbench/metrics.py).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(200), 95)   # rank 190, 10 beyond
        self.assertEqual(metrics.tail_percentile(199), 90)   # p95: rank 190, 9 beyond
        self.assertEqual(metrics.tail_percentile(100), 90)   # rank 90, 10 beyond
        self.assertEqual(metrics.tail_percentile(92), 85)    # p90: rank 83, 9 beyond
        self.assertEqual(metrics.tail_percentile(26), 60)    # rank 16, 10 beyond
        self.assertIsNone(metrics.tail_percentile(19))       # p50: rank 10, 9 beyond

    def test_tail_value_is_a_sample_at_that_rank(self):
        xs = list(range(1, 201))        # 1..200
        self.assertEqual(metrics.tail(xs), (95, 190))
        self.assertEqual(metrics.tail(list(reversed(xs))), (95, 190))
        p, v = metrics.tail(list(range(1, 101)))
        self.assertEqual((p, v), (90, 90))
        self.assertEqual(sum(1 for x in range(1, 101) if x > v), 10)

    def test_too_few_samples_fall_back_to_the_median_rank(self):
        self.assertEqual(metrics.tail([5, 1, 3]), (50, 3))

    def test_p50_is_a_sample_and_never_above_the_tail(self):
        self.assertEqual(metrics.p50([3, 1, 2]), 2)
        self.assertEqual(metrics.p50([4, 1, 2, 3]), 2)
        xs = [float(x) for x in range(22)]
        self.assertLessEqual(metrics.p50(xs), metrics.tail(xs)[1])

    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1.0, 100.0]), 10.0)
        self.assertAlmostEqual(metrics.geomean([4.0]), 4.0)


class DueTimeFreshness(unittest.TestCase):
    def test_late_generator_counts_its_lateness(self):
        # due at 1000, written 300 ms late, committed at 1500: the reader
        # waited 500 ms from the schedule, not 200 ms from the write
        log = [{"name": "a", "due_ms": 1000.0, "written_ms": 1300.0},
               {"name": "b", "due_ms": 1100.0, "written_ms": 1100.0}]
        fresh, missing = metrics.freshness(log, {"a": 1500.0, "b": 1500.0})
        self.assertEqual(fresh, [500.0, 400.0])
        self.assertEqual(missing, [])

    def test_undelivered_file_is_reported_not_measured(self):
        log = [{"name": "a", "due_ms": 0.0, "written_ms": 0.0}]
        self.assertEqual(metrics.freshness(log, {}), ([], ["a"]))

    def test_lag_counts_written_but_undelivered_files(self):
        log = [{"name": n, "due_ms": t, "written_ms": t}
               for n, t in (("a", 0.0), ("b", 10.0), ("c", 20.0), ("d", 500.0))]
        delivered = {"a": 100.0, "b": 100.0, "c": 300.0, "d": 600.0}
        # at 100: a, b, c written; c not yet delivered -> 1 outstanding
        # at 300: nothing outstanding; at 600: nothing outstanding
        self.assertEqual(metrics.lag_files_max(log, delivered), 1)


class FileToBatch(unittest.TestCase):
    def _log(self, d, name, lines):
        with open(os.path.join(d, name), "w") as f:
            f.write("v1\n" + "\n".join(json.dumps(x) for x in lines) + "\n")

    def test_source_log_with_compaction(self):
        with tempfile.TemporaryDirectory() as d:
            self._log(d, "0", [{"path": "file:///x/c00000.json", "timestamp": 1, "batchId": 0}])
            self._log(d, "1", [{"path": "file:///x/c00001.json", "timestamp": 2, "batchId": 1},
                               {"path": "file:///x/c00002.json", "timestamp": 2, "batchId": 1}])
            # a compact file repeats the earlier entries; a temp file is ignored
            self._log(d, "2.compact", [
                {"path": "file:///x/c00000.json", "timestamp": 1, "batchId": 0},
                {"path": "file:///x/c00001.json", "timestamp": 2, "batchId": 1},
                {"path": "file:///x/c00002.json", "timestamp": 2, "batchId": 1},
                {"path": "file:///x/c00003.json", "timestamp": 3, "batchId": 2}])
            self._log(d, ".3.tmp", [{"path": "file:///x/junk.json", "timestamp": 4, "batchId": 3}])
            self.assertEqual(metrics.read_source_log(d), {
                "c00000.json": 0, "c00001.json": 1, "c00002.json": 1, "c00003.json": 2})

    def test_file_maps_to_first_batch_covering_its_offset(self):
        progress = [
            # no-data batch 4 repeats offset 1; batch 5 takes offsets 2 and 3
            {"query": "q", "batch": 5, "start_ms": 5000, "end_offsets": ['{"logOffset":3}'],
             "duration_ms": {"triggerExecution": 250}},
            {"query": "q", "batch": 3, "start_ms": 3000, "end_offsets": ['{"logOffset":1}'],
             "duration_ms": {"triggerExecution": 100}},
            {"query": "q", "batch": 4, "start_ms": 4000, "end_offsets": ['{"logOffset":1}'],
             "duration_ms": {"triggerExecution": 10}},
            {"query": "other", "batch": 3, "start_ms": 1, "end_offsets": ['{"logOffset":9}'],
             "duration_ms": {"triggerExecution": 1}},
        ]
        commits = metrics.batch_commits(progress, "q", since_ms=0)
        self.assertEqual(commits, [(3, 1, 3100), (4, 1, 4010), (5, 3, 5250)])
        got = metrics.delivery_times({"a": 0, "b": 1, "c": 2, "d": 3, "e": 4}, commits)
        self.assertEqual(got, {"a": 3100, "b": 3100, "c": 5250, "d": 5250})

    def test_warmup_batch_of_the_same_name_is_not_a_delivery(self):
        # the warmup ran a query of the same name on its own checkpoint:
        # its batch 0 took offset 0 and committed at 1100, before the run
        # began at 2000; the run's own batch 0 also ends at offset 0
        progress = [
            {"query": "q", "batch": 0, "start_ms": 1000, "end_offsets": ['{"logOffset":0}'],
             "duration_ms": {"triggerExecution": 100}},
            {"query": "q", "batch": 0, "start_ms": 6000, "end_offsets": ['{"logOffset":0}'],
             "duration_ms": {"triggerExecution": 400}},
            {"query": "q", "batch": 1, "start_ms": 8000, "end_offsets": ['{"logOffset":1}'],
             "duration_ms": {"triggerExecution": 300}},
        ]
        commits = metrics.batch_commits(progress, "q", since_ms=2000)
        self.assertEqual(commits, [(0, 0, 6400), (1, 1, 8300)])
        delivered = metrics.delivery_times({"a": 0, "b": 1}, commits)
        self.assertEqual(delivered, {"a": 6400, "b": 8300})
        log = [{"name": "a", "due_ms": 5000.0, "written_ms": 5000.0},
               {"name": "b", "due_ms": 7000.0, "written_ms": 7000.0}]
        self.assertEqual(metrics.freshness(log, delivered), ([1400.0, 1300.0], []))


if __name__ == "__main__":
    unittest.main()
