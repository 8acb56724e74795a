"""Unit tests for the benchmark's reduction rules. Run from the repository root:

    python3 -m unittest discover -s bench/tests
"""

import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import analysis  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(analysis.percentile(list(range(1, 100)), 0.9))
        self.assertEqual(analysis.percentile(list(range(1, 101)), 0.9), 90)

    def test_median_needs_twenty_samples(self):
        self.assertIsNone(analysis.percentile(list(range(1, 20)), 0.5))
        self.assertEqual(analysis.percentile(list(range(20, 0, -1)), 0.5), 10)

    def test_empty(self):
        self.assertIsNone(analysis.percentile([], 0.5))


def _log_line(name, batch):
    return json.dumps({"path": f"file:///w/stream-src/{name}", "size": 1,
                       "isDir": False, "modificationTime": 0, "blockReplication": 1,
                       "blockSize": 1, "action": "add", "batchId": batch})


class SourceLogToLatency(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        log = self.dir.name
        with open(os.path.join(log, "0"), "w") as f:
            f.write("v1\n" + _log_line("f00000.parquet", 0) + "\n")
        with open(os.path.join(log, "1"), "w") as f:
            f.write("v1\n" + _log_line("f00001.parquet", 1) + "\n"
                    + _log_line("f00002.parquet", 1) + "\n")
        # a compacted log repeats earlier batches' entries with their own batch ids
        with open(os.path.join(log, "2.compact"), "w") as f:
            f.write("v1\n" + "\n".join(_log_line(n, b) for n, b in [
                ("f00000.parquet", 0), ("f00001.parquet", 1), ("f00002.parquet", 1),
                ("f00003.parquet", 2)]) + "\n")
        self.files = [
            {"name": "f00000.parquet", "phase": "steady", "scheduled_ms": 1000.0,
             "released_ms": 1001.0, "turns": 10},
            {"name": "f00001.parquet", "phase": "steady", "scheduled_ms": 1100.0,
             "released_ms": 1100.5, "turns": 10},
            {"name": "f00002.parquet", "phase": "burst", "group": 0, "scheduled_ms": 1200.0,
             "released_ms": 1200.2, "turns": 30},
            {"name": "f00003.parquet", "phase": "burst", "group": 0, "scheduled_ms": 1200.0,
             "released_ms": 1200.3, "turns": 30},
            {"name": "f00004.parquet", "phase": "steady", "scheduled_ms": 1300.0,
             "released_ms": 1300.0, "turns": 10},
        ]
        self.batches = [
            {"batch": 0, "start_ms": 1010, "duration_ms": {"triggerExecution": 400},
             "input_rows": 10},
            {"batch": 1, "start_ms": 1410, "duration_ms": {"triggerExecution": 500},
             "input_rows": 40},
            {"batch": 2, "start_ms": 1910, "duration_ms": {"triggerExecution": 300},
             "input_rows": 30},
        ]

    def tearDown(self):
        self.dir.cleanup()

    def test_log_maps_files_to_first_batch(self):
        self.assertEqual(analysis.parse_source_log(self.dir.name), {
            "f00000.parquet": 0, "f00001.parquet": 1, "f00002.parquet": 1,
            "f00003.parquet": 2})

    def test_latency_is_batch_end_minus_schedule(self):
        consumed = analysis.parse_source_log(self.dir.name)
        lat = analysis.file_latencies(self.files, self.batches, consumed)
        self.assertEqual(lat, [0.41, 0.81, 0.71, 1.01, None])

    def test_drain_spans_the_batches_reading_burst_files(self):
        consumed = analysis.parse_source_log(self.dir.name)
        # burst 0 is read by batches 1 and 2: 70 rows (with the paced f00001) from 1410 ms
        # to 2210 ms
        self.assertEqual(analysis.drain_rates(self.files, self.batches, consumed), [87.5])
        consumed.pop("f00003.parquet")
        self.assertIsNone(analysis.drain_rates(self.files, self.batches, consumed))

    def test_drain_rates_are_per_burst_in_burst_order(self):
        consumed = analysis.parse_source_log(self.dir.name)
        files = self.files + [
            {"name": "f00001.parquet", "phase": "burst", "group": 1, "turns": 20}]
        files[1] = dict(files[1], phase="steady")
        rates = analysis.drain_rates(
            [f for i, f in enumerate(files) if i != 1], self.batches, consumed)
        # burst 1 is f00001 alone, read by batch 1 (40 rows in 500 ms)
        self.assertEqual(rates, [87.5, 80.0])

    def test_backlog_counts_released_unconsumed_paced_files(self):
        consumed = analysis.parse_source_log(self.dir.name)
        # batch 0 starts with f00000 waiting, batch 1 with f00001 and the never-read
        # f00004, batch 2 with f00004; burst files are not counted
        self.assertEqual(analysis.backlog_max(self.files, self.batches, consumed), 2)
        self.assertEqual(analysis.backlog_max(self.files, self.batches[:1], consumed), 1)


class Gates(unittest.TestCase):
    def _backfill(self, passes):
        return {"workload": "batch_backfill", "turns": 1000, "reference": 50,
                "setups": [{"total_s": 1.0}], "passes": passes}

    def test_backfill_gate_rejects_wrong_counts(self):
        good = {"wall_s": 1.0, "manifest_rows": 50, "read_rows": 50}
        self.assertTrue(analysis.gate_backfill(good, 50))
        self.assertFalse(analysis.gate_backfill(dict(good, manifest_rows=49), 50))
        self.assertFalse(analysis.gate_backfill(dict(good, read_rows=51), 50))
        self.assertFalse(analysis.gate_backfill(good, 51))
        self.assertFalse(analysis.gate_backfill({"error": "boom"}, 50))

    def test_wrong_count_fails_the_op_and_the_run(self):
        passes = [{"wall_s": 1.0, "manifest_rows": 50, "read_rows": 50},
                  {"wall_s": 2.0, "manifest_rows": 50, "read_rows": 49}]
        metrics, attempted, failed, correct, _ = analysis.end_to_end(self._backfill(passes))
        self.assertEqual((attempted, failed, correct), (2, 1, False))
        self.assertEqual(metrics["detect_p50_s"], 1.0)

    def test_stream_gate(self):
        self.assertTrue(analysis.gate_stream({"error": None, "stream_matches": 5, "reference": 5}))
        self.assertFalse(analysis.gate_stream({"error": None, "stream_matches": 4, "reference": 5}))
        self.assertFalse(analysis.gate_stream({"error": "x", "stream_matches": 5, "reference": 5}))


if __name__ == "__main__":
    unittest.main()
