"""Self-test of the benchmark's statistics and output handling.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402


class TailRule(unittest.TestCase):
    def test_leaves_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, beyond = metrics.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(beyond, 10)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_is_the_highest_such_percentile(self):
        for n in (11, 20, 37, 250):
            xs = [float(i) for i in range(n)]
            value, pct, beyond = metrics.tail(xs)
            self.assertEqual(sum(1 for x in xs if x > value), 10)
            # One rank higher would leave only nine samples beyond.
            self.assertEqual(sum(1 for x in xs if x > sorted(xs)[n - 10]), 9)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 0.5, 11.0]
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))
        self.assertEqual(metrics.tail(xs)[0], 1.0)

    def test_needs_more_than_ten_samples(self):
        with self.assertRaises(ValueError):
            metrics.tail([1.0] * 10)


class MediansAndQuartiles(unittest.TestCase):
    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_statistics(self):
        xs = [1.2, 0.9, 1.1, 1.0, 1.3, 0.95, 1.05, 1.15, 0.85, 1.25]
        self.assertEqual(metrics.quartiles(xs), statistics.quantiles(xs, n=4))
        q1, q2, q3 = metrics.quartiles(xs)
        self.assertAlmostEqual(metrics.iqr_share(xs), (q3 - q1) / q2)

    def test_iqr_share_of_constant_is_zero(self):
        self.assertEqual(metrics.iqr_share([2.0] * 10), 0.0)


def _raw(n=24):
    ops = []
    for i in range(n):
        traced = i % 2 == 1
        ops.append({"kind": "merge", "lat": 1.0 + i / 100, "cpu": 2.0, "rows": 100,
                    "changed": 100, "ok": True, "traced": traced,
                    "t0_ms": 1000 * i, "t1_ms": 1000 * i + 800,
                    "commit_bytes": 4000, "data_bytes": 90000, "data_files": 2,
                    "dvs_written": 2, "rows_written": 100, "ckpt_files": 1 if i == 9 else 0})
    counts = {str(i): {"jobs": 10, "tasks": 20, "cpu_s": 0.5, "gc_s": 0.01,
                       "shuffle_bytes": 1000, "scan_files": 40, "scan_bytes": 10 ** 7,
                       "scan_rows": 300000, "job_spans": [[1000 * i + 100, 1000 * i + 300],
                                                          [1000 * i + 200, 1000 * i + 500]]}
              for i in range(1, n, 2)}
    return {"workload": "merge_upsert", "seed": 1, "cores": "4", "traced": True,
            "attempted": n + 1, "failed": 0, "content_ok": True,
            "session_s": 5.0, "setup_table_s": [3.0, 2.0, 2.5], "open_s": [0.01, 0.02, 0.03],
            "control_s": [0.9, 0.2, 0.25, 0.2, 0.3], "write_amp": 1.6, "space_amp": 1.02,
            "retained_heap_mb": 100.0, "live_files": 50, "files_with_dv": 25,
            "dv_rows": 1000, "live_rows_with_deleted": 10000, "ops": ops, "op_counts": counts}


def _spans(n=24):
    spans = []
    for i in range(1, n, 2):
        spans += [
            {"id": 3 * i, "name": "op.merge", "start": i, "end": i + 1.0, "parent": None,
             "op": i, "attrs": {}},
            {"id": 3 * i + 1, "name": "log.refresh", "start": i, "end": i + 0.002,
             "parent": 3 * i, "op": i, "attrs": {}},
            {"id": 3 * i + 2, "name": "commands.merge", "start": i + 0.002, "end": i + 0.9,
             "parent": 3 * i, "op": i,
             "attrs": {"numDeletionVectors": 2.0, "numTargetRowsUpdated": 90.0}},
            {"id": 10 ** 6 + i, "name": "stats.skip", "start": i + 1.1, "end": i + 1.15,
             "parent": None, "op": i, "attrs": {"kept": 2.0, "files": 40.0}},
        ]
    return spans


class Derivation(unittest.TestCase):
    def test_end_to_end(self):
        m, info = metrics.end_to_end(_raw())
        self.assertEqual([k for k, _ in metrics.END_TO_END], list(m))
        self.assertAlmostEqual(m["setup_s"], 5.0 + 2.5)
        # The cold first control is left out: the control median is 0.225 s.
        self.assertAlmostEqual(info["host_control_median_s"], 0.225)
        self.assertAlmostEqual(info["in_seconds"]["op_p50_s"], 1.115)
        self.assertAlmostEqual(m["op_p50_ctl"], 1.115 / 0.225)
        self.assertAlmostEqual(info["in_seconds"]["op_tail_s"], 1.13)
        self.assertAlmostEqual(m["cpu_per_op_ctl"], 2.0 / 0.225)
        self.assertEqual(info["tail_samples_beyond"], 10)
        self.assertEqual(info["op_samples"], 24)

    def test_per_layer(self):
        m, info = metrics.per_layer(_raw(), _spans())
        self.assertEqual([k for k, _ in metrics.PER_LAYER], list(m))
        self.assertAlmostEqual(m["log.refresh_s"], 0.002)
        self.assertEqual(m["log.checkpoints"], 1.0)
        self.assertAlmostEqual(m["log.checkpoint_op_p50_s"], 1.09)
        self.assertAlmostEqual(m["stats.files_kept_frac"], 0.05)
        self.assertAlmostEqual(m["commands.files_touched_per_op"], 2.0)
        # Jobs cover 100..500 ms of an 800 ms op: 400 ms of driver time.
        self.assertAlmostEqual(m["spark.driver_s_per_op"], 0.4)
        self.assertAlmostEqual(m["trace.overhead_s_per_op"], 0.01)
        self.assertEqual(sorted(info["not_applicable"]), ["files.write_s", "tx.commit_s"])


class Output(unittest.TestCase):
    def test_round_trip(self):
        raw = _raw()
        values, _ = metrics.end_to_end(raw)
        line = json.dumps(metrics.result(raw, values, metrics.END_TO_END))
        r = metrics.parse_result('{"info": {}}\n' + line + "\n", metrics.END_TO_END)
        self.assertTrue(r["correct"])
        self.assertEqual(r["attempted"], 25)
        self.assertEqual(r["metrics"]["op_p50_ctl"]["unit"], "ctl")

    def test_failed_op_makes_it_incorrect(self):
        raw = dict(_raw(), failed=1)
        values, _ = metrics.end_to_end(raw)
        self.assertFalse(metrics.result(raw, values, metrics.END_TO_END)["correct"])

    def test_rejects_malformed_lines(self):
        good = {"correct": True, "attempted": 3, "failed": 0,
                "metrics": {"x": {"value": 1.5, "unit": "s"}}}
        metrics.parse_result(json.dumps(good))
        for bad in (
                dict(good, extra=1),
                dict(good, attempted=0),
                dict(good, failed=1.5),
                dict(good, correct="yes"),
                dict(good, metrics={"x": {"value": "1.5", "unit": "s"}}),
                dict(good, metrics={"x": {"value": 1.5}}),
        ):
            with self.assertRaises(ValueError):
                metrics.parse_result(json.dumps(bad))
        with self.assertRaises(ValueError):
            metrics.parse_result("")
        with self.assertRaises(ValueError):
            metrics.parse_result(json.dumps(good), [("x", "ms")])


if __name__ == "__main__":
    unittest.main()
