"""Self-tests of the helpers the benchmark's numbers depend on.

    python3 -m unittest discover -s iotperf -p 'test_*.py'
"""
import statistics
import unittest

import metrics


class Percentile(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(metrics.percentile(range(99), 90))
        self.assertEqual(metrics.percentile(range(1, 101), 90), 90)

    def test_nearest_rank(self):
        xs = list(range(1, 201))
        self.assertEqual(metrics.percentile(xs, 90), 180)
        self.assertEqual(metrics.percentile(xs, 50), 100)

    def test_empty(self):
        self.assertIsNone(metrics.percentile([], 50))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 3.0] + [2.0] * 30
        self.assertEqual(metrics.percentile(xs, 50), metrics.percentile(sorted(xs), 50))


class Union(unittest.TestCase):
    def test_overlapping_and_disjoint(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested(self):
        self.assertEqual(metrics.union_ms([(0, 10), (2, 3), (4, 9)]), 10)

    def test_clipped_to_window(self):
        self.assertEqual(metrics.union_ms([(-5, 5), (8, 30)], 0, 10), 7)

    def test_touching_intervals_do_not_double_count(self):
        self.assertEqual(metrics.union_ms([(0, 5), (5, 10)]), 10)

    def test_empty_and_inverted(self):
        self.assertEqual(metrics.union_ms([]), 0)
        self.assertEqual(metrics.union_ms([(5, 5), (9, 3)]), 0)


class JobSplit(unittest.TestCase):
    def test_jobs_plus_gap_is_wall(self):
        jobs = [{"start": 100.0, "end": 130.0}, {"start": 120.0, "end": 160.0},
                {"start": 200.0, "end": 260.0}]
        busy, gap = metrics.job_split(90.0, 250.0, jobs)
        self.assertAlmostEqual(busy, 60.0 + 50.0)
        self.assertAlmostEqual(busy + gap, 160.0)

    def test_no_jobs_is_all_gap(self):
        self.assertEqual(metrics.job_split(0.0, 12.5, []), (0.0, 12.5))


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0.0, "end": 100.0},
            {"id": 2, "parent": 1, "start": 10.0, "end": 40.0},
            {"id": 3, "parent": 1, "start": 30.0, "end": 50.0},
            {"id": 4, "parent": 2, "start": 15.0, "end": 20.0},
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 60.0)
        self.assertEqual(st[2], 25.0)
        self.assertEqual(st[3], 20.0)
        self.assertEqual(st[4], 5.0)

    def test_child_outside_parent_is_clipped(self):
        spans = [{"id": 1, "parent": 0, "start": 0.0, "end": 10.0},
                 {"id": 2, "parent": 1, "start": 8.0, "end": 14.0}]
        self.assertEqual(metrics.self_times(spans)[1], 8.0)


class Spread(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.5, 10.2, 10.4, 9.9, 10.1, 10.8, 9.7, 10.3]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(metrics.quartile_spread(xs), (q3 - q1) / statistics.median(xs))


def _op(i, t0, t1, kind="ingest", **kw):
    o = {"i": i, "kind": kind, "t0": t0, "t1": t1, "wall_ms": t1 - t0, "ok": True,
         "discard": False, "rows": 10, "cpu_ms": 1.0, "gc_ms": 0, "log_listings": 1,
         "version_reads": 0, "ckpt_reads": 0, "size_probes": 0}
    o.update(kw)
    return o


class EndToEnd(unittest.TestCase):
    RAW = {
        "ops": [_op(0, 0.0, 50.0, discard=True), _op(1, 50.0, 150.0),
                _op(2, 150.0, 350.0), _op(3, 350.0, 650.0, ok=False)],
        "setup_s": [2.0, 1.0, 1.5], "stored_bytes": 1000, "user_rows": 10,
    }

    def test_discarded_ops_are_not_timed_and_failures_are_counted(self):
        m, attempted, failed = metrics.end_to_end(self.RAW)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertEqual(m["op_ms_p50"][0], 150.0)
        self.assertAlmostEqual(m["ops_per_s"][0], 2 / 0.6)
        self.assertEqual(m["setup_s"][0], 1.5)
        self.assertEqual(m["stored_bytes_per_row"][0], 100.0)


class PerLayer(unittest.TestCase):
    def test_job_time_plus_gap_equals_op_wall(self):
        ops = [_op(0, 0.0, 100.0, files_added=2, files_removed=1, bytes_added=500,
                   commits=2),
               _op(1, 100.0, 300.0, files_added=1, files_removed=0, bytes_added=100,
                   commits=1)]
        raw = {
            "ops": ops,
            "jobs": [{"start": 10.0, "end": 40.0, "desc": "graft: stage t", "tasks": 2,
                      "shuffle_bytes": 0, "input_bytes": 5, "input_records": 1},
                     {"start": 120.0, "end": 320.0, "desc": "graft: constraint check t",
                      "tasks": 3, "shuffle_bytes": 8, "input_bytes": 0, "input_records": 0}],
            "spans": [{"id": 1, "name": "ingest", "start": 0.0, "end": 100.0,
                       "parent": 0, "op": 0},
                      {"id": 2, "name": "catalog.insert", "start": 5.0, "end": 95.0,
                       "parent": 1, "op": 0}],
            "phases": [], "progress": [], "calib_first_ms": [10.0], "calib_last_ms": [30.0],
            "live_files": 7,
        }
        m = metrics.per_layer(raw)
        self.assertAlmostEqual(m["spark.job_ms_per_op"][0] + m["spark.driver_gap_ms_per_op"][0],
                               150.0)
        self.assertAlmostEqual(m["spark.job_ms_per_op"][0], (30.0 + 180.0) / 2)
        self.assertAlmostEqual(m["catalog.stage_ms_per_op"][0], 15.0)
        self.assertAlmostEqual(m["dml.check_jobs_per_op"][0], 0.5)
        self.assertAlmostEqual(m["catalog.files_added_per_commit"][0], 1.0)
        self.assertAlmostEqual(m["catalog.bytes_written_per_row_written"][0], 30.0)
        self.assertAlmostEqual(m["trace.op_self_ms_per_op"][0], 10.0)
        self.assertAlmostEqual(m["host.op_per_calib_p50"][0], 150.0 / 20.0)
        # no stream ran: the stream-only metrics are left out
        self.assertFalse([k for k in m if k.startswith(metrics.STREAM_ONLY)])


if __name__ == "__main__":
    unittest.main()
