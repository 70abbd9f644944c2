"""Tests for the benchmark's own arithmetic.

Run from the root of the repository:
  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import bench_math as bm  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        # p90 of 100 samples is the 90th value: exactly ten lie beyond it
        values = list(range(1, 101))
        self.assertEqual(bm.percentile(values, 90), 90)
        # with 99 samples the 90th percentile is the 90th value: nine beyond
        self.assertIsNone(bm.percentile(list(range(1, 100)), 90))

    def test_median_of_twenty(self):
        self.assertEqual(bm.percentile(list(range(1, 21)), 50), 10)
        self.assertIsNone(bm.percentile(list(range(1, 20)), 50))

    def test_order_does_not_matter(self):
        values = [float(v) for v in range(200, 0, -1)]
        self.assertEqual(bm.percentile(values, 90), 180.0)

    def test_highest_valid_percentile(self):
        self.assertEqual(bm.highest_valid_percentile(100), 90)
        self.assertEqual(bm.highest_valid_percentile(1000), 99)
        self.assertEqual(bm.highest_valid_percentile(20), 50)
        self.assertIsNone(bm.highest_valid_percentile(10))
        for n in (11, 25, 38, 99, 150):
            p = bm.highest_valid_percentile(n)
            self.assertIsNotNone(bm.percentile(list(range(n)), p))
            if p < 99:
                self.assertIsNone(bm.percentile(list(range(n)), p + 1))

    def test_empty(self):
        self.assertIsNone(bm.percentile([], 50))
        self.assertIsNone(bm.median([]))


class QuartileSpread(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        values = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        # statistics.quantiles (exclusive method): q1 = 11.75, q3 = 17.25
        self.assertAlmostEqual(bm.quartile_spread(values), (17.25 - 11.75) / 14.5)

    def test_constant_is_zero(self):
        self.assertEqual(bm.quartile_spread([5.0] * 10), 0.0)


class Throughput(unittest.TestCase):
    def test_reciprocal_of_mean_latency(self):
        ops = [{"name": n, "kind": "write", "pass": 1, "ms": ms}
               for n, ms in (("upsert", 1000.0), ("upsert", 3000.0), ("read", 500.0))]
        self.assertAlmostEqual(bm.ops_per_s(ops), 3 / 4.5)

    def test_query_repetitions_count_once_at_their_fastest(self):
        ops = [{"name": "q1", "kind": "query", "pass": 1, "ms": 900.0},
               {"name": "q1", "kind": "query", "pass": 1, "ms": 600.0},
               {"name": "q2", "kind": "query", "pass": 1, "ms": 400.0},
               {"name": "q2", "kind": "query", "pass": 1, "ms": 700.0},
               {"name": "q1", "kind": "query", "pass": 2, "ms": 1000.0},
               {"name": "q1", "kind": "query", "pass": 2, "ms": 1000.0}]
        self.assertAlmostEqual(bm.ops_per_s(ops), 3 / 2.0)


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(bm.self_time(0, 10, []), 10)

    def test_disjoint_children(self):
        self.assertEqual(bm.self_time(0, 10, [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        # (1,5) and (3,8) cover [1,8): 7 of the span's 10
        self.assertEqual(bm.self_time(0, 10, [(1, 5), (3, 8)]), 3)
        # a child inside another adds nothing
        self.assertEqual(bm.self_time(0, 10, [(1, 9), (2, 3)]), 2)

    def test_children_clipped_to_the_span(self):
        # a job that outlives its span only covers the span's part
        self.assertEqual(bm.self_time(0, 10, [(-5, 2), (8, 20)]), 6)
        self.assertEqual(bm.self_time(0, 10, [(12, 20)]), 10)

    def test_span_table_parents_jobs_by_span_id(self):
        trace = {
            "spans": [{"id": 1, "parent": 0, "name": "op:q1", "start": 0.0, "end": 10.0},
                      {"id": 2, "parent": 1, "name": "exec.action", "start": 2.0, "end": 9.0}],
            "jobs": [{"id": 7, "span": 2, "start": 3.0},
                     {"id": 7, "end": 5.0},
                     {"id": 8, "span": 2, "start": 4.0},
                     {"id": 8, "end": 6.0}],
        }
        table = bm.span_table(trace)
        self.assertEqual(table["op"]["self_ms"], 3.0)           # 10 - [2, 9)
        self.assertEqual(table["exec.action"]["self_ms"], 4.0)  # 7 - [3, 6)


class FailureAccounting(unittest.TestCase):
    def ops(self):
        return [{"name": "q1", "ok": True}, {"name": "q2", "ok": True},
                {"name": "q1", "ok": True}, {"name": "q3", "ok": False}]

    def test_raised_or_wrong_ops_fail(self):
        attempted, failed, names = bm.failure_count(self.ops())
        self.assertEqual((attempted, failed, names), (4, 1, ["q3"]))

    def test_oracle_mismatch_fails_every_run_of_the_query(self):
        attempted, failed, names = bm.failure_count(self.ops(), wrong_queries=["q1"])
        self.assertEqual((attempted, failed), (4, 3))
        self.assertEqual(sorted(names), ["q1", "q1", "q3"])

    def test_checks_are_attempts(self):
        checks = [{"name": "final_table", "ok": True}, {"name": "change_feed", "ok": False}]
        attempted, failed, names = bm.failure_count(self.ops(), checks)
        self.assertEqual((attempted, failed), (6, 2))
        self.assertIn("change_feed", names)


def dir_files(root):
    """Every regular file under `root`: relative path -> size in bytes, as
    the benchmark's JVM lists a table root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


class Amplification(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.root = os.path.join(self.dir.name, "table")
        for rel, size in {"part=0/a.parquet": 300, "part=0/b.parquet": 500,
                          "v00001.manifest": 40, "_current": 8}.items():
            path = os.path.join(self.root, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as f:
                f.write(b"x" * size)

    def tearDown(self):
        self.dir.cleanup()

    def test_write_and_space_amp(self):
        before = {os.path.join("part=0", "a.parquet"): 300}
        after = dir_files(self.root)
        new = {k: v for k, v in after.items() if k not in before}
        self.assertEqual(sum(after.values()), 848)
        self.assertEqual(bm.write_amp(new, submitted_bytes=137), 548 / 137)
        self.assertEqual(bm.space_amp(after, live_bytes=424), 2.0)

    def test_manifest_files(self):
        files = dir_files(self.root)
        self.assertEqual(sum(v for k, v in files.items() if bm.is_manifest(k)), 40)

    def test_plain_parquet_bytes_ignores_the_codec(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        table = pa.table({"id": list(range(5000)), "note": ["abcdefgh"] * 5000})
        snappy = os.path.join(self.dir.name, "snappy.parquet")
        plain = os.path.join(self.dir.name, "plain.parquet")
        pq.write_table(table, snappy, compression="snappy")
        pq.write_table(table, plain, compression="NONE", use_dictionary=False)
        self.assertEqual(bm.plain_parquet_bytes(snappy), bm.plain_parquet_bytes(plain))
        # plain encoding stores every value: at least 8 bytes per id
        self.assertGreater(bm.plain_parquet_bytes(snappy), 5000 * 8)


if __name__ == "__main__":
    unittest.main()
