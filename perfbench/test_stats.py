"""Tests of the benchmark's own arithmetic, each against a hand-computed
expectation. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import random
import tempfile
import unittest

import stats


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_with_count(self):
        vals = [50, 10, 40, 20, 30, 100, 90, 80, 70, 60]
        # p50: rank ceil(0.5 * 10) = 5 -> 50; p90: rank 9 -> 90
        self.assertEqual(stats.pct(vals, 50), (50, 10))
        self.assertEqual(stats.pct(vals, 90), (90, 10))
        # 11 samples: p90 rank ceil(9.9) = 10
        self.assertEqual(stats.pct(list(range(1, 12)), 90), (10, 11))
        self.assertEqual(stats.pct([7.5], 90), (7.5, 1))

    def test_empty(self):
        v, n = stats.pct([], 50)
        self.assertNotEqual(v, v)  # NaN
        self.assertEqual(n, 0)


def span(i, parent, name, s, e, op=0, **attrs):
    return {"id": i, "parent": parent, "op": op, "name": name,
            "start": s, "end": e, "attrs": attrs}


class SelfTimeTest(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 12), (20, 25)]), 17)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_covered_children(self):
        spans = [span(0, -1, "query", 0, 100),
                 span(1, 0, "build", 0, 30),
                 span(2, 1, "job", 10, 20),
                 span(3, 0, "analysis", 30, 35),
                 span(4, 0, "execute", 40, 100),
                 # two concurrent jobs overlap by 10 ms: covered once
                 span(5, 4, "job", 50, 70),
                 span(6, 4, "job", 60, 80),
                 # a child running past its parent is clipped
                 span(7, 6, "stage", 75, 90)]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 100 - (30 + 5 + 60))   # 5
        self.assertEqual(st[1], 30 - 10)                # 20
        self.assertEqual(st[4], 60 - 30)                # 30
        self.assertEqual(st[6], 20 - 5)                 # 15
        self.assertEqual(st[7], 15)

    def test_layers_account_for_wall_time(self):
        spans = [span(0, -1, "query", 0, 100),
                 span(1, 0, "build", 0, 30),
                 span(2, 1, "job", 10, 20),
                 span(3, 0, "analysis", 30, 35),
                 span(4, 0, "optimize", 35, 38),
                 span(5, 0, "physical", 38, 40),
                 span(6, 0, "execute", 40, 100),
                 span(7, 6, "job", 50, 70),
                 span(8, 7, "stage", 52, 69, tasks=4, run_ms=40, delay_ms=1)]
        ops, accounted = stats.layers(spans)
        op = ops[0]
        self.assertEqual(op["ops.build_ms"], 20)
        self.assertEqual(op["ops.build_jobs"], 1)
        self.assertEqual(op["plan.analysis_ms"], 5)
        self.assertEqual(op["plan.physical_ms"], 2)
        # query self 0 + execute self (60 - 20) = 40
        self.assertEqual(op["driver.other_ms"], 40)
        self.assertEqual(op["jobs_ms"], 30)
        self.assertEqual((op["sched.jobs"], op["sched.tasks"], op["exec.run_ms"]), (2, 4, 40))
        # 20 build + 10 planning + 30 jobs + 40 driver = 100 = wall
        self.assertAlmostEqual(accounted, 1.0)


class FeedMatchTest(unittest.TestCase):
    def test_emit_lags(self):
        paced = [{"file": "a", "due_ms": 1000.0, "put_ms": 1001.0},
                 {"file": "b", "due_ms": 1500.0, "put_ms": 1502.0},
                 {"file": "c", "due_ms": 2000.0, "put_ms": 2000.5}]
        file_batch = {"a": 7, "b": 7, "c": 8}
        commits = {7: 1800.0, 8: 2600.0}
        lags, missing = stats.emit_lags(paced, file_batch, commits)
        self.assertEqual(lags, [800.0, 300.0, 600.0])
        self.assertEqual(missing, [])
        lags, missing = stats.emit_lags(paced, {"a": 7}, commits)
        self.assertEqual((lags, missing), ([800.0], ["b", "c"]))

    def test_backlog_at_batch_start(self):
        paced = [{"file": "a", "due_ms": 0, "put_ms": 0.0},
                 {"file": "b", "due_ms": 0, "put_ms": 100.0},
                 {"file": "c", "due_ms": 0, "put_ms": 900.0}]
        # batch 7 starts at 150 with a and b waiting; batch 8 at 950 with c
        self.assertEqual(stats.backlog_at_batches(
            paced, {"a": 7, "b": 7, "c": 8}, {7: 150.0, 8: 950.0}), 1.5)

    def test_file_batches(self):
        # source offsets 0..3; query batches 0 (offset 0), 1 (no data,
        # still 0), 2 (up to 2), 3 (up to 3)
        fo = {"a": 0, "b": 1, "c": 2, "d": 3}
        bo = {0: 0, 1: 0, 2: 2, 3: 3}
        self.assertEqual(stats.file_batches(fo, bo), {"a": 0, "b": 2, "c": 2, "d": 3})
        self.assertEqual(stats.file_batches({"e": 4}, bo), {})

    def test_checkpoint_logs(self):
        with tempfile.TemporaryDirectory() as d:
            for sub in ("sources/0", "commits", "offsets"):
                os.makedirs(os.path.join(d, sub))
            with open(os.path.join(d, "offsets", "12"), "w") as f:
                f.write('v1\n{"batchWatermarkMs":0}\n{"logOffset":10}\n')
            with open(os.path.join(d, "sources", "0", "9.compact"), "w") as f:
                f.write("v1\n" + json.dumps({"path": "file:///x/src/a.parquet",
                                             "timestamp": 1, "batchId": 3}) + "\n")
            with open(os.path.join(d, "sources", "0", "10"), "w") as f:
                f.write("v1\n" + json.dumps({"path": "file:///x/src/b.parquet",
                                             "timestamp": 2, "batchId": 10}) + "\n")
            p = os.path.join(d, "commits", "10")
            open(p, "w").close()
            os.utime(p, ns=(0, 1_500_000_000))
            open(os.path.join(d, "commits", ".10.crc"), "w").close()
            self.assertEqual(stats.source_log(d), {"a.parquet": 3, "b.parquet": 10})
            self.assertEqual(stats.offset_log(d), {12: 10})
            self.assertEqual(stats.commit_times(d), {10: 1500.0})


class OrderTest(unittest.TestCase):
    def test_producers_stay_ahead(self):
        keys = ["a", "b", "c", "d", "e"]
        for seed in range(20):
            o = stats.topo_order(keys, [("d", "a"), ("e", "d")], random.Random(seed))
            self.assertEqual(sorted(o), keys)
            self.assertLess(o.index("d"), o.index("a"))
            self.assertLess(o.index("e"), o.index("d"))
        self.assertEqual(stats.topo_order(keys, [], random.Random(1)),
                         stats.topo_order(keys, [], random.Random(1)))


if __name__ == "__main__":
    unittest.main()
