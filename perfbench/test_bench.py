"""Tests of the benchmark itself: python3 -m unittest discover -s perfbench -p 'test_*.py'

The plan test builds the JVM side on first use and takes about a minute.
"""
import hashlib
import os
import pathlib
import shutil
import tempfile
import sys
import time
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import fixture  # noqa: E402
import run  # noqa: E402


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [[1, 0, "op", 0, 10_000_000],
                 [2, 1, "exec.action", 1_000_000, 5_000_000],
                 [3, 1, "exec.action", 4_000_000, 6_000_000],
                 [4, 2, "spark.job", 2_000_000, 3_000_000]]
        got = run.self_times(spans)
        self.assertAlmostEqual(got["op"], 5.0)
        self.assertAlmostEqual(got["exec"], 3.0 + 2.0)
        self.assertAlmostEqual(got["jobs"], 1.0)


class FixtureTest(unittest.TestCase):
    def digests(self, root, seed):
        data = fixture.make_fixture(os.path.join(root, "fx"), seed, 0.001)
        paths = fixture.make_drops(data, os.path.join(root, "drops"), seed, 2)
        files = sorted(os.path.join(data, f) for f in os.listdir(data)) + paths
        return {os.path.basename(p): hashlib.md5(pathlib.Path(p).read_bytes()).hexdigest()
                for p in files}

    def test_same_seed_same_bytes_other_seed_other_values(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            first, again, other = self.digests(a, 7), self.digests(b, 7), self.digests(c, 8)
        self.assertEqual(first, again)
        self.assertNotEqual(first["lineitem.parquet"], other["lineitem.parquet"])
        self.assertNotEqual(first["drop_0001.parquet"], other["drop_0001.parquet"])


class ServeMixTest(unittest.TestCase):
    def test_seeded_and_skewed_to_the_head(self):
        self.assertEqual(run.serve_mix(5), run.serve_mix(5))
        self.assertNotEqual(run.serve_mix(5), run.serve_mix(6))
        counts = [run.serve_mix(5).count(q) for q in run.SERVE_QUERIES]
        self.assertEqual(counts[0], max(counts))
        self.assertGreater(counts[0], 2 * counts[-1])


class TimedPlanTest(unittest.TestCase):
    """The nightly_build timed plan scans every table the models reference
    and reads every model column. The checks must catch the plans that do
    not: the `count()` the library's Bench times over the DAG scans no table,
    and the manifest `Dag.fullBuild` returns leaves double columns unread."""

    def test_timed_plan_is_not_pruned(self):
        work = tempfile.mkdtemp()
        try:
            data = fixture.make_fixture(os.path.join(work, "fx"), 3, 0.001)
            jvm = run.Jvm(run.build(), data, 2, time.monotonic() + 600, work=work)
            try:
                jvm.call("setup")
                r = jvm.call("plancheck")
            finally:
                jvm.close()
        finally:
            shutil.rmtree(work)
        self.assertIn("lineitem", r["referenced"])
        self.assertEqual(r["timed_pruned"], [])
        self.assertEqual(r["count_pruned"], r["referenced"])
        self.assertEqual(len(r["timed_unread"]), 45)
        self.assertEqual({m: c for m, c in r["timed_unread"].items() if c}, {})
        self.assertTrue(any(r["manifest_unread"].values()))


if __name__ == "__main__":
    unittest.main()
