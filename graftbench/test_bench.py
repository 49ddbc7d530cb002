"""Tests for the benchmark itself.

    python3 -m unittest discover -s graftbench -p 'test_*.py'

The arithmetic tests are pure Python. The generator test builds the
program (like the first benchmark run) and asks the JVM for digests of
generated inputs; set GRAFTBENCH_SKIP_JVM=1 to skip it.
"""

import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(benchlib.percentile(xs, 0), 1)
        self.assertEqual(benchlib.percentile(xs, 50), 3)
        self.assertEqual(benchlib.percentile(xs, 100), 5)
        self.assertAlmostEqual(benchlib.percentile(xs, 90), 4.6)
        self.assertAlmostEqual(benchlib.percentile([10, 20], 25), 12.5)

    def test_single_value(self):
        self.assertEqual(benchlib.percentile([7], 99), 7)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            benchlib.percentile([], 50)


class TailIndexTest(unittest.TestCase):
    def beyond(self, n, p):
        # samples strictly above the p-th percentile's rank
        return n - -(-n * p // 100)

    def test_known_counts(self):
        self.assertEqual(benchlib.tail_percentile(100), 90)
        self.assertEqual(benchlib.tail_percentile(1000), 99)
        self.assertEqual(benchlib.tail_percentile(20), 50)
        self.assertEqual(benchlib.tail_percentile(11), 9)

    def test_too_few_samples(self):
        for n in range(0, 11):
            self.assertIsNone(benchlib.tail_percentile(n))

    def test_highest_with_ten_beyond(self):
        for n in range(11, 600):
            p = benchlib.tail_percentile(n)
            self.assertGreaterEqual(self.beyond(n, p), 10, n)
            if p < 99:
                self.assertLess(self.beyond(n, p + 1), 10, n)

    def test_tail_value(self):
        xs = list(range(1, 101))
        p, v, n = benchlib.tail(xs)
        self.assertEqual((p, n), (90, 100))
        self.assertAlmostEqual(v, benchlib.percentile(xs, 90))
        self.assertEqual(benchlib.tail([1, 2, 3]), (None, None, 3))


def span(i, start, end, parent=-1, op=0, name="s"):
    return {"id": i, "name": name, "start_ns": start, "end_ns": end,
            "parent": parent, "op": op}


class SelfTimeTest(unittest.TestCase):
    def test_leaf_is_its_duration(self):
        self.assertEqual(benchlib.self_times([span(0, 10, 25)]), {0: 15})

    def test_children_are_subtracted(self):
        spans = [span(0, 0, 100), span(1, 10, 30, 0), span(2, 50, 60, 0),
                 span(3, 12, 20, 1)]
        st = benchlib.self_times(spans)
        self.assertEqual(st[0], 100 - 20 - 10)
        self.assertEqual(st[1], 20 - 8)
        self.assertEqual(st[2], 10)
        self.assertEqual(st[3], 8)

    def test_overlapping_children_count_once(self):
        # concurrent children (jobs started from pool threads) overlap
        spans = [span(0, 0, 100), span(1, 10, 50, 0), span(2, 40, 70, 0)]
        self.assertEqual(benchlib.self_times(spans)[0], 100 - 60)

    def test_children_clipped_to_parent(self):
        spans = [span(0, 0, 100), span(1, 90, 130, 0)]
        self.assertEqual(benchlib.self_times(spans)[0], 90)

    def test_self_times_sum_to_root(self):
        spans = [span(0, 0, 1000), span(1, 100, 400, 0), span(2, 150, 200, 1),
                 span(3, 500, 900, 0), span(4, 600, 700, 3)]
        self.assertEqual(sum(benchlib.self_times(spans).values()), 1000)


class CoveredTest(unittest.TestCase):
    def test_union(self):
        self.assertEqual(benchlib.covered([(0, 10), (5, 15), (20, 25)], 0, 30), 20)
        self.assertEqual(benchlib.covered([], 0, 30), 0)
        self.assertEqual(benchlib.covered([(-5, 5)], 0, 30), 5)


class SteadyTest(unittest.TestCase):
    def test_detects_where_walls_stop_falling(self):
        self.assertEqual(benchlib.steady_after([20, 14, 12, 12.3, 12]), 4)
        self.assertIsNone(benchlib.steady_after([24, 15]))
        self.assertIsNone(benchlib.steady_after([]))


class ResultShapeTest(unittest.TestCase):
    def raw(self, workload):
        return {"workload": workload, "seed": 1, "session_s": 2.0,
                "setup_rep_s": [3.0, 1.0, 2.0], "attempted": 2, "failed": 0,
                "samples": {"etl": [900.0, 1100.0], "probe": [100.0] * 12,
                            "append": [50.0, 70.0], "append_rows": [10, 10],
                            "append_bytes_written": [100, 100]},
                "counters": {"input_rows": 1000, "input_bytes": 10,
                             "appended_input_bytes": 50,
                             "store_bytes_after_compact": 300,
                             "live_input_bytes": 100},
                "checks": [{"name": "c", "ok": True, "detail": ""}],
                "spans": []}

    def test_end_to_end(self):
        r = benchlib.result(self.raw("star_etl"), traced=False)
        self.assertTrue(r["correct"])
        self.assertEqual(set(r["metrics"]), set(benchlib.END_TO_END))
        self.assertEqual(r["metrics"]["setup_s"]["value"], 4.0)
        self.assertEqual(r["metrics"]["op_p50_ms"]["value"], 1000.0)
        self.assertEqual(r["metrics"]["rows_per_s"]["value"], 1000.0)
        s = benchlib.result(self.raw("index_serve"), traced=False)
        self.assertEqual(s["metrics"]["op_p50_ms"]["value"], 100.0)
        self.assertAlmostEqual(s["metrics"]["rows_per_s"]["value"], 10 / 0.06)

    def test_every_layer_metric_on_every_workload(self):
        for wl in benchlib.MAIN_OP:
            r = benchlib.result(self.raw(wl), traced=True)
            self.assertEqual(set(r["metrics"]), set(benchlib.units()))

    def test_failed_check_is_incorrect(self):
        raw = self.raw("star_etl")
        raw["checks"].append({"name": "x", "ok": False, "detail": "d"})
        self.assertFalse(benchlib.result(raw, traced=False)["correct"])


@unittest.skipIf(os.environ.get("GRAFTBENCH_SKIP_JVM"), "JVM tests skipped")
class GeneratorTest(unittest.TestCase):
    """Same seed, byte-identical generated input; another seed, not."""

    def test_seed_gives_identical_bytes(self):
        import run
        root = os.path.dirname(HERE)
        b, jars = run.build(root)
        work = os.path.join(root, run.BUILD, "test-digest-%d" % os.getpid())
        try:
            out = run.jvm(b, jars, [], ["--digest", "--workload", "all",
                                        "--seed", "7", "--work", work],
                          capture=True)
        finally:
            subprocess.run(["rm", "-rf", work], check=False)
        lines = [ln.split() for ln in out.splitlines()
                 if ln.startswith("digest ")]
        self.assertEqual([ln[1] for ln in lines], list(benchlib.MAIN_OP))
        for _, wl, a, b2, other in lines:
            self.assertEqual(a, b2, wl + ": same seed, different bytes")
            self.assertNotEqual(a, other, wl + ": seed does not change input")


if __name__ == "__main__":
    unittest.main()
