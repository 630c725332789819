"""Tests of the ETL-run benchmark's own logic.

Run from the repository root:  python3 -m unittest perfbench/test_bench.py
The fingerprint test builds the engine and the benchmark first (a minute on
a cold build directory) and runs the Scala fingerprint checks in a JVM.
"""

import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):

    def test_median_and_interpolation(self):
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertAlmostEqual(stats.percentile(range(101), 90), 90.0)
        self.assertAlmostEqual(stats.percentile([0, 10], 25), 2.5)

    def test_extremes(self):
        xs = [5, 1, 9, 7]
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 9)
        self.assertEqual(stats.percentile([4.2], 95), 4.2)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class TailRuleTest(unittest.TestCase):

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(25), 60)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 95)

    def test_every_choice_leaves_ten_beyond(self):
        for n in range(20, 2000, 7):
            q = stats.tail_percentile(n)
            self.assertGreaterEqual(stats.samples_beyond(n, q), 10, n)
            # the next grid step up would leave fewer than ten
            if q + 5 < 100:
                self.assertLess(stats.samples_beyond(n, q + 5), 10, n)

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail_percentile(12), 50)
        self.assertEqual(stats.samples_beyond(12, 50), 6)


def span(i, parent, start, end, name="x", p=1):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end,
            "name": name, "pass": p}


class SelfTimeTest(unittest.TestCase):

    def test_leaf_self_time_is_its_duration(self):
        st = stats.self_times([span(0, -1, 0, 2_000_000_000)])
        self.assertAlmostEqual(st[0], 2.0)

    def test_children_are_subtracted(self):
        spans = [span(0, -1, 0, 10_000_000_000),
                 span(1, 0, 1_000_000_000, 3_000_000_000),
                 span(2, 0, 5_000_000_000, 9_000_000_000),
                 span(3, 2, 6_000_000_000, 7_000_000_000)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 4.0)  # 10 - 2 - 4
        self.assertAlmostEqual(st[1], 2.0)
        self.assertAlmostEqual(st[2], 3.0)  # grandchild only counts once
        self.assertAlmostEqual(st[3], 1.0)

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0, 10), span(1, 0, 2, 6), span(2, 0, 4, 8)]
        self.assertAlmostEqual(stats.self_times(spans)[0], 4 / 1e9)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(0, -1, 5, 10), span(1, 0, 0, 7)]
        self.assertAlmostEqual(stats.self_times(spans)[0], 3 / 1e9)

    def test_layer_totals_per_pass(self):
        spans = [span(0, -1, 0, 10, "pass", 1),
                 span(1, 0, 0, 8, "orchestrator.run_dag", 1),
                 span(2, 1, 1, 4, "job.a", 1), span(3, 1, 4, 7, "job.b", 1),
                 span(4, -1, 0, 5, "pass", 2)]
        got = stats.layer_self_times(spans)
        self.assertAlmostEqual(got[1]["pass"], 2 / 1e9)
        self.assertAlmostEqual(got[1]["orchestrator"], 2 / 1e9)
        self.assertAlmostEqual(got[1]["job"], 6 / 1e9)
        self.assertAlmostEqual(got[2]["pass"], 5 / 1e9)


class EndToEndTest(unittest.TestCase):

    def raw(self, checks_ok=True):
        passes = [{"pass": p, "traced": False, "wall_s": 1.0 + p / 10,
                   "peak_rss_mb": 900.0 + p,
                   "ops": [{"name": "j%d" % i, "s": 0.1 * (i + 1), "ok": True}
                           for i in range(5)],
                   "checks": [{"name": "sink", "ok": checks_ok or p != 2}]}
                  for p in range(1, 5)]
        return {"passes": passes, "setup_s": [3.0, 0.2, 0.25]}

    def test_metrics(self):
        m, attempted, failed, tail = run.end_to_end(self.raw())
        self.assertEqual((attempted, failed), (24, 0))
        self.assertEqual((tail["ops"], tail["op_tail_percentile"],
                          tail["op_tail_samples_beyond"]), (20, 50, 10))
        self.assertAlmostEqual(tail["op_tail_s"], 0.3)
        self.assertAlmostEqual(m["makespan_s"][0], 1.25)
        self.assertAlmostEqual(m["op_p50_s"][0], 0.3)
        self.assertAlmostEqual(m["setup_s"][0], 0.25)
        self.assertAlmostEqual(m["peak_rss_mb"][0], 902.5)
        self.assertEqual(m["success_frac"][0], 1.0)

    def test_a_mismatch_counts_as_failed(self):
        _, attempted, failed, _ = run.end_to_end(self.raw(checks_ok=False))
        self.assertEqual((attempted, failed), (24, 1))


class FingerprintTest(unittest.TestCase):

    def test_scala_fingerprint_checks(self):
        classpath, _ = build.build()
        r = subprocess.run(
            ["java", "-Xmx1g", "-XX:-UsePerfData", "-Duser.timezone=UTC"] +
            [x for p in run.ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
            ["-cp", os.pathsep.join(classpath), "perfbench.SelfTest"],
            capture_output=True, text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-2000:])
        self.assertIn("ok   a corrupted value fails", r.stdout)


if __name__ == "__main__":
    unittest.main()
