"""Self-tests of the benchmark. From the root of a checkout:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import re
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 11))
        self.assertEqual(stats.percentile(xs, 50), 5)
        self.assertEqual(stats.percentile(xs, 90), 9)
        self.assertEqual(stats.percentile(xs, 91), 10)
        self.assertEqual(stats.percentile([3.0], 99), 3.0)

    def test_tail_keeps_ten_samples_beyond(self):
        # n=30: p66 has rank 20 and 10 beyond; p67 would leave 9
        self.assertEqual(stats.tail(list(range(30)))[0], 66)
        self.assertEqual(stats.tail(list(range(100))), (90, 89, 100))
        self.assertEqual(stats.tail(list(range(1000)))[0], 99)

    def test_tail_falls_back_to_median(self):
        p, v, n = stats.tail([5, 1, 4, 2, 3])
        self.assertEqual((p, v, n), (50, 3, 5))
        self.assertEqual(stats.tail(list(range(20)))[0], 50)
        self.assertEqual(stats.tail(list(range(21)))[0], 52)


class SelfTimeTest(unittest.TestCase):
    SPANS = [
        {"id": "o1", "parent": "", "op": 1, "kind": "op", "start": 0, "end": 100},
        {"id": "j1", "parent": "o1", "op": 1, "kind": "job", "start": 10, "end": 40},
        {"id": "j2", "parent": "o1", "op": 1, "kind": "job", "start": 30, "end": 60},
        {"id": "j3", "parent": "o1", "op": 1, "kind": "job", "start": 70, "end": 80},
        {"id": "s1", "parent": "j1", "op": 1, "kind": "stage", "start": 10, "end": 20},
        {"id": "s2", "parent": "j1", "op": 1, "kind": "stage", "start": 15, "end": 35},
        # a child running past its parent counts only inside it
        {"id": "s3", "parent": "j3", "op": 1, "kind": "stage", "start": 75, "end": 90},
    ]

    def test_self_times(self):
        st = stats.self_times(self.SPANS)
        self.assertEqual(st["o1"], 100 - 60)  # jobs cover 10..60 and 70..80
        self.assertEqual(st["j1"], 30 - 25)   # stages cover 10..35
        self.assertEqual(st["j2"], 30)
        self.assertEqual(st["j3"], 10 - 5)
        self.assertEqual(st["s2"], 20)

    def test_self_by_kind_sums_to_seconds(self):
        k = stats.self_by_kind(self.SPANS)
        self.assertAlmostEqual(k["op"], 0.040)
        self.assertAlmostEqual(k["job"], 0.040)
        self.assertAlmostEqual(k["stage"], 0.045)


class BenchmarkJsonTest(unittest.TestCase):
    def test_metric_names(self):
        with open(BENCHMARK_JSON) as fh:
            b = json.load(fh)
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in b[k]]
        names += [w["name"] for w in b["workloads"]]
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
        self.assertEqual(len(names), len(set(names)))


class TransportTest(unittest.TestCase):
    def test_transport_deterministic_and_oracle_agrees(self):
        classes = build.build()
        r = subprocess.run(build.java_command(classes, "perfbench.SelfTest"),
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        self.assertEqual(r.returncode, 0, r.stdout[-2000:])
        self.assertIn("selftest ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
