#!/usr/bin/env python3
"""Self-tests of the benchmark: the statistics and the order-insensitive
fingerprint here, then the Scala half (counting FileSystem, interval
union, layer attribution, frame fingerprint) in a JVM.

    python3 etlbench/selftest.py
"""
import os
import statistics
import subprocess
import sys
import unittest
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class Stats(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        q = statistics.quantiles(xs, n=4)
        self.assertEqual(stats.quartiles(xs), (q[0], q[1], q[2]))
        self.assertAlmostEqual(stats.spread(xs), (q[2] - q[0]) / q[1])

    def test_tail_keeps_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, pct, n), (90, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_tail_is_order_free(self):
        xs = [float(x) for x in range(40)]
        self.assertEqual(stats.tail(xs), stats.tail(list(reversed(xs))))

    def test_tail_needs_the_median_or_higher(self):
        self.assertIsNone(stats.tail(list(range(19))))
        self.assertEqual(stats.tail(list(range(20))), (9, 50, 20))
        self.assertIsNone(stats.tail([1.0] * 5))


class Fingerprint(unittest.TestCase):
    COLS = ["id", "v", "b"]
    ROWS = [(1, 2.5, b"\x01"), (2, None, b"\x02"), (2, None, b"\x02"),
            (3, float("nan"), None)]

    def test_order_insensitive(self):
        a = stats.fingerprint(self.COLS, self.ROWS)
        b = stats.fingerprint(self.COLS, list(reversed(self.ROWS)))
        self.assertEqual(a, b)

    def test_column_order_insensitive(self):
        perm = [2, 0, 1]
        cols = [self.COLS[i] for i in perm]
        rows = [tuple(r[i] for i in perm) for r in self.ROWS]
        self.assertEqual(stats.fingerprint(self.COLS, self.ROWS),
                         stats.fingerprint(cols, rows))

    def test_multiset(self):
        a = stats.fingerprint(self.COLS, self.ROWS)
        self.assertNotEqual(a, stats.fingerprint(self.COLS, self.ROWS[:3]))
        self.assertNotEqual(a, stats.fingerprint(self.COLS, self.ROWS[1:] + self.ROWS[:1] * 2))
        self.assertTrue(a.startswith("4:"))

    def test_canon(self):
        self.assertEqual(stats.canon(None), "<null>")
        self.assertEqual(stats.canon(float("nan")), "<null>")
        self.assertEqual(stats.canon(Decimal("3.50")), "3.50")
        self.assertEqual(stats.canon(b"\xab"), "0xab")
        self.assertEqual(stats.canon(True), "True")
        self.assertEqual(stats.canon([1, None]), "[1,<null>]")


def scala_selftest():
    build.build()
    tmp = os.path.join(HERE, ".work", "selftest-tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in run.ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "graft.bench.SelfTest"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    print(r.stdout, end="")
    return r.returncode


if __name__ == "__main__":
    result = unittest.main(exit=False, verbosity=2).result
    code = scala_selftest()
    sys.exit(0 if result.wasSuccessful() and code == 0 else 1)
