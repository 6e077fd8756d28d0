"""Run: python3 -m unittest discover -s tools -p 'test_*.py'"""
import contextlib
import io
import unittest

import bench_compare

SF = "/data/sf0.1"


def run(q, action=None):
    r = {"metric": "total", "value": q, "queries": {"q": q}, "sf": SF}
    if action:
        r["action"] = action
    return r


def gate(runs):
    with contextlib.redirect_stdout(io.StringIO()):
        return bench_compare.gate(runs, -1)


class GateTest(unittest.TestCase):
    def test_noop_line_is_not_gated_against_count_lines(self):
        # a line without "action" timed count(); the noop write runs the
        # kernels a count() prunes, so 3x slower is not a regression
        self.assertEqual(gate([run(1.0), run(3.0, "noop")]), 0)

    def test_noop_line_is_gated_against_noop_lines(self):
        self.assertEqual(gate([run(1.0), run(1.0, "noop"), run(3.0, "noop")]), 1)


if __name__ == "__main__":
    unittest.main()
