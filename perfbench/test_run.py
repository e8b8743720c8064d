"""Tests of the benchmark's own logic (no JVM, no Spark).

    python3 perfbench/test_run.py
"""
import datetime
import decimal
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))

import run  # noqa: E402


class ResultLine(unittest.TestCase):
    def test_per_layer_line_fits_even_with_long_values(self):
        # times carry microsecond digits, counts are whole, ratios are
        # full-precision floats; take the longest each can print as
        def worst(unit):
            return {"s": 12345.678901, "count": 12345678, "MB": 12345.678901}.get(
                unit, -1.2345678901234567e-05)
        metrics = {name: (worst(unit), unit) for name, unit in run.LAYER}
        line = run.final_line(False, 12345678, 12345678, metrics)
        self.assertLessEqual(len(line), run.MAX_LINE)

    def test_end_to_end_line_fits(self):
        metrics = {k: (-1.2345678901234567e-05, "ratio") for k in
                   ("setup_s", "pass_s", "op_s.p50", "retained_mb", "ok_ratio")}
        self.assertLessEqual(len(run.final_line(True, 1, 0, metrics)), run.MAX_LINE)

    def test_overlong_line_is_refused(self):
        metrics = {f"m{i}": (1.0, "s") for i in range(200)}
        with self.assertRaises(run.BenchError):
            run.final_line(True, 1, 0, metrics)


class Args(unittest.TestCase):
    def test_rejects_bad_input(self):
        base = ["--workload", "batch_mix", "--seed", "1", "--seconds", "10", "--trace", "0"]
        bad = [
            ["--workload", "nope"],
            ["--seed", "-1"], ["--seed", "x"],
            ["--seconds", "0"], ["--trace", "2"],
            ["--cores", str(run.nproc() + 1)], ["--cores", "*"], ["--cores", "0"],
            ["--input-dir", "/nonexistent-dir"],
        ]
        for b in bad:
            args = list(base)
            for i in range(0, len(b), 2):
                if b[i] in args:
                    args[args.index(b[i]) + 1] = b[i + 1]
                else:
                    args += b[i:i + 2]
            with self.assertRaises(run.BenchError, msg=str(b)):
                run.parse_args(args)

    def test_accepts_good_input(self):
        a = run.parse_args(["--workload", "ingest_stream", "--seed", "7",
                            "--seconds", "10", "--trace", "1", "--cores", "1"])
        self.assertEqual((a.seed, a.seconds, a.trace, a.cores), (7, 10, 1, 1))


class Canon(unittest.TestCase):
    def test_values_render_as_the_harness_renders_them(self):
        cases = [
            (None, "N"), (True, "b1"), (7, "i7"), (-3, "i-3"),
            (0.5, "f0.5"), (-0.0, "f0"), (0.1, "f" + str(decimal.Decimal(0.1))),
            (decimal.Decimal("1.500"), "d1.5"), (decimal.Decimal("0.00"), "d0"),
            (decimal.Decimal("100"), "d100"), ("héllo", "s5:héllo"),
            (datetime.datetime(1970, 1, 1, 0, 0, 1, 5), "t1000005"),
            (datetime.date(1970, 1, 11), "D10"), (b"\x01\xff", "x01ff"),
        ]
        for v, want in cases:
            self.assertEqual(run.canon(v), want, repr(v))

    def test_digest_ignores_row_and_column_order(self):
        a = run.digest(["b", "a"], [(1, "x"), (2, "y")])
        b = run.digest(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, run.digest(["a", "b"], [("y", 2)]))


if __name__ == "__main__":
    unittest.main()
