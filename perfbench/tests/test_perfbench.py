"""Tests of the benchmark itself. Run from the root of a checkout:

  python3 -m unittest discover -s perfbench/tests

The Scala checks (generator determinism, the percentile rule, the
backlog detector, `%.6g` formatting) run inside the harness JVM; the
digest tests compare oracle.py with tools/check_oracle.py and with the
digest Spark computes for the same parquet file.
"""
import ast
import datetime
import decimal
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import build  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def check_oracle_norm():
    """The `norm` function of tools/check_oracle.py, loaded without
    running the script."""
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    src = open(path).read()
    fn = next(n for n in ast.parse(src).body if isinstance(n, ast.FunctionDef) and n.name == "norm")
    ns = {}
    exec("import math\n" + ast.get_source_segment(src, fn), ns)
    return ns["norm"]


class DigestTest(unittest.TestCase):
    VALUES = [0, 1, -7, 2 ** 40, 3.14159265, 1e-7, 123456789.0, 0.1 + 0.2, -0.0,
              float("nan"), None, "abc", "", True, False]

    @unittest.skipUnless(os.path.exists(os.path.join(ROOT, "tools", "check_oracle.py")),
                         "tools/check_oracle.py not in this checkout")
    def test_norm_matches_check_oracle(self):
        ref = check_oracle_norm()
        for v in self.VALUES:
            self.assertEqual(oracle.norm(v), ref(v), repr(v))
        # DuckDB hands check_oracle decimals as floats; oracle.py gets Decimal
        self.assertEqual(oracle.norm(decimal.Decimal("1234.5678")), ref(1234.5678))

    def test_digest_ignores_row_and_column_order(self):
        rows = [(1, "a", 2.5), (2, "b", None), (3, "c", 1e9)]
        d = oracle.digest(["k", "s", "x"], rows)
        self.assertEqual(d, oracle.digest(["k", "s", "x"], list(reversed(rows))))
        self.assertEqual(d, oracle.digest(["x", "k", "s"], [(r[2], r[0], r[1]) for r in rows]))
        self.assertNotEqual(d, oracle.digest(["k", "s", "x"], rows[:2]))
        self.assertTrue(d.startswith("3:"))

    def test_spark_digest_matches_duckdb(self):
        try:
            import duckdb
        except ImportError:
            self.skipTest("duckdb not installed")
        classes = build.build()
        tmp = tempfile.mkdtemp(dir=build.build_dir())
        try:
            path = os.path.join(tmp, "frame.parquet")
            con = duckdb.connect()
            con.execute(f"""COPY (SELECT * FROM (VALUES
                (1, 2.5::DOUBLE, 'x', 1.25::DECIMAL(10,2), DATE '2026-01-02',
                 TIMESTAMP '2026-01-02 03:04:05', true, 7::BIGINT),
                (2, 1234567.0::DOUBLE, 'y z', 99.99::DECIMAL(10,2), DATE '1999-12-31',
                 TIMESTAMP '2026-01-02 03:04:05.25', false, NULL),
                (3, 'nan'::DOUBLE, NULL, NULL, NULL, NULL, NULL, -1::BIGINT),
                (4, 1e-7::DOUBLE, '', 0.5::DECIMAL(10,2), DATE '2026-03-01',
                 TIMESTAMP '2026-03-01 00:00:00', true, 9007199254740993::BIGINT))
                AS t(i, d, s, m, dt, ts, b, l)) TO '{path}' (FORMAT PARQUET)""")
            cur = con.execute(f"SELECT * FROM read_parquet('{path}')")
            want = oracle.digest([c[0] for c in cur.description], cur.fetchall())
            code, lines = run.run_jvm(classes, ["selftest", "digest", path], "selftest-digest")
            self.assertEqual(code, 0)
            self.assertEqual(lines[-1], want)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def test_python_datetime_strings(self):
        self.assertEqual(oracle.norm(datetime.datetime(2026, 1, 2, 3, 4, 5, 250000)),
                         "2026-01-02 03:04:05.250000")
        self.assertEqual(oracle.norm(datetime.date(2026, 1, 2)), "2026-01-02")


class HarnessTest(unittest.TestCase):
    def test_scala_selftest(self):
        """Generators are byte-identical per seed; the percentile rule, the
        backlog detector and %.6g formatting behave."""
        code, lines = run.run_jvm(build.build(), ["selftest"], "selftest")
        self.assertEqual(code, 0, "\n".join(lines))
        self.assertGreater(sum(1 for l in lines if l.startswith("ok ")), 20)


if __name__ == "__main__":
    unittest.main()
