"""Tests for scripts/diff_verify.py, the row-identity gate between two
graft.Verify output directories, on synthetic parquet outputs.

Run: python3 -m unittest discover -s scripts/tests
"""
import contextlib
import io
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import diff_verify  # noqa: E402

SCHEMA = pa.schema([pa.field("id", pa.int64(), nullable=False),
                    pa.field("score", pa.int64(), nullable=True)])
ROWS = {"id": [1, 2, 3], "score": [10, None, 30]}


def write_query(out_dir, name, rows=ROWS, schema=SCHEMA):
    os.makedirs(os.path.join(out_dir, name), exist_ok=True)
    pq.write_table(pa.table(rows, schema=schema),
                   os.path.join(out_dir, name, "part-00000.parquet"))


class DiffVerifyTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.parent = os.path.join(self.tmp.name, "parent")
        self.change = os.path.join(self.tmp.name, "change")
        for out in (self.parent, self.change):
            write_query(out, "q01_base")
            write_query(out, "s19_logistic_regression")

    def tearDown(self):
        self.tmp.cleanup()

    def gate(self):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            code = diff_verify.main(self.parent, self.change)
        return code, buf.getvalue()

    def test_identical_outputs_pass(self):
        code, out = self.gate()
        self.assertEqual(code, 0)
        self.assertIn("2/2 queries identical", out)

    def test_row_order_is_not_a_difference(self):
        write_query(self.change, "s19_logistic_regression",
                    rows={"id": [3, 1, 2], "score": [30, 10, None]})
        self.assertEqual(self.gate()[0], 0)

    def test_nullability_flip_fails_and_names_the_query(self):
        flipped = pa.schema([pa.field("id", pa.int64(), nullable=True),
                             pa.field("score", pa.int64(), nullable=True)])
        write_query(self.change, "s19_logistic_regression", schema=flipped)
        code, out = self.gate()
        self.assertEqual(code, 1)
        self.assertIn("s19_logistic_regression: schema", out)
        self.assertNotIn("q01_base", out)

    def test_one_changed_value_fails_and_names_the_query(self):
        write_query(self.change, "s19_logistic_regression",
                    rows={"id": [1, 2, 3], "score": [10, None, 31]})
        code, out = self.gate()
        self.assertEqual(code, 1)
        self.assertIn("s19_logistic_regression: rows md5", out)
        self.assertIn("1/2 queries identical", out)

    def test_query_on_one_side_only_fails_and_names_the_query(self):
        write_query(self.change, "s87_softmax_regression")
        code, out = self.gate()
        self.assertEqual(code, 1)
        self.assertIn("s87_softmax_regression: only in change", out)
        write_query(self.parent, "s87_softmax_regression")
        write_query(self.parent, "s27_linear_svm")
        code, out = self.gate()
        self.assertEqual(code, 1)
        self.assertIn("s27_linear_svm: only in parent", out)


if __name__ == "__main__":
    unittest.main()
