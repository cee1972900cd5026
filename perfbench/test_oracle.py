"""Tests of the oracle comparison: python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import os
import sys
import tempfile
import unittest

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen_tables  # noqa: E402
import oracle  # noqa: E402


class CompareTest(unittest.TestCase):
    want = pd.DataFrame({"k": ["a", "b", "c"], "n": [1, 2, 3], "x": [0.5, 1.25, None]})

    def test_equal_frames_in_any_order_pass(self):
        got = self.want.iloc[::-1][["x", "n", "k"]]
        self.assertIsNone(oracle.compare(got, self.want))

    def test_a_changed_row_is_rejected(self):
        got = self.want.copy()
        got.loc[1, "n"] = 5
        self.assertIn("first difference", oracle.compare(got, self.want))

    def test_a_last_digit_float_change_is_rejected(self):
        got = self.want.copy()
        got.loc[0, "x"] = 0.5000000000000001
        self.assertIsNotNone(oracle.compare(got, self.want))

    def test_a_dropped_row_or_column_is_rejected(self):
        self.assertIn("rows", oracle.compare(self.want.iloc[:2], self.want))
        self.assertIn("columns", oracle.compare(self.want[["k", "n"]], self.want))


class CheckOutputsTest(unittest.TestCase):
    def test_outputs_are_checked_against_the_oracle_sql(self):
        with tempfile.TemporaryDirectory() as d:
            tables = os.path.join(d, "tables")
            gen_tables.generate(7, tables)
            sql = ("SELECT event_type, COUNT(*) AS n FROM events "
                   "GROUP BY event_type")
            import duckdb
            right = duckdb.connect().execute(
                sql.replace("events", f"'{tables}/events.parquet'")).fetchdf()
            wrong = right.copy()
            wrong.loc[0, "n"] += 1
            outs = []
            for name, df in (("right", right), ("wrong", wrong)):
                os.makedirs(os.path.join(d, name))
                pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                               os.path.join(d, name, "part-0.parquet"))
                outs.append({"op": "q", "entry": name, "path": os.path.join(d, name),
                             "oracle": sql})
            errors = oracle.check_outputs(tables, outs, d)
            self.assertEqual(len(errors), 1)
            self.assertTrue(errors[0].startswith("wrong"))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            gen_tables.generate(3, a)
            gen_tables.generate(3, b)
            gen_tables.generate(4, c)
            ta = pq.read_table(os.path.join(a, "documents.parquet"))
            self.assertTrue(ta.equals(pq.read_table(os.path.join(b, "documents.parquet"))))
            self.assertFalse(ta.equals(pq.read_table(os.path.join(c, "documents.parquet"))))

    def test_every_seed_makes_the_same_copies(self):
        import numpy as np
        for seed in (3, 4):
            docs = gen_tables.documents(np.random.default_rng([seed, 1]), 500)
            near = docs.text.str.endswith(" dup")
            self.assertEqual(near.sum(), 25)
            self.assertEqual((docs.text.duplicated() & ~near).sum(), 1)


if __name__ == "__main__":
    unittest.main()
