"""Tests of tools/check.py's query filter. Run: python3 -m unittest discover -s tools"""
import contextlib
import io
import json
import os
import tempfile
import unittest

import check


class FilterTest(unittest.TestCase):
    def test_comma_list_keeps_a_name_any_part_is_in(self):
        names = ["q94_lineage", "q105_store", "q12_scan", "q106_x"]
        kept = [n for n in names if check.keep(n, "q94_,q105_,q106_")]
        self.assertEqual(kept, ["q94_lineage", "q105_store", "q106_x"])

    def test_no_filter_keeps_every_name(self):
        self.assertTrue(check.keep("q1_a", ""))

    def test_trailing_empty_parts_are_dropped_as_in_java(self):
        self.assertFalse(check.keep("q1_a", "q9,"))
        self.assertFalse(check.keep("q1_a", ","))
        self.assertTrue(check.keep("q1_a", "q9,,q8"))  # an inner empty part is kept

    def test_a_filter_that_matches_no_query_exits_non_zero(self):
        with tempfile.TemporaryDirectory() as out:
            os.makedirs(os.path.join(out, "q1_a"))
            with open(os.path.join(out, "oracle_sql.json"), "w") as f:
                json.dump({"q1_a": "SELECT 1 AS x"}, f)
            with contextlib.redirect_stdout(io.StringIO()) as printed, \
                    self.assertRaises(SystemExit) as exit_:
                check.main(["check.py", out, out, "q9_,q8_"])
            self.assertNotEqual(exit_.exception.code, 0)
            self.assertIn("no query matches", printed.getvalue())


if __name__ == "__main__":
    unittest.main()
