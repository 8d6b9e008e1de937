"""Tests of tools/ab.py's gain rule. Run: python3 -m unittest discover -s tools"""
import contextlib
import io
import unittest

import ab


def run(ops_per_s, failed=0, correct=True):
    return {"correct": correct, "attempted": 80, "failed": failed,
            "metrics": {"ops_per_s": {"value": ops_per_s, "unit": "1/s"}}}


def summary(pairs, n_run):
    with contextlib.redirect_stdout(io.StringIO()) as printed:
        ab.summarize("w", pairs, n_run, {"ops_per_s": "higher"})
    return printed.getvalue()


# ten pairs the working tree wins by far more than the revision's spread
WINS = [[run(8.0 + i / 100), run(10.0 + i / 100)] for i in range(10)]


class GainRuleTest(unittest.TestCase):
    def test_a_clear_win_over_ten_clean_pairs_is_claimable(self):
        self.assertIn("won 10/10, lost 0  gain claimable", summary(WINS, 10))

    def test_more_failed_ops_on_the_working_tree_withholds_the_claim(self):
        pairs = WINS[:9] + [[run(8.0), run(10.0, failed=1)]]
        out = summary(pairs, 10)
        self.assertIn("failed ops 0 -> 1, runs with a wrong answer 0 -> 0", out)
        self.assertNotIn("gain claimable", out)

    def test_a_wrong_answer_on_either_side_withholds_the_claim(self):
        pairs = WINS[:9] + [[run(8.0, correct=False), run(10.0)]]
        self.assertNotIn("gain claimable", summary(pairs, 10))

    def test_dropped_pairs_stay_in_the_denominator(self):
        out = summary(WINS[:9], 10)
        self.assertIn("9 of 10 pairs completed", out)
        self.assertIn("won 9/10", out)
        self.assertNotIn("gain claimable", out)


if __name__ == "__main__":
    unittest.main()
