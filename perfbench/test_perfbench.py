"""The benchmark's own tests:  python3 -m unittest discover -s perfbench"""
import filecmp
import hashlib
import os
import tempfile
import unittest

import pandas as pd

import duels_gen
import run


class DuelsGeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            duels_gen.generate(7, a, challengers=500)
            duels_gen.generate(7, b, challengers=500)
            names = sorted(os.listdir(a))
            self.assertEqual(names, sorted(os.listdir(b)))
            self.assertEqual(len(names), duels_gen.PARTS)
            match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(duels_gen.lines(7, 500), duels_gen.lines(8, 500))

    def test_reference_shape(self):
        rows = [l.rstrip("\n").split("\t") for l in duels_gen.lines(3, 2000)]
        self.assertTrue(all(len(r) == 4 and r[0] != r[1] for r in rows))
        per_challenger = len(rows) / len({r[0] for r in rows})
        self.assertTrue(4 <= per_challenger <= 6, per_challenger)


class CanonTest(unittest.TestCase):
    """The output check's hash, tools/localverify.py's canon()."""
    canon = staticmethod(run.oracle_canon())
    FRAME = {"b": [2.0, None, 1.23456], "a": ["x", "y", None], "c": [3, 1, 2]}

    def test_known_frame_hash_is_stable(self):
        sha, rows = self.canon(pd.DataFrame(self.FRAME))
        self.assertEqual(rows, 3)
        # columns a, b, c; floats to 4 places; None/NaN as NULL; rows sorted
        text = "\n".join(sorted(["x\t2.0\t3", "y\tNULL\t1", "NULL\t1.2346\t2"]))
        self.assertEqual(sha, hashlib.sha256(text.encode()).hexdigest())
        self.assertEqual(sha, "4bcc1244dbc9b4d3bd64ce5dea482e14982428229fbdab7a9342e60f77a7b4a6")

    def test_row_and_column_order_do_not_matter(self):
        df = pd.DataFrame(self.FRAME)
        shuffled = df.iloc[[2, 0, 1]][["c", "b", "a"]]
        self.assertEqual(self.canon(df), self.canon(shuffled))
        self.assertEqual(run.schema(df), run.schema(shuffled))


if __name__ == "__main__":
    unittest.main()
