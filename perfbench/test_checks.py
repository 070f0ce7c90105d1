"""Negative control: each output check passes on a right output and fails once
one row or one cell of it is changed.

    python3 perfbench/test_checks.py
"""
import os
import sys
import tempfile
import unittest
import zlib

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


class SuiteFamilies(unittest.TestCase):
    def test_every_family_has_a_query(self):
        self.assertEqual({fam for _, fam in run.suite()}, set(run.FAMILIES))


class OracleCheck(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        inputs.write_tables(self.dir, seed=3)
        self.con = checks.connect(self.dir)
        self.sql = ("SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q "
                    "FROM lineitem GROUP BY l_returnflag")

    def test_oracle_result_passes(self):
        actual = self.con.sql(self.sql).df().sample(frac=1.0, random_state=1)
        self.assertIsNone(checks.compare(self.con.sql(self.sql).df(), actual))

    def test_changed_row_fails(self):
        actual = self.con.sql(self.sql).df()
        actual.loc[1, "q"] += 1.0
        self.assertIn("values differ", checks.compare(self.con.sql(self.sql).df(), actual))

    def test_missing_row_fails(self):
        actual = self.con.sql(self.sql).df().iloc[1:]
        self.assertIn("rows", checks.compare(self.con.sql(self.sql).df(), actual))

    def test_cache_returns_the_same_result(self):
        cache = tempfile.mkdtemp()
        first = checks.expected(self.con, self.dir, self.sql, checks.data_digest(self.dir), cache)
        again = checks.expected(self.con, self.dir, self.sql, checks.data_digest(self.dir), cache)
        self.assertIsNone(checks.compare(first, again))
        self.assertEqual(len(os.listdir(cache)), 1)


class PropertyChecks(unittest.TestCase):
    def rf(self):
        return pd.DataFrame({"l_returnflag": ["A", "N", "R"], "n": [40, 30, 30],
                             "mean_pred": [50.1, 49.8, 50.3], "n_negative": [0, 0, 0]})

    def test_rf_passes(self):
        self.assertIsNone(checks.rf_train_predict(self.rf(), 100))

    def test_rf_negative_prediction_fails(self):
        df = self.rf()
        df.loc[2, "n_negative"] = 1
        self.assertIsNotNone(checks.rf_train_predict(df, 100))

    def test_rf_lost_row_fails(self):
        df = self.rf()
        df.loc[0, "n"] = 39
        self.assertIsNotNone(checks.rf_train_predict(df, 100))

    def scores(self):
        return pd.DataFrame({"model": ["RF", "RF", "RZC", "RZC"], "agg": ["10min", "60min"] * 2,
                             "phase": ["solid"] * 4, "n": [90, 5, 90, 5],
                             "corr": [0.8, 0.9, 0.7, 0.6], "stde": [1.0, 2.0, 1.5, 2.5],
                             "mae": [1.0, 1.2, 1.1, 1.3], "scatter_db": [1.0] * 4, "ed": [0.5] * 4})

    def test_intercomparison_passes(self):
        self.assertIsNone(checks.intercomparison(self.scores(), 90))

    def test_intercomparison_nan_score_fails(self):
        df = self.scores()
        df.loc[1, "mae"] = np.nan
        self.assertIsNotNone(checks.intercomparison(df, 90))

    def test_intercomparison_lost_estimate_fails(self):
        df = self.scores()
        df.loc[2, "n"] = 89
        self.assertIsNotNone(checks.intercomparison(df, 90))


class ProductCheck(unittest.TestCase):
    """Products built the way the program writes them: DN bytes of the GIF and
    an HDF5-like container whose data are 64-row zlib chunks."""

    @classmethod
    def setUpClass(cls):
        lut = inputs.lut()
        vols = {r: inputs.volume(5, 2, r) for r in "ADLP"}
        cls.grid, cls.unsure = checks.product(lut, vols)

    def files(self, grid, quality="ADLP-"):
        dn = checks.encode_dn(grid)
        data = np.where(np.isnan(grid), np.nan, np.round(grid * 100) / 100).astype("<f4")
        chunks = b"".join(zlib.compress(data[i:i + 64].tobytes()) for i in range(0, inputs.NX, 64))
        h5 = b"\x89HDF\r\n\x1a\n" + b"\x00" * 64 + quality.encode() + b"\x00" * 8 + chunks
        return dn, h5

    def test_right_product_passes(self):
        dn, h5 = self.files(self.grid)
        self.assertIsNone(checks.check_product(self.grid, self.unsure, dn, h5, "ADLP-"))

    def cell(self):
        return tuple(np.argwhere(~self.unsure & (self.grid > 1.0))[0])

    def test_changed_gif_cell_fails(self):
        dn, h5 = self.files(self.grid)
        dn[self.cell()] += 3
        self.assertIn("GIF", checks.check_product(self.grid, self.unsure, dn, h5, "ADLP-"))

    def test_changed_hdf5_cell_fails(self):
        g = self.grid.copy()
        g[self.cell()] += 0.05
        _, h5 = self.files(g)
        dn, _ = self.files(self.grid)
        self.assertIn("HDF5", checks.check_product(self.grid, self.unsure, dn, h5, "ADLP-"))

    def test_missing_quality_flag_fails(self):
        dn, h5 = self.files(self.grid, quality="ADLPW")
        self.assertIn("quality", checks.check_product(self.grid, self.unsure, dn, h5, "ADLP-"))


if __name__ == "__main__":
    unittest.main()
