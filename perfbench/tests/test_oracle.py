import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402


class Compare(unittest.TestCase):
    def test_order_of_rows_and_columns_is_ignored(self):
        self.assertIsNone(oracle.compare(
            ["b", "a"], [(2, "x"), (1, "y")],
            ["a", "b"], [("y", 1), ("x", 2)]))

    def test_floats_compare_to_nine_places_and_signed_zero(self):
        self.assertIsNone(oracle.compare(
            ["v"], [(0.1 + 0.2,), (-0.0,)], ["v"], [(0.3,), (0.0,)]))
        self.assertIsNotNone(oracle.compare(
            ["v"], [(0.300001,)], ["v"], [(0.3,)]))

    def test_differences_are_reported(self):
        self.assertIn("columns", oracle.compare(["a"], [(1,)], ["b"], [(1,)]))
        self.assertIn("rows", oracle.compare(["a"], [(1,)], ["a"], []))
        self.assertIn("row 0", oracle.compare(["a"], [(1,)], ["a"], [(2,)]))

    def test_nulls_sort_apart_from_values(self):
        self.assertIsNone(oracle.compare(
            ["a"], [(None,), (1,)], ["a"], [(1,), (None,)]))


class Cmapss(unittest.TestCase):
    def test_manifest_mismatches_fail(self):
        gen = {"rows": {"FD001": 10}, "variable_sensors": ["sensor2"]}
        out = oracle.check_cmapss(
            gen, {"rows": {"FD001": 9}, "sensors": ["sensor2", "sensor3"],
                  "flow_ok": False}, "/nonexistent")
        self.assertTrue(all(out.values()), out)


if __name__ == "__main__":
    unittest.main()
