import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import cmapss_gen  # noqa: E402


class Generator(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def gen(self, name, seed, units=3, datasets=2):
        d = os.path.join(self.tmp.name, name)
        return d, cmapss_gen.generate(d, seed, units, datasets)

    def test_same_seed_gives_identical_bytes(self):
        a, _ = self.gen("a", 5)
        b, _ = self.gen("b", 5)
        names = sorted(os.listdir(a))
        self.assertEqual(names, sorted(os.listdir(b)))
        _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_gives_other_data(self):
        a, _ = self.gen("a", 5)
        b, _ = self.gen("b", 6)
        self.assertFalse(filecmp.cmp(os.path.join(a, "train_FD001.txt"),
                                     os.path.join(b, "train_FD001.txt"),
                                     shallow=False))

    def test_layout_and_manifest(self):
        d, m = self.gen("a", 9, units=4, datasets=3)
        self.assertEqual(sorted(m["rows"]), ["FD001", "FD002", "FD003"])
        for ds, lengths in m["unit_lengths"].items():
            self.assertEqual(len(lengths), 4)
            self.assertTrue(all(cmapss_gen.MIN_CYCLES <= n <= cmapss_gen.MAX_CYCLES
                                for n in lengths))
            with open(os.path.join(d, f"train_{ds}.txt")) as f:
                rows = [l.split() for l in f]
            self.assertEqual(len(rows), m["rows"][ds])
            self.assertEqual(len(rows), sum(lengths))
            self.assertTrue(all(len(r) == 26 for r in rows))
            # Unit u has cycles 1..len(u), in order.
            for u, n in enumerate(lengths, start=1):
                cycles = [int(r[1]) for r in rows if int(r[0]) == u]
                self.assertEqual(cycles, list(range(1, n + 1)))

    def test_planted_constant_sensors(self):
        d, m = self.gen("a", 3)
        want = [f"sensor{i}" for i in range(1, 22)
                if i not in (1, 5, 10, 16, 18, 19)]
        self.assertEqual(m["variable_sensors"], want)
        self.assertEqual(len(want), 15)
        for ds in m["rows"]:
            with open(os.path.join(d, f"train_{ds}.txt")) as f:
                rows = [l.split() for l in f]
            for i in range(1, 22):
                distinct = {r[4 + i] for r in rows}
                if f"sensor{i}" in want:
                    self.assertGreater(len(distinct), 1, f"sensor{i}")
                else:
                    self.assertEqual(len(distinct), 1, f"sensor{i}")


if __name__ == "__main__":
    unittest.main()
