"""Tests of the run-summary statistics: python3 -m unittest discover kgbench"""
import json
import os
import tempfile
import unittest

import compare


class StatsTest(unittest.TestCase):
    def test_quartiles_and_spread(self):
        xs = list(range(1, 11))
        self.assertEqual(compare.quartiles(xs), [2.75, 5.5, 8.25])
        self.assertAlmostEqual(compare.spread(xs), (8.25 - 2.75) / 5.5)
        self.assertEqual(compare.quartiles([7, 1, 9, 3, 5, 11]), [2.5, 6.0, 9.5])

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(compare.tail(list(range(10))))
        self.assertEqual(compare.tail(list(range(1, 12))), (9, 1, 10, 11))
        self.assertEqual(compare.tail(list(range(1, 31))), (66, 20, 10, 30))
        self.assertEqual(compare.tail(list(range(1, 75))), (86, 64, 10, 74))

    def test_load_reads_last_line_per_run(self):
        with tempfile.TemporaryDirectory() as d:
            for i, v in enumerate([1.0, 3.0]):
                with open(os.path.join(d, "r%d.out" % i), "w") as f:
                    f.write('detail {"workload": "w"}\n')
                    f.write(json.dumps({"correct": True, "attempted": 1, "failed": 0,
                                        "metrics": {"m": {"value": v, "unit": "s"}}}) + "\n")
            self.assertEqual(compare.load(os.path.join(d, "*.out")), {("w", "m"): [1.0, 3.0]})


if __name__ == "__main__":
    unittest.main()
