#!/usr/bin/env python3
"""Checks of the benchmark's own pieces (no JVM needed).

Run from the repository root: python3 -m unittest clifbench/test_bench.py
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen_c19      # noqa: E402
import gen_tables   # noqa: E402


def same_files(a, b):
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False)
               for n in names)


class GeneratorTest(unittest.TestCase):

    def test_c19_same_seed_gives_byte_identical_extracts(self):
        with tempfile.TemporaryDirectory() as d:
            for run in ("a", "b"):
                gen_c19.generate(os.path.join(d, run), seed=7, scale=0.01)
            gen_c19.generate(os.path.join(d, "c"), seed=8, scale=0.01)
            self.assertEqual(len(os.listdir(os.path.join(d, "a"))), 12)
            self.assertTrue(same_files(os.path.join(d, "a"), os.path.join(d, "b")))
            self.assertFalse(same_files(os.path.join(d, "a"), os.path.join(d, "c")))

    def test_c19_extracts_carry_the_dirt_model(self):
        with tempfile.TemporaryDirectory() as d:
            gen_c19.generate(d, seed=3, scale=0.02)
            with open(os.path.join(d, "C19_LAB_LDS.txt")) as f:
                lines = f.read().splitlines()
            values = [l.split("|")[7] for l in lines[1:]]
            self.assertIn("NULL", values)
            self.assertIn("", values)
            self.assertTrue(any(v in gen_c19.MALFORMED for v in values))
            self.assertLess(len(set(lines)), len(lines))   # duplicate rows

    def test_tables_same_seed_gives_byte_identical_parquet(self):
        with tempfile.TemporaryDirectory() as d:
            for run in ("a", "b"):
                gen_tables.generate(os.path.join(d, run), seed=7, sf=0.001)
            gen_tables.generate(os.path.join(d, "c"), seed=8, sf=0.001)
            self.assertEqual(len(os.listdir(os.path.join(d, "a"))), 10)
            self.assertTrue(same_files(os.path.join(d, "a"), os.path.join(d, "b")))
            self.assertFalse(same_files(os.path.join(d, "a"), os.path.join(d, "c")))

    def test_tables_events_ts_is_nanosecond(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen_tables.generate(d, seed=7, sf=0.001)
            ts = pq.read_schema(os.path.join(d, "events.parquet")).field("ts").type
            self.assertEqual(ts, pa.timestamp("ns"))


if __name__ == "__main__":
    unittest.main()
